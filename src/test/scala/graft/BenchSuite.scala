package graft

import graft.queries.Registry
import org.scalatest.funsuite.AnyFunSuite

/** Bench's timed lists, checked without a session: every registered query
  * is timed, under the headline key, the secondary key or both.
  */
class BenchSuite extends AnyFunSuite {

  test("headline and secondary together time exactly the registered queries") {
    val registered = Registry.entries.map(_.name)
    val unregistered = Bench.headline.filterNot(registered.contains)
    assert(unregistered.isEmpty, s"headline names not registered: $unregistered")
    assert((Bench.headline ++ Bench.secondary).toSet == registered.toSet)
    assert(Bench.secondary.distinct == Bench.secondary, "secondary repeats a name")
  }
}
