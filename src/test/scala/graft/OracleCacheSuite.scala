package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins every registered oracle to its entries in `tools/oracle_cache`,
  * without a Spark session. `tools/check.py` keys a cached oracle result on
  * the query name, the scale-factor directory's name and sha256[:24] of the
  * oracle SQL, so a byte change in any oracle, literal or composed from
  * `graft.queries.OracleSql`, leaves its key without entries and fails the
  * first test. Editing an oracle on purpose means recomputing its entries
  * at all three scale factors (a `check.py` run writes them) and deleting
  * the old ones, which the second test finds.
  */
class OracleCacheSuite extends AnyFunSuite {

  private val cacheDir = new File("tools/oracle_cache")
  private val scaleFactors = Seq("sf0.001", "sf0.01", "sf0.1")

  private def key(sql: String): String =
    MessageDigest.getInstance("SHA-256").digest(sql.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString.take(24)

  private lazy val expected: Set[String] = (for {
    (name, sql) <- SparkEntry.oracleSql.toSeq
    sf <- scaleFactors
    ext <- Seq("json", "parquet")
  } yield s"$name.$sf.${key(sql)}.$ext").toSet

  private lazy val present: Set[String] = Option(cacheDir.list()).map(_.toSet).getOrElse(Set.empty)

  test("every registered oracle has cache entries at sf0.001, sf0.01 and sf0.1") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    val missing = (expected -- present).toSeq.sorted
    assert(missing.isEmpty,
      s"${missing.size} cache entries missing (an oracle's SQL changed?): ${missing.take(12)}")
  }

  test("every oracle cache entry belongs to a registered oracle") {
    val orphans = (present -- expected).toSeq.sorted
    assert(orphans.isEmpty, s"${orphans.size} orphaned cache entries: ${orphans.take(12)}")
  }
}
