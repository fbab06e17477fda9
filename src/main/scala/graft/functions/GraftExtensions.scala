package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Registers the SQL rows of [[Kernel.specs]] as SQL functions via
  * `SparkSessionExtensions` — usable from `spark.sql(...)`, `expr(...)`, and
  * `functions.call_function`. Install with
  * `SparkSession.builder.withExtensions(GraftExtensions.install)` (done by
  * [[graft.Tables.builder]]) or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.install(ext)
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e.eval() match {
    case i: Int  => i
    case l: Long => l.toInt
    case other   => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e.eval() match {
    case i: Int  => i.toLong
    case l: Long => l
    case other   => throw new IllegalArgumentException(s"$what must be a long literal, got $other")
  }

  /** Plan-time bounds of the md5 lane kernels: a misuse fails when the call
    * is planned, not with a silently clipped digest read.
    */
  private def checkArgs(name: String, args: Seq[Any]): Unit = (name, args) match {
    case ("md5_lane", Seq(pos: Int, len: Int)) =>
      require(pos >= 1 && len >= 1 && pos + len - 1 <= 32 && len <= 15,
        s"md5_lane: need 1 <= pos, 1 <= len <= 15, pos + len - 1 <= 32 " +
          s"(got pos=$pos, len=$len)")
    case ("md5_lanes", Seq(width: Int, n: Int, _)) =>
      require(width >= 1 && width <= 15 && n >= 1 && n * width <= 32,
        s"md5_lanes: need 1 <= width <= 15, n >= 1, n * width <= 32 " +
          s"(got width=$width, n=$n)")
    case _ =>
  }

  /** The call's column inputs followed by its literal arguments, each
    * evaluated now and bound as a literal of the row's declared type.
    */
  private def bind(spec: Kernel.Spec, es: Seq[Expression]): Seq[Expression] = {
    val n = spec.in.size + spec.args.size
    require(es.size == n, s"${spec.name} takes $n arguments, got ${es.size}")
    val lits = spec.args.zip(es.drop(spec.in.size)).map {
      case ((what, IntegerType), e) => Literal(intArg(e, what))
      case ((what, _), e)           => Literal(longArg(e, what))
    }
    checkArgs(spec.name, lits.map(_.value))
    es.take(spec.in.size) ++ lits
  }

  val install: SparkSessionExtensions => Unit = { ext =>
    Kernel.specs.filter(_.sql).foreach { spec =>
      ext.injectFunction(
        (FunctionIdentifier(spec.name),
         new ExpressionInfo("graft.functions", spec.name),
         (es: Seq[Expression]) => Kernel(spec.name, bind(spec, es))))
    }

    // the Rule[LogicalPlan] tier of the extension surface: collapse
    // defensively-stacked normalize_text calls at plan time (sound by
    // the kernel's suite-pinned idempotence — see the rule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.CollapseIdempotentNormalize)
  }
}
