package graft

import graft.functions.Kernel
import java.lang.reflect.Modifier
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._

/** The table behind every native kernel ([[Kernel.specs]]): each row names a
  * real static method with the declared signature, the SQL namespace holds
  * exactly the `sql = true` rows, literal-argument bounds fail at plan time,
  * and the call compiles into the whole-stage generated loop.
  */
class KernelSuite extends SparkTestBase {

  test("every Kernel.specs row resolves to a static method of its declared signature") {
    assert(Kernel.specs.map(_.name).distinct.size == Kernel.specs.size, "duplicate kernel name")
    Kernel.specs.foreach { s =>
      // the class whose static forwarders the generated code calls
      val cls = Class.forName(s.target.getName.stripSuffix("$"))
      val argClasses = (s.in ++ s.args.map(_._2)).map(t => CodeGenerator.javaClass(t))
      val m = cls.getMethod(s.method, argClasses: _*)
      assert(Modifier.isStatic(m.getModifiers), s"${s.name}: ${cls.getName}.${s.method} not static")
      val out = CodeGenerator.javaClass(s.out)
      assert(out.isAssignableFrom(m.getReturnType),
        s"${s.name}: ${s.method} returns ${m.getReturnType.getName}, declared ${out.getName}")
      assert(s.args.forall(a => Seq("int", "long").contains(CodeGenerator.javaType(a._2))),
        s"${s.name}: literal arguments must be int or long")
    }
  }

  test("SQL registers exactly the sql rows; the internal kernels stay out") {
    Kernel.specs.foreach { s =>
      assert(spark.catalog.functionExists(s.name) == s.sql,
        s"${s.name}: registered=${!s.sql}, declared sql=${s.sql}")
    }
    // the kernels whose preconditions hold only by plan shape
    assert(Kernel.specs.filterNot(_.sql).map(_.name).toSet == Set(
      "jaccard_sorted_unchecked", "intersect_count_sorted", "intersect_count_sorted_str",
      "first_agree_idx", "nearest_cid", "nearest_cids", "pq_assign", "l2sq_long",
      "l2sq_double", "dot_double"))
  }

  test("kernel calls: input types checked at analysis, null in gives null out") {
    val docs = Tables.documents(spark, sf)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      docs.selectExpr("minhash_sig(doc_id, 32, 3)"))
    assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    val r = spark.sql(
      "SELECT minhash_sig(CAST(NULL AS STRING), 4, 1), md5_lane(CAST(NULL AS STRING), 1, 8)")
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1), r.toString)
  }

  test("md5_lane / md5_lanes reject out-of-range lanes when the call is planned") {
    val docs = Tables.documents(spark, sf)
    // pos + len - 1 = 34 > 32 hex chars; width = 16 > 15 and n * width = 48 > 32
    Seq("md5_lane(text, 30, 5)" -> "md5_lane", "md5_lanes(text, 16, 3, 0)" -> "md5_lanes")
      .foreach { case (call, name) =>
        // selectExpr analyzes eagerly: no job runs before the failure
        val e = intercept[Exception](docs.selectExpr(call))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains(s"$name: need")), e.toString)
      }
    // the in-range neighbours plan and run
    assert(docs.selectExpr("md5_lane(text, 18, 15)", "md5_lanes(text, 8, 4, 0)")
      .limit(1).collect().length == 1)
  }

  test("minhash_sig over the documents parquet runs inside whole-stage codegen") {
    val df = Tables.documents(spark, sf)
      .select(call_function("minhash_sig", col("text"), lit(32), lit(3)).as("sig"))
    assert(df.collect().nonEmpty)
    val code = codegenString(df.queryExecution.executedPlan)
    assert(code.contains("graft.functions.HashKernels.minhashArray("),
      s"no direct minhashArray call in the generated code:\n$code")
  }
}
