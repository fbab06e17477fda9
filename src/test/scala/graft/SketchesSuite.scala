package graft

import org.apache.spark.sql.functions._
import graft.queries.Registry

/** Cardinality-sketch family (q318 HyperLogLog): the register table, the
  * exact integer collapse, and the estimate are replayed JVM-side from
  * first principles (MessageDigest md5 → lanes → trailing-zero rho →
  * per-bucket max → S/V/digest → integer estimate) and must match the
  * distributed result bit-for-bit.
  */
class SketchesSuite extends SparkTestBase {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("q318 HLL: registers, collapse, and estimate replay bit-exactly") {
    // SCALE PIN (r18 verdict #4): the per-row register feed must be
    // recomputed per consumer, never checkpointed — a localCheckpoint
    // there materializes a corpus-sized intermediate (LogicalRDD) to
    // executor-local disk to save a stateless codegen'd projection.
    val plan = Registry.byName("q318_hll_distinct").q(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("LogicalRDD"),
      "q318 plan must not checkpoint the per-row feed")
    val r = Registry.byName("q318_hll_distinct").q(spark, sf).collect().head
    val keys = Tables.lineitem(spark, sf)
      .select(expr("CAST(l_orderkey * 10 + l_linenumber AS STRING)"))
      .collect().map(_.getString(0))
    val reg = new Array[Long](1024)
    keys.foreach { k =>
      val h = md5hex("hll:v1:" + k)
      val u0 = java.lang.Long.parseLong(h.substring(0, 8), 16)
      val u1 = java.lang.Long.parseLong(h.substring(8, 16), 16)
      val bucket = (u0 % 1024L).toInt
      val rho = math.min(java.lang.Long.numberOfTrailingZeros(u1) + 1L, 32L)
      if (rho > reg(bucket)) reg(bucket) = rho
    }
    val present = reg.count(_ > 0L)
    val s0 = reg.zipWithIndex.collect { case (m, _) if m > 0L => 1L << (32 - m) }
      .sum + (1024L - present) * 4294967296L
    val v = 1024L - present
    val dg = reg.zipWithIndex.collect {
      case (m, b) if m > 0L => m * (b + 7L)
    }.sum % 2147483647L
    val nExact = keys.distinct.length.toLong
    val est = (4503599627370496L / s0) * 720541L / 1000000L
    assert(r.getLong(0) == nExact, "n_exact")
    assert(r.getLong(1) == est, "hll_est")
    assert(r.getLong(2) == math.abs(est - nExact) * 1000000L / nExact,
      "err_ppm")
    assert(r.getLong(3) == v, "v_empty")
    assert(r.getLong(4) == dg, "reg_digest")
    assert(r.getLong(5) == 0L, "raw regime at every SF")
    assert(r.getLong(6) == 1L, "estimate within the 10% self-check bound")
    assert(r.getLong(7) == 1L, "shard-merged sketch == direct sketch")
  }

  test("q322 streaming HLL emits row-for-row the batch q318 report") {
    val batch = Registry.byName("q318_hll_distinct").q(spark, sf)
      .collect().map(_.toString)
    val stream = Registry.byName("q322_stream_hll").q(spark, sf)
      .collect().map(_.toString)
    assert(batch.sameElements(stream))
  }

  test("q318 HLL: register merge is associative under any sharding") {
    // Independent property: registers built per arbitrary shard then
    // max-merged equal the direct registers — on a different shard count
    // (3) than the query's (4), so the property, not the instance, holds.
    val rows = Tables.lineitem(spark, sf)
      .select(expr("CAST(l_orderkey * 10 + l_linenumber AS STRING)").as("k"),
        col("l_partkey"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def registers(ks: Array[String]): Array[Long] = {
      val reg = new Array[Long](1024)
      ks.foreach { k =>
        val h = md5hex("hll:v1:" + k)
        val b = (java.lang.Long.parseLong(h.substring(0, 8), 16) % 1024L).toInt
        val rho = math.min(
          java.lang.Long.numberOfTrailingZeros(
            java.lang.Long.parseLong(h.substring(8, 16), 16)) + 1L, 32L)
        if (rho > reg(b)) reg(b) = rho
      }
      reg
    }
    val direct = registers(rows.map(_._1))
    val merged = rows.groupBy(_._2 % 3).values.map(g => registers(g.map(_._1)))
      .foldLeft(new Array[Long](1024)) { (a, b) =>
        a.zip(b).map { case (x, y) => math.max(x, y) }
      }
    assert(direct.sameElements(merged))
  }
}
