package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Entry
import graft.queries.OracleSql._
import graft.{Tables => T}

/** Cardinality sketches — the distinct-count family beside the frequency
  * sketch (functions/MisraGries.scala) and the NDV estimator (q265):
  * a full integer-exact HyperLogLog (Flajolet et al. 2007) built from
  * first principles on the house seeded-md5 lanes, so the registers, the
  * harmonic collapse, and the estimate are bit-identical on any engine.
  *
  * Why integer-exact: the standard HLL collapse Σ 2^(−M_j) is float
  * summation whose order differs per partitioning. Here every term is the
  * exact integer 2^(32−M_j) (register values are 1..32 by construction),
  * so S = Σ terms + V·2^32 is an exact BIGINT (≤ 1024·2^32 = 2^42), and
  * the estimate floor(α_ppm · (2^52 div S) / 10^6) is pure integer
  * arithmetic — the DuckDB oracle replays it verbatim.
  *
  * Mergeability — the property that makes HLL THE 100 TB distinct-count
  * operator — is proven in-query: rows are sharded by a data attribute
  * (l_suppkey % 4, deliberately independent of the register bucket lane),
  * per-shard registers are max-merged, and the merged sketch's (S, V,
  * digest) must equal the direct sketch's. At 1000 executors this is the
  * real topology: per-partition register blocks (1024 longs each) merge
  * associatively with NO row shuffle — only the tiny register tables move.
  *
  * Small-range honesty: raw HLL is biased for n < 2.5m; the operator
  * surfaces the standard regime decision (`needs_lc`: V>0 ∧ est<2.5m)
  * as an exact integer column instead of silently applying the float-ln
  * linear-counting correction. On this corpus the distinct-key count
  * (4.6 k at sf0.001, growing with SF) keeps every SF in the raw regime,
  * and the self-check pins |est−n|/n ≤ 10 % (observed ≤ 2.5 % at all
  * three SFs; std err 1.04/√1024 ≈ 3.3 %).
  *
  * Reference scope (JasperWoo/MapReduceCore): the reference ships no
  * sketches — this is the distinct-count job its users would write as a
  * map/reduce pair, made first-class (the StatTests.scala:23-27 posture).
  */
object Sketches {

  /** Register-bucket count m = 2^10. */
  private val HllM = 1024L

  /** floor(10^6 · 0.7213 / (1 + 1.079/1024)): the m≥128 α constant. */
  private val HllAlphaPpm = 720541L

  /** 2^52 = 2^32 · m²: numerator of the harmonic-mean collapse. */
  private val HllPow = 4503599627370496L

  /** 2^32: an empty bucket's exact term in S. */
  private val HllEmptyTerm = 4294967296L

  private val DigestP = 2147483647L

  /** Self-check bound: |est − n| / n ≤ 10 % (ppm). */
  private val HllErrBoundPpm = 100000L

  /** Per-row (shard, bucket, rho) register feed over lineitem's logical
    * key. rho = trailing-zeros(u1)+1 capped at 32 — computed exactly as
    * bit_count((u1−1) & ~u1), a geometric(1/2) variate on the 32-bit md5
    * lane (P[rho ≥ k] = 2^−(k−1), the HLL requirement; leading vs
    * trailing zeros is immaterial). Stateless and engine-free, so the
    * q316 streaming sibling reuses it verbatim.
    */
  private[graft] def hllRows(s: SparkSession, d: String): DataFrame =
    hllProject(T.lineitem(s, d))

  /** The same projection over ANY lineitem-shaped frame — including an
    * unbounded streaming one (every expression is stateless).
    */
  private[graft] def hllProject(lineitem: DataFrame): DataFrame =
    lineitem
      .select(expr("CAST(l_orderkey * 10 + l_linenumber AS STRING)").as("k"),
        col("l_suppkey"))
      .withColumn("h", md5(concat(lit("hll:v1:"), col("k"))))
      .select(col("k"),
        pmod(col("l_suppkey"), lit(4L)).as("shard"),
        expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) % 1024")
          .as("bucket"),
        expr("least(bit_count((CAST(conv(substring(h, 9, 8), 16, 10) " +
          "AS BIGINT) - 1L) & ~CAST(conv(substring(h, 9, 8), 16, 10) " +
          "AS BIGINT)) + 1L, 32L)").as("rho"))

  /** Collapse a register table (bucket, m) to the exact sketch summary
    * (s, v_empty, reg_digest) — one aggregate over ≤ 1024 rows.
    */
  private[graft] def hllCollapse(reg: DataFrame, prefix: String): DataFrame =
    reg
      .agg(count(lit(1)).as("present"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - m AS INT))"))
          .as("ssum"),
        sum(expr("m * (bucket + 7L)")).as("dgs"))
      .select(
        expr(s"ssum + ($HllM - present) * ${HllEmptyTerm}L")
          .as(s"${prefix}s"),
        expr(s"$HllM - present").as(s"${prefix}v"),
        expr(s"pmod(dgs, ${DigestP}L)").as(s"${prefix}dg"))

  /** Final single-row report from the direct sketch, the shard-merged
    * sketch, and the exact distinct count (the audit column HLL exists to
    * replace at scale). Shared by q318 (batch) and the streaming sibling.
    */
  private[graft] def hllReport(
      direct: DataFrame, merged: DataFrame, nExact: DataFrame): DataFrame =
    direct
      .crossJoin(broadcast(merged))
      .crossJoin(broadcast(nExact))
      .withColumn("hll_est",
        expr(s"(${HllPow}L div ds) * ${HllAlphaPpm}L div 1000000L"))
      .select(col("n_exact"), col("hll_est"),
        expr("abs(hll_est - n_exact) * 1000000L div greatest(n_exact, 1L)")
          .as("err_ppm"),
        col("dv").as("v_empty"), col("ddg").as("reg_digest"),
        expr(s"CAST(dv > 0L AND hll_est * 2L < 5L * $HllM AS BIGINT)")
          .as("needs_lc"),
        expr(s"CAST(abs(hll_est - n_exact) * 1000000L div " +
          s"greatest(n_exact, 1L) <= ${HllErrBoundPpm}L AS BIGINT)")
          .as("within_bound"),
        expr("CAST(ddg = mdg AND ds = ms AND dv = mv AS BIGINT)")
          .as("merge_consistent"))
      .orderBy(col("n_exact"))

  private[graft] val HllOracle: String =
    sql"""WITH k AS (SELECT CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)
       |    AS k, l_suppkey FROM lineitem),
       |h AS (SELECT k, l_suppkey % 4 AS shard,
       |    ${md5Lane("'hll:v1:' || k")}
       |      % 1024 AS bucket,
       |    least(bit_count(
       |        (${md5Lane("'hll:v1:' || k", 9)}
       |          - 1)
       |        & ~CAST(('0x' || substr(md5('hll:v1:' || k), 9, 8))
       |          AS BIGINT)) + 1, 32) AS rho
       |  FROM k),
       |reg AS (SELECT bucket, max(rho) AS m FROM h GROUP BY 1),
       |sreg AS (SELECT bucket, max(m) AS m FROM (
       |    SELECT shard, bucket, max(rho) AS m FROM h GROUP BY 1, 2)
       |  GROUP BY 1),
       |c AS (SELECT
       |    CAST(sum((1::BIGINT << CAST(32 - m AS INT)))
       |      + ($HllM - count(*)) * $HllEmptyTerm AS BIGINT) AS ds,
       |    $HllM - count(*) AS dv,
       |    CAST(sum(m * (bucket + 7)) % $DigestP AS BIGINT) AS ddg
       |  FROM reg),
       |sc AS (SELECT
       |    CAST(sum((1::BIGINT << CAST(32 - m AS INT)))
       |      + ($HllM - count(*)) * $HllEmptyTerm AS BIGINT) AS ms,
       |    $HllM - count(*) AS mv,
       |    CAST(sum(m * (bucket + 7)) % $DigestP AS BIGINT) AS mdg
       |  FROM sreg),
       |n AS (SELECT count(DISTINCT k) AS n_exact FROM k),
       |e AS (SELECT n_exact, ds, dv, ddg, ms, mv, mdg,
       |    CAST(($HllPow // ds) * $HllAlphaPpm // 1000000 AS BIGINT)
       |      AS hll_est
       |  FROM c, sc, n)
       |SELECT n_exact, hll_est,
       |  CAST(abs(hll_est - n_exact) * 1000000 // greatest(n_exact, 1)
       |    AS BIGINT) AS err_ppm,
       |  dv AS v_empty, ddg AS reg_digest,
       |  CAST(dv > 0 AND hll_est * 2 < 5 * $HllM AS BIGINT) AS needs_lc,
       |  CAST(abs(hll_est - n_exact) * 1000000 // greatest(n_exact, 1)
       |    <= $HllErrBoundPpm AS BIGINT) AS within_bound,
       |  CAST(ddg = mdg AND ds = ms AND dv = mv AS BIGINT)
       |    AS merge_consistent
       |FROM e ORDER BY n_exact"""

  val entries: Seq[Entry] = Seq(

    // q318: HYPERLOGLOG DISTINCT SKETCH — registers, shard-merge proof,
    // exact integer collapse, regime decision, 10 % self-check. Plan: one
    // map pass feeds TWO bounded aggregates (direct: 1024-row register
    // table; sharded: ≤ 4096 rows then 1024) + the exact-distinct audit
    // column; every exchange after the scan carries register rows only.
    // The per-row feed is deliberately NOT checkpointed (r18 verdict #4):
    // it is a stateless codegen'd projection, and at 100 TB recomputing
    // it per consumer is strictly cheaper than materializing a
    // corpus-sized intermediate to executor-local disk.
    Entry(
      "q318_hll_distinct",
      (s, d) => {
        val rows = hllRows(s, d)
        val direct = hllCollapse(
          rows.groupBy(col("bucket")).agg(max(col("rho")).as("m")), "d")
        val merged = hllCollapse(
          rows.groupBy(col("shard"), col("bucket"))
            .agg(max(col("rho")).as("m"))
            .groupBy(col("bucket")).agg(max(col("m")).as("m")), "m")
        val nExact = rows.agg(countDistinct(col("k")).as("n_exact"))
        hllReport(direct, merged, nExact)
      },
      Some(HllOracle))
  )
}
