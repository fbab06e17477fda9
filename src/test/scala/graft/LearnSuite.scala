package graft

import org.apache.spark.sql.functions._
import graft.queries.Registry

/** Training/threshold-table family (q233 perceptron, q234 PR curve): both
  * queries are replayed BRUTE-FORCE on collected fixture rows — the
  * distributed aggregation must equal a sequential reference
  * implementation bit-for-bit (everything is integer-exact, so there is
  * no tolerance anywhere).
  */
class LearnSuite extends SparkTestBase {

  test("q233 perceptron: 6-round trajectory equals a sequential replay; error collapses") {
    val rows = Registry.byName("q233_perceptron").q(spark, sf).collect()
    assert(rows.length == 6)
    val feats = Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("t"), col("n_chars"))
      .select(size(col("t")).cast("long"),
        size(array_distinct(col("t"))).cast("long"),
        expr("n_chars div 10"))
      .collect()
      .map(r => Array(1L, r.getLong(0), r.getLong(1), r.getLong(2)))
    val ys = feats.map(x => if ((x(1) - x(2)) * 5 > x(1)) 1L else -1L)
    val w = Array(0L, 0L, 0L, 0L)
    for (k <- 1 to 6) {
      val mis = feats.indices.filter { i =>
        ys(i) * feats(i).zip(w).map { case (a, b) => a * b }.sum <= 0
      }
      val r = rows(k - 1)
      assert(r.getLong(0) == k.toLong)
      assert(r.getLong(1) == mis.length.toLong,
        s"round $k misclassified count diverges from the sequential replay")
      for (i <- mis; j <- 0 until 4) w(j) += ys(i) * feats(i)(j)
      assert((2 to 5).map(r.getLong).toArray.sameElements(w),
        s"round $k post-update weights diverge from the sequential replay")
    }
    // round 1 is all-misclassified under w=0; training must then collapse
    // the error (the label is a linear threshold of the features, so the
    // perceptron is learning a realizable concept)
    assert(rows.head.getLong(1) == feats.length.toLong)
    assert(rows.last.getLong(1) * 5 < rows.head.getLong(1),
      "6 rounds must cut the misclassification count at least 5x")
    assert(rows.sliding(2).forall(p => p(1).getLong(1) <= p(0).getLong(1)),
      "batch-perceptron error must be non-increasing on this fixture")
  }

  test("q234 PR curve: every decile row equals a brute threshold sweep") {
    val rows = Registry.byName("q234_pr_curve").q(spark, sf).collect()
    assert(rows.length == 10)
    val sl = graft.operators.CorpusStats.scoredLabeledDocs(spark, sf)
      .select(col("score"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val n = sl.length.toLong
    val np = sl.count(_._2).toLong
    for (r <- rows) {
      val k = r.getLong(0)
      // threshold = max score whose flagged set reaches the k/10 budget
      val thr = sl.map(_._1).distinct
        .filter(v => sl.count(_._1 >= v) * 10 >= k * n).max
      val flagged = sl.filter(_._1 >= thr)
      val tp = flagged.count(_._2).toLong
      assert(r.getLong(1) == thr, s"decile $k threshold")
      assert(r.getLong(2) == flagged.length.toLong, s"decile $k n_flagged")
      assert(r.getLong(3) == tp, s"decile $k tp")
      assert(r.getLong(4) == tp * 1000000L / flagged.length, s"decile $k precision")
      assert(r.getLong(5) == tp * 1000000L / np, s"decile $k recall")
    }
    assert(rows.last.getLong(5) == 1000000L, "decile 10 flags everything: recall 1")
    assert(rows.map(_.getLong(1)).sliding(2).forall(p => p(1) <= p(0)),
      "thresholds must be non-increasing in the flagging budget")
  }

  test("q236 NDCG: relevance and ideal ranking tie to brute set intersections") {
    val rows = Registry.byName("q236_ndcg").q(spark, sf).collect()
    val tk = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("filter(split(text, ' '), t -> t != '')"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val queries = tk.filter(_._1 < 8)
      .map { case (q, t) => (q, t.take(4).distinct.toSet) }
    for (r <- rows) {
      val q = r.getLong(0)
      val qt = queries.find(_._1 == q).get._2
      val rels = tk.filter(_._1 != q)
        .map { case (d, t) => (d, t.toSet.intersect(qt).size.toLong) }
        .filter(_._2 > 0)
      assert(r.getLong(1) == rels.length.toLong, s"q$q n_rel brute mismatch")
      val idealTop = rels.sortBy { case (d, rel) => (-rel, d) }.take(10)
      val idcg = idealTop.zipWithIndex
        .map { case ((_, rel), i) => rel * (2520L / (i + 1)) }.sum
      assert(r.getLong(3) == idcg, s"q$q idcg brute mismatch")
      assert(r.getLong(2) <= r.getLong(3), "DCG cannot exceed IDCG")
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(3))
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000L)
    }
  }

  test("q240 MRR/MAP: per-query RR and AP tie to a sequential ranked replay") {
    val rows = Registry.byName("q240_mrr_map").q(spark, sf).collect()
    assert(rows.nonEmpty)
    // replay the metric assembly from the SAME scaffold (BM25 scoring is
    // already pinned by q145/q236; under test here is the binary-relevance
    // cumulative-hits arithmetic)
    val parts = graft.operators.TextOps.retrievalParts(spark, sf).localCheckpoint()
    val relM = parts.groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("rel")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2) >= 2)).toMap
    val top = graft.operators.TextOps.topPool(
      graft.operators.TextOps.scoreMicros(parts, graft.operators.TextOps.bm25Contrib), 10)
      .select(col("q_id"), col("doc_id"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    for (r <- rows) {
      val q = r.getLong(0)
      val ranked = top.filter(_._1 == q).sortBy(_._3)
        .map { case (_, d2, _) => relM((q, d2)) }
      val nRel = relM.count { case ((qq, _), b) => qq == q && b }.toLong
      assert(r.getLong(1) == nRel, s"q$q n_rel")
      val firstIdx = ranked.indexWhere(identity)
      val firstRank = if (firstIdx < 0) 0L else firstIdx + 1L
      assert(r.getLong(2) == firstRank, s"q$q first_rank")
      assert(r.getLong(3) == (if (firstRank == 0) 0L else 1000000L / firstRank))
      assert(r.getLong(4) == ranked.count(identity).toLong, s"q$q hits10")
      var hits = 0L
      var ap2520 = 0L
      for ((b, i) <- ranked.zipWithIndex if b) {
        hits += 1; ap2520 += hits * (2520L / (i + 1))
      }
      val denom = 2520L * math.max(math.min(nRel, 10L), 1L)
      assert(r.getLong(5) == ap2520 * 1000000L / denom, s"q$q ap_ppm")
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 1000000L)
    }
  }

  test("q247 isotonic fit: exact minimax replay, monotone, and stack-PAVA agreement") {
    val rows = Registry.byName("q247_isotonic_calibration").q(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 32)
    val bins = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // raw_ppm per bin
    for (r <- rows)
      assert(r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1))
    // minimax replay on the dense-ranked present bins (the documented
    // distributed formulation, ppm-quantized segment means)
    val nb = bins.map(_._2); val pb = bins.map(_._3)
    val m = bins.length
    def seg(i: Int, j: Int): Long = {
      val c = (i to j).map(nb).sum; val p = (i to j).map(pb).sum
      p * 1000000L / math.max(c, 1L)
    }
    val fit = (0 until m).map(k =>
      (0 to k).map(i => (k until m).map(j => seg(i, j)).min).max)
    for ((r, k) <- rows.zipWithIndex)
      assert(r.getLong(4) == fit(k), s"bin ${r.getLong(0)} fitted minimax")
    // monotone nondecreasing — the property that makes it a calibration map
    assert(fit.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)),
      "isotonic fit must be nondecreasing")
    // classical sequential stack-PAVA on exact rationals agrees to within
    // the ppm quantization of the segment means
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for (i <- 0 until m) {
      stack += ((nb(i), pb(i)))
      while (stack.length >= 2 && {
        val (c2, p2) = stack(stack.length - 1)
        val (c1, p1) = stack(stack.length - 2)
        p1 * c2 >= p2 * c1 // exact rational violation test
      }) {
        val (c2, p2) = stack.remove(stack.length - 1)
        val (c1, p1) = stack.remove(stack.length - 1)
        stack += ((c1 + c2, p1 + p2))
      }
    }
    val pava = stack.flatMap { case (c, p) =>
      // weighted by member count: expand back to per-bin fitted values
      Seq.fill(1)((c, p))
    }
    // expand pooled blocks to per-bin values
    val pavaPerBin = scala.collection.mutable.ArrayBuffer.empty[Long]
    var idx = 0
    for ((c, p) <- pava) {
      var covered = 0L
      while (covered < c) { covered += nb(idx); pavaPerBin += p * 1000000L / c; idx += 1 }
      assert(covered == c, "PAVA blocks must align to bin boundaries")
    }
    for (k <- 0 until m)
      assert(math.abs(fit(k) - pavaPerBin(k)) <= 2L,
        s"minimax and stack-PAVA disagree at bin $k: ${fit(k)} vs ${pavaPerBin(k)}")
  }

  test("q260 GMM-EM replays from a JVM-side quantized-EM recurrence") {
    val df = Registry.byName("q260_gmm_em").q(spark, sf)
    val rows = df.collect()
    assert(rows.length == 1)
    val scans = flattenPlan(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"q260 expected 1 parquet scan, saw $scans")
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // fabrication replay: 12 u16 Irwin-Hall lanes, seeded component split
    val bins = scala.collection.mutable.Map.empty[Long, Long]
    for (r <- Tables.events(spark, sf).select(col("event_id")).collect()) {
      val id = r.getLong(0)
      val comp2 = java.lang.Long.parseLong(
        md5hex(s"gmm:v1:$id").take(8), 16) % 4 == 0
      val h1 = md5hex(s"gmma:v1:$id"); val h2 = md5hex(s"gmmb:v1:$id")
      val z = (0 until 8).map(j =>
        java.lang.Long.parseLong(h1.substring(4 * j, 4 * j + 4), 16)).sum +
        (0 until 4).map(j =>
          java.lang.Long.parseLong(h2.substring(4 * j, 4 * j + 4), 16)).sum -
        393216L
      val vm = if (comp2) 420000L + (45000L * z) / 65536L
               else 200000L + (30000L * z) / 65536L
      bins(vm / 25000L) = bins.getOrElse(vm / 25000L, 0L) + 1L
    }
    val hist = bins.toSeq.sortBy(_._1)
    val n = hist.map(_._2).sum
    val s1 = hist.map { case (b, c) => c * (2 * b + 1) }.sum
    val s2 = hist.map { case (b, c) => c * (2 * b + 1) * (2 * b + 1) }.sum
    var cum = 0L; var q1b = Long.MinValue; var q3b = Long.MinValue
    for ((b, c) <- hist) {
      cum += c
      if (q1b == Long.MinValue && cum * 4 >= n) q1b = b
      if (q3b == Long.MinValue && cum * 4 >= 3 * n) q3b = b
    }
    // EM replay mirroring the engine's exact expression shapes
    var m1 = q1b.toDouble + 0.5; var m2 = q3b.toDouble + 0.5
    val v0 = math.max((n.toDouble * s2.toDouble - s1.toDouble * s1.toDouble) /
      (16.0 * n.toDouble * n.toDouble), 0.01)
    var v1 = v0; var v2 = v0; var w1 = 0.5; var w2 = 0.5
    def roundHU(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    for (_ <- 1 to 10) {
      var n1 = 0L; var sx1 = 0L; var sxx1 = 0L
      var n2 = 0L; var sx2 = 0L; var sxx2 = 0L
      for ((b, c) <- hist) {
        val x = b.toDouble + 0.5
        val e1 = w1 * math.exp(-((x - m1) * (x - m1)) / (2.0 * v1)) / math.sqrt(v1)
        val e2 = w2 * math.exp(-((x - m2) * (x - m2)) / (2.0 * v2)) / math.sqrt(v2)
        val r2p = if (e1 + e2 > 0.0) roundHU(1000000.0 * e2 / (e1 + e2))
          else if (math.abs(x - m2) < math.abs(x - m1)) 1000000L else 0L
        val r1p = 1000000L - r2p
        val x2 = 2 * b + 1
        n1 += r1p * c; sx1 += r1p * c * x2; sxx1 += r1p * c * x2 * x2
        n2 += r2p * c; sx2 += r2p * c * x2; sxx2 += r2p * c * x2 * x2
      }
      m1 = sx1.toDouble / (2.0 * math.max(n1, 1L).toDouble)
      v1 = math.max(sxx1.toDouble / (4.0 * math.max(n1, 1L).toDouble) - m1 * m1, 0.01)
      m2 = sx2.toDouble / (2.0 * math.max(n2, 1L).toDouble)
      v2 = math.max(sxx2.toDouble / (4.0 * math.max(n2, 1L).toDouble) - m2 * m2, 0.01)
      w1 = n1.toDouble / (n1 + n2).toDouble
      w2 = n2.toDouble / (n1 + n2).toDouble
    }
    def rnd4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val r = rows.head
    assert(r.getLong(0) == n, "n_samples")
    assert(r.getLong(1) == roundHU(w2 * 1000000.0), "w2_ppm")
    assert(r.getDouble(2) == rnd4(25.0 * m1), "mu1_hat")
    assert(r.getDouble(3) == rnd4(25.0 * math.sqrt(v1)), "sd1_hat")
    assert(r.getDouble(4) == rnd4(25.0 * m2), "mu2_hat")
    assert(r.getDouble(5) == rnd4(25.0 * math.sqrt(v2)), "sd2_hat")
    // recovery invariants: EM must pull the init toward the planted truth
    assert(r.getBoolean(8), "the planted mixture must be recovered")
    assert(math.abs(r.getDouble(2) - 200.0) < 5.0 &&
      math.abs(r.getDouble(4) - 420.0) < 10.0)
    assert(r.getLong(1) > 200000L && r.getLong(1) < 300000L,
      "w2 near the planted 0.25")
  }

  test("q268 CV perceptron replays from a JVM-side 5-model training loop") {
    val rows = Registry.byName("q268_cv_perceptron").q(spark, sf).collect()
    assert(rows.length == 5)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"), col("n_chars"))
      .select(col("doc_id"), size(col("t")).cast("long"),
        size(array_distinct(col("t"))).cast("long"),
        expr("n_chars div 10"))
      .collect().map { r =>
        val id = r.getLong(0)
        val fold = java.lang.Long.parseLong(
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"cv:v1:$id".getBytes("UTF-8"))
            .take(4).map("%02x".format(_)).mkString, 16) % 5
        val x = Array(1L, r.getLong(1), r.getLong(2), r.getLong(3))
        val y = if ((x(1) - x(2)) * 5 > x(1)) 1L else -1L
        (fold, x, y)
      }
    val w = Array.fill(5)(Array.fill(4)(0L))
    for (_ <- 1 to 6) {
      val d = Array.fill(5)(Array.fill(4)(0L))
      for ((fold, x, y) <- docs; m <- 0 until 5 if m != fold) {
        val margin = y * (0 until 4).map(j => w(m)(j) * x(j)).sum
        if (margin <= 0) for (j <- 0 until 4) d(m)(j) += y * x(j)
      }
      for (m <- 0 until 5; j <- 0 until 4) w(m)(j) += d(m)(j)
    }
    val errs = (0 until 5).map { m =>
      val test = docs.filter(_._1 == m)
      val mis = test.count { case (_, x, y) =>
        y * (0 until 4).map(j => w(m)(j) * x(j)).sum <= 0 }
      (test.size.toLong, mis.toLong)
    }
    val ppm = errs.map { case (n, mis) => mis * 1000000L / n }
    for ((r, m) <- rows.zip(0 until 5)) {
      assert(r.getLong(0) == m)
      assert(r.getLong(1) == docs.length - errs(m)._1, s"fold $m n_train")
      assert(r.getLong(2) == errs(m)._1 && r.getLong(3) == errs(m)._2,
        s"fold $m held-out counts")
      assert(r.getLong(4) == ppm(m), s"fold $m err_ppm")
      assert(r.getLong(5) == ppm.sum / 5 && r.getLong(6) == ppm.max)
    }
    // generalization invariants: every fold under 15%, spread under 5% —
    // the models agree with each other (no fold-specific overfit)
    assert(ppm.forall(_ < 150000L), s"held-out error too high: $ppm")
    assert(ppm.max - ppm.min < 50000L, s"fold spread too wide: $ppm")
  }

  test("learn plans: no cartesian products; model state stays 1-row broadcast") {
    for (name <- Seq("q233_perceptron", "q234_pr_curve", "q240_mrr_map")) {
      val df = Registry.byName(name).q(spark, sf)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name must not plan a cartesian product:\n$plan")
      val scans = flattenPlan(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      assert(scans == 0, s"$name re-scans parquet $scans times past the barrier")
    }
  }
}
