package graft

import graft.queries.Registry
import org.apache.spark.sql.functions._

class ClusteringSuite extends SparkTestBase {

  test("q196 k-means: partition of the corpus, bounded broadcast combine, no cartesian") {
    val df = Registry.byName("q196_kmeans").q(spark, sf)
    val rows = df.collect()
    assert(rows.length == 8, "k = 8 clusters")
    assert(rows.map(_.getLong(0)).toSeq == (0L to 7L), "cluster ids 0..7")
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == n, "assignment partitions the corpus")
    rows.foreach(r => assert(r.getLong(2) >= 0L, "inertia is a sum of squares"))
    // scale pin: the only nested-loop join is the k-row centroid broadcast;
    // a CartesianProduct means the broadcast() hint was dropped
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"q196 plans a cartesian:\n$plan")
  }

  test("q196 k-means: Lloyd rounds never increase exact inertia") {
    // Lloyd monotonicity — with exact integer distances both steps
    // (re-assign to nearest, move centroid to the mean) are non-increasing
    // up to the integer truncation of the mean, which perturbs inertia by
    // at most a unit per dimension; assert non-increasing with that slack.
    def inertiaAfter(rounds: Int): Long = {
      val res = Clustering2.runRounds(spark, sf, rounds)
      res
    }
    val i1 = inertiaAfter(1)
    val i2 = inertiaAfter(2)
    val i3 = inertiaAfter(3)
    // I(a_{r+1}, c_r) ≤ I(a_r, c_r) ≤ I(a_r, μ_r) + 64N ≤ I(a_r, c_{r-1}) + 64N:
    // truncating each centroid component to the integer mean moves it < 1 µu,
    // so the exact slack bound is (dim · 1²) per point.
    val slack = 64L * Tables.embeddings(spark, sf).count()
    assert(i2 <= i1 + slack, s"round 2 increased inertia: $i1 -> $i2")
    assert(i3 <= i2 + slack, s"round 3 increased inertia: $i2 -> $i3")
  }

  test("q199 k-center: greedy invariants — non-increasing picks, radius chain") {
    val rows = Registry.byName("q199_kcenter_seed").q(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(1)).distinct.length == 8, "centers are distinct points")
    // pick t is the farthest point from the prior set, so pick distances
    // never increase, and the radius AFTER pick t is exactly the distance
    // of pick t+1 (both are max-min-dist over the same state).
    val picks = rows.drop(1).map(_.getLong(2))
    picks.sliding(2).foreach { case Array(a, b) => assert(b <= a, "pick_dist rose") }
    rows.dropRight(1).zip(rows.drop(1)).foreach { case (cur, nxt) =>
      assert(cur.getLong(3) == nxt.getLong(2),
        s"radius_after(step ${cur.getLong(0)}) != pick_dist(step ${nxt.getLong(0)})")
    }
    // final radius covers every point: no point farther than radius_after(7)
    assert(rows.last.getLong(3) <= rows.last.getLong(2))
  }

  test("q202 model serve: artifact-backed, no re-clustering, stable across calls") {
    val df = Registry.byName("q202_kmeans_publish_serve").q(spark, sf)
    val first = df.collect()
    assert(first.length == 8)
    // serving pin: ONE embeddings scan (the batch) — retraining in the
    // serve path would need the corpus again (and its own Lloyd barriers)
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }
    assert(scans.count(_.contains("embeddings")) == 1,
      s"served plan scans embeddings more than once (the batch): $scans")
    assert(scans.exists(_.contains("kmeans_model")),
      s"served plan does not read the model artifact: $scans")
    // second call: manifest exists, ensure() must serve the SAME generation
    val again = Registry.byName("q202_kmeans_publish_serve").q(spark, sf).collect()
    assert(first.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "re-serve drifted — artifact not stable")
    // batch totals partition the corpus
    assert(first.map(_.getLong(1)).sum == Tables.embeddings(spark, sf).count())
  }

  test("q203 DBSCAN: partition identity, roles disjoint, no cartesian") {
    val df = Registry.byName("q203_dbscan").q(spark, sf)
    val rows = df.collect()
    val noise = rows.filter(_.getLong(0) == -1L)
    assert(noise.length == 1, "exactly one noise row")
    // clusters + noise partition the corpus
    val total = Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(3)).sum == total, "clustered + noise = corpus")
    rows.filter(_.getLong(0) >= 0L).foreach { r =>
      assert(r.getLong(1) >= 1L, "a cluster has at least one core point")
      assert(r.getLong(3) == r.getLong(1) + r.getLong(2), "n_points = core + border")
      assert(r.getLong(0) <= total, "cluster label is a vec_id")
    }
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q204 model update: fold-in identity, fresh generation, redelivery no-op") {
    val first = Registry.byName("q204_kmeans_update").q(spark, sf).collect()
    assert(first.length == 8)
    first.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) + r.getLong(2), "n_new = n_old + n_batch")
      assert(r.getLong(4) >= 0L, "drift is a sum of squares")
    }
    // the +20M batch is the whole corpus re-keyed: every vector lands somewhere
    assert(first.map(_.getLong(2)).sum == Tables.embeddings(spark, sf).count())
    // redelivery: a second run must serve the SAME published generation
    val again = Registry.byName("q204_kmeans_update").q(spark, sf).collect()
    assert(first.map(_.toString).toSeq == again.map(_.toString).toSeq)
    val root = graft.sources.Sources.scratch(sf, "kmeans_model_upd")
    assert(graft.sources.Artifacts.currentGeneration(spark, root).endsWith("gen-upd-1"),
      "redelivered update must not publish further generations")
  }

  test("q205 streaming assignment: epochs drain, totals partition, redelivery converges") {
    val first = Registry.byName("q205_stream_cluster_assign").q(spark, sf).collect()
    assert(first.length == 8)
    assert(first.forall(_.getBoolean(2)), "both arrival chunks must become epochs")
    assert(first.map(_.getLong(1)).sum == Tables.embeddings(spark, sf).count(),
      "every streamed vector is assigned exactly once")
    // full redelivery (both chunks again): content-keyed Overwrite dirs
    // must converge to the identical accounting
    val again = Registry.byName("q205_stream_cluster_assign").q(spark, sf).collect()
    assert(first.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "redelivered stream drifted the per-cluster accounting")
  }

  test("q197 vocab growth: totals tie to direct distinct/token counts, monotone") {
    val rows = Registry.byName("q197_vocab_growth").q(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
    val totalTokens = docs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum(col("n"))).collect().head.getLong(0)
    val totalTypes = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .select(col("w")).distinct().count()
    val last = rows.last
    assert(last.getLong(4) == totalTokens, "final cum_tokens = corpus token count")
    assert(last.getLong(5) == totalTypes, "final cum_types = corpus vocabulary")
    // cumulative columns strictly reconstruct the bucket columns
    var (ct, cy) = (0L, 0L)
    rows.foreach { r =>
      ct += r.getLong(2); cy += r.getLong(3)
      assert(r.getLong(4) == ct && r.getLong(5) == cy, s"bucket ${r.getLong(0)} cumsum")
    }
  }

  test("q200 embedding QC: stats tie to a direct single-dimension pass") {
    val rows = Registry.byName("q200_embedding_dim_qc").q(spark, sf).collect()
    assert(rows.length == 64)
    // recompute dimension 1 locally from the raw embeddings
    val xs = Tables.embeddings(spark, sf)
      .select(element_at(col("embedding"), 1).cast("double").as("x"))
      .collect().map(r => math.round(r.getDouble(0) * 1000.0))
    val n = xs.length.toLong
    val sSum = xs.sum
    val q = xs.map(x => x * x).sum
    val r0 = rows.head
    assert(r0.getLong(0) == 1L && r0.getLong(1) == n)
    assert(r0.getLong(2) == sSum / n, "truncated integer mean")
    assert(r0.getLong(3) == xs.min && r0.getLong(4) == xs.max)
    assert(r0.getLong(5) == n * q - sSum * sSum, "exact variance numerator")
    assert(!r0.getBoolean(6), "dimension 1 is not dead on the fixture")
    val outliers = xs.count(x => {
      val dev = x * n - sSum
      dev * dev > 16L * (n * q - sSum * sSum)
    }).toLong
    assert(r0.getLong(7) == outliers, "integer z² > 16 outlier count")
  }

  test("q201 Chao1: estimator bounds and count-of-count ties per language") {
    val rows = Registry.byName("q201_chao1_richness").q(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (t, n1) = (r.getLong(1), r.getLong(3))
      assert(r.getDouble(5) >= t.toDouble, "Chao1 is a lower bound ≥ observed types")
      assert(r.getDouble(6) > 0.0 && r.getDouble(6) <= 1.0, "coverage in (0,1]")
      assert(n1 <= t && r.getLong(4) <= t)
    }
    // n1 ties to a direct hapax count for one language
    val lang = rows.head.getString(0)
    val hapax = Tables.documents(spark, sf)
      .filter(col("lang") === lang)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().filter(col("count") === 1L).count()
    assert(rows.head.getLong(3) == hapax)
  }

  test("q207 chi-square independence: margins tie, statistic matches local recompute") {
    val rows = Registry.byName("q207_source_lang_independence").q(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == n, "cells partition the corpus")
    assert(rows.head.getLong(4) == 76L, "dof = (20-1)*(5-1) on the fixture")
    // local chi-square recompute from the emitted cells
    val cells = rows.map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val rT = cells.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cT = cells.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val chi2 = cells.map { case ((s0, l0), o) =>
      val dev = (o * n - rT(s0) * cT(l0)).toDouble
      dev * dev / (n.toDouble * rT(s0) * cT(l0))
    }.sum
    assert(math.abs(rows.head.getDouble(3) - chi2) < 1e-4, "chi2 recompute")
    assert(rows.head.getBoolean(6) == (rows.head.getDouble(3) < 97.351))
  }

  test("q208 Davies-Bouldin: worst ratios tie to a full local recompute") {
    val rows = Registry.byName("q208_davies_bouldin").q(spark, sf).collect()
    assert(rows.length == 8)
    // full local recompute: centroids from the same recursion, scatter from
    // the emitted (n, inertia), separation from exact centroid distances
    val cents = graft.operators.Clustering.run(spark, sf, 3)._2.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val s2 = rows.map(r => r.getLong(0) -> (r.getLong(2).toDouble / r.getLong(1))).toMap
    def m(i: Long, j: Long): Double =
      cents(i).zip(cents(j)).map { case (x, y) => val d = x - y; (d * d).toDouble }.sum
    val worst = s2.keys.map { i =>
      i -> s2.keys.filter(_ != i)
        .map(j => (((s2(i) + s2(j)) / m(i, j)), j))
        .minBy { case (r0, j) => (-r0, j) }
    }.toMap
    rows.foreach { r =>
      val (ratio, j) = worst(r.getLong(0))
      assert(r.getLong(3) == j, s"cluster ${r.getLong(0)}: worst_j")
      assert(math.abs(r.getDouble(4) - ratio) < 1e-5, "worst_ratio")
    }
    val dbExpect = worst.values.map(_._1).sum / 8.0
    assert(math.abs(rows.head.getDouble(5) - dbExpect) < 1e-5, "db_index is the mean")
  }

  test("q209 AUC: exact tie-aware Mann-Whitney equals a brute pair count") {
    val r = Registry.byName("q209_classifier_auc").q(spark, sf).collect().head
    val n = Tables.documents(spark, sf).count()
    assert(r.getLong(0) + r.getLong(1) == n, "every doc labeled and scored")
    // brute-force AUC: P(score_pos > score_neg) + 0.5 P(equal)
    val scored = graft.operators.TextOps.classifierScores(spark, sf)
      .select(col("doc_id"), col("score")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val labels = graft.operators.TextOps
      .repetitionCounts(Tables.documents(spark, sf).select(col("doc_id"), col("text")))
      .select(col("doc_id"), (!graft.operators.TextOps.lowQuality).as("pos"))
      .collect().map(x => x.getLong(0) -> x.getBoolean(1))
    val pos = labels.filter(_._2).map(x => scored(x._1))
    val neg = labels.filterNot(_._2).map(x => scored(x._1))
    var num = 0.0
    for (p <- pos; q <- neg)
      num += (if (p > q) 1.0 else if (p == q) 0.5 else 0.0)
    val brute = num / (pos.length.toDouble * neg.length)
    assert(math.abs(r.getDouble(3) - brute) < 1e-6,
      s"count-based AUC ${r.getDouble(3)} != brute $brute")
  }

  test("q209/q210 classifier evaluation plans ONE corpus scan (fused " +
    "score+label, no doc_id join)") {
    // score and label are both per-doc map work over the same text row —
    // scoredLabeledDocs fuses them, so neither evaluation may scan the
    // corpus twice nor exchange on doc_id to join the two passes.
    def scans(df: org.apache.spark.sql.DataFrame): Int = {
      df.write.format("noop").mode("overwrite").save()
      flattenPlan(df.queryExecution.executedPlan)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    }
    val fused = graft.operators.CorpusStats.scoredLabeledDocs(spark, sf)
    assert(scans(fused) == 1, "fused score+label scaffold must scan ONCE")
    assert(scans(Registry.byName("q210_classifier_confusion").q(spark, sf)) == 1,
      "q210 scans the corpus more than once — must plan the fused scaffold")
    // q209's one corpus scan happens INSIDE its per-score localCheckpoint;
    // the rank phase after the barrier must plan ZERO parquet re-scans.
    assert(scans(Registry.byName("q209_classifier_auc").q(spark, sf)) == 0,
      "q209's rank phase re-scans parquet — all corpus work is pre-barrier")
  }

  test("q210 confusion matrix: cells partition, identities hold") {
    val r = Registry.byName("q210_classifier_confusion").q(spark, sf).collect().head
    val (tp, fp, fn, tn) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(tp + fp + fn + tn == Tables.documents(spark, sf).count())
    assert(r.getLong(4) == tp * 1000000L / (tp + fp), "precision ppm")
    assert(r.getLong(5) == tp * 1000000L / (tp + fn), "recall ppm")
    assert(r.getLong(6) == 2L * tp * 1000000L / (2L * tp + fp + fn), "F1 harmonic")
    val mcc = (tp * tn - fp * fn).toDouble /
      math.sqrt(((tp + fp) * (tp + fn)).toDouble * ((tn + fp) * (tn + fn)).toDouble)
    assert(math.abs(r.getDouble(7) - mcc) < 1e-5, "MCC")
    assert(math.abs(r.getDouble(7)) < 0.5, "untrained stand-in scores near chance")
  }

  test("q198 Kneser-Ney: full-vocab probabilities sum to 1 per context") {
    val tbl = graft.operators.CorpusStats.knTable(spark, sf)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1f"),
        col("n1p"), col("t_types"))
      .collect()
    assert(tbl.nonEmpty)
    val tTypes = tbl.head.getLong(6).toDouble
    // continuation distribution over the full vocab: n1p per distinct w2
    val cont = tbl.map(r => r.getString(1) -> r.getLong(5)).toMap
    assert(math.abs(cont.values.sum / tTypes - 1.0) < 1e-12,
      "continuation probabilities must sum to 1 over the vocabulary")
    // per-context full-vocab sum: observed mass + discount mass * 1
    val byCtx = tbl.groupBy(_.getString(0))
    byCtx.take(25).foreach { case (w1, rs) =>
      val c1 = rs.head.getLong(3).toDouble
      val n1f = rs.head.getLong(4).toDouble
      assert(rs.length == n1f.toLong, s"$w1: n1f != observed fan-out")
      assert(rs.map(_.getLong(2)).sum == c1.toLong, s"$w1: c1 != sum c12")
      val observed = rs.map(r => math.max(r.getLong(2) - 0.75, 0.0) / c1).sum
      val backoff = (0.75 * n1f / c1) * (cont.values.sum / tTypes)
      assert(math.abs(observed + backoff - 1.0) < 1e-9,
        s"$w1: P sums to ${observed + backoff}, not 1")
    }
  }

  test("q296 PageRank: 8 rounds replay bit-exact in the JVM; hub dominates") {
    val rows = Registry.byName("q296_pagerank_planted").q(spark, sf).collect()
    assert(rows.length == 200)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // fabricate the same multigraph and run the identical integer recursion
    val edges = (0L until 200L).flatMap { u =>
      (0 to 3).map { j =>
        u -> java.lang.Long.parseLong(md5hex(s"pr:v1:$u:$j").take(8), 16) % 200
      } :+ (u -> 7L)
    }
    var pr = (0L until 200L).map(_ -> 1000000L).toMap
    for (_ <- 1 to 8) {
      val inflow = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => pr(u) / 5 }.sum
      }
      pr = pr.keys.map(n =>
        n -> (150000L + 850000L * inflow.getOrElse(n, 0L) / 1000000L)).toMap
    }
    rows.foreach { r =>
      assert(r.getLong(1) == pr(r.getLong(0)),
        s"node ${r.getLong(0)} pr diverges from the JVM replay")
      assert(r.getBoolean(2) == (r.getLong(0) == 7L))
      assert(r.getBoolean(3), "hub_recovered must hold")
    }
    // the planted hub dominates with real margin (measured ratio ~5x at
    // every SF; the registered flag uses 2x)
    val hub = pr(7L)
    val best = pr.filterNot(_._1 == 7L).values.max
    assert(hub > 4L * best, s"hub $hub vs best other $best — margin eroded")
  }
}

/** Test-only bridge: re-run q196's Lloyd recursion for a given round count
  * to observe the inertia trajectory (the registered entry pins rounds=3).
  */
object Clustering2 {
  def runRounds(s: org.apache.spark.sql.SparkSession, d: String, rounds: Int): Long =
    graft.operators.Clustering.inertiaAfter(s, d, rounds)
}
