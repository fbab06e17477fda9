package graft

import org.apache.spark.sql.functions._
import graft.operators.Transforms
import graft.queries.Registry

/** Corpus rewrite transforms (q282 BPE encode, q283 span dedup, q284 PII
  * redact): each test ties the registered rollup to an independent JVM-side
  * replay and pins the plan shape the 100 TB story depends on.
  */
class TransformsSuite extends SparkTestBase {

  test("q282 encode: merge list is broadcast, not re-learned; ties to q83") {
    val df = Registry.byName("q282_bpe_encode").q(spark, sf)
    val rows = df.collect()
    // the encode pass reads the corpus EXACTLY once — the learn phase ran
    // before the checkpoint barrier, so a re-learn would show extra scans
    val scans = flattenPlan(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"encode plan reads parquet $scans times, want 1")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"),
      "the pivoted merge list must enter the encode scan via broadcast")
    // corpus totals equal q83's round-4 state: apply(corpus, merges) IS the
    // learn loop's final re-segmentation
    val vocab = Registry.byName("q83_bpe_vocab").q(spark, sf).collect()
    val toksAfterR4 = vocab.filter(_.getLong(0) == 4L).head.getLong(4)
    assert(rows.map(_.getLong(3)).sum == toksAfterR4,
      "sum of per-source toks_after must equal q83's round-4 corpus count")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "merges can only shrink tokens")
      assert(r.getLong(6) <= 1000000L, "compression_ppm is a ratio <= 1")
    }
  }

  test("q288 fold-encode equals q282; q289 serves from the artifact, no learn") {
    val r282 = Registry.byName("q282_bpe_encode").q(spark, sf)
      .collect().map(_.toString).toSeq
    val r288 = Registry.byName("q288_bpe_encode_fold").q(spark, sf)
      .collect().map(_.toString).toSeq
    assert(r288 == r282,
      "the merge-array fold must encode identically to the pivoted form")
    val df289 = Registry.byName("q289_tokenizer_publish_serve").q(spark, sf)
    val r289 = df289.collect().map(_.toString).toSeq
    assert(r289 == r282, "serve-from-artifact must encode identically")
    // the serve plan reads exactly corpus + artifact — a learn stage would
    // add more scans (bpeVocab's per-round pair counts re-read the corpus)
    val scans = flattenPlan(df289.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.length == 2, s"serve plan has ${scans.length} scans, want 2")
    assert(scans.exists(_.toString.contains("bpe_merges")),
      "one scan must read the published merge-list artifact")
  }

  test("q283 rewrite is IDEMPOTENT and stats tie to a JVM-side replay") {
    val sess = spark
    import sess.implicits._
    // synthesized corpus: doc 1 is the canonical paragraph (two 8-token
    // blocks); docs 2-21 paste block A at an ALIGNED offset behind 8 of
    // their own tokens; doc 22 pastes it misaligned (offset 4) — the
    // documented alignment miss
    val blockA = (0 until 8).map(i => s"a$i").mkString(" ")
    val blockB = (0 until 8).map(i => s"b$i").mkString(" ")
    val hosts = (2 to 21).map { h =>
      (h.toLong, "s", (0 until 8).map(i => s"h${h}w$i").mkString(" ") + " " + blockA)
    }
    val misaligned = (22L, "s",
      (0 until 4).map(i => s"m$i").mkString(" ") + " " + blockA)
    val docs = (Seq((1L, "s", blockA + " " + blockB)) ++ hosts :+ misaligned)
      .toDF("doc_id", "source", "text")
    val stats = Transforms.spanDedupStats(docs).collect()
    assert(stats.length == 1)
    // 20 aligned repeats of block A are dups; doc 22's copy is missed
    assert(stats.head.getLong(3) == 20L,
      s"expected exactly the 20 aligned repeats, got ${stats.head.getLong(3)}")
    val cleaned = Transforms.spanDedupRewrite(docs)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(cleaned(1L) == blockA + " " + blockB, "first occurrence kept intact")
    (2 to 21).foreach { h =>
      assert(cleaned(h.toLong) == (0 until 8).map(i => s"h${h}w$i").mkString(" "),
        s"host $h must lose exactly the pasted block")
    }
    assert(cleaned(22L) == misaligned._3, "misaligned copy untouched (documented)")
    // idempotence, structurally: a second full pass removes NOTHING
    val again = Transforms.spanDedupRewrite(
      cleaned.toSeq.map { case (id, t) => (id, "s", t) }
        .toDF("doc_id", "source", "text"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(again == cleaned, "rewrite of the rewrite must be a fixpoint")
    val statsClean = Transforms.spanDedupStats(
      cleaned.toSeq.map { case (id, t) => (id, "s", t) }
        .toDF("doc_id", "source", "text")).collect()
    assert(statsClean.head.getLong(3) == 0L,
      "cleaned corpus must report zero duplicate spans")
  }

  test("q283 registered query: dup accounting ties to brute hashes at sf") {
    val rows = Registry.byName("q283_span_dedup").q(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val P = 2147483647L
    def tokHash(w: String): Long =
      w.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % P)
    val blocks = docs.flatMap { case (id, src, text) =>
      val th = text.split(" ", -1).map(tokHash)
      (1 to th.length / 8).map { i =>
        val bh = th.slice((i - 1) * 8, i * 8)
          .foldLeft(0L)((a, c) => (a * 131 + c) % P)
        (src, id * 16777216L + i, bh, i.toLong)
      }
    }
    val firstOf = blocks.groupBy(_._3).map { case (bh, xs) =>
      bh -> xs.map(_._2).min
    }
    val bySource = blocks.groupBy(_._1)
    rows.foreach { r =>
      val mine = bySource.getOrElse(r.getString(0), Array.empty[(String, Long, Long, Long)])
      assert(r.getLong(2) == mine.length.toLong, s"${r.getString(0)} n_spans")
      val dups = mine.count(b => firstOf(b._3) != b._2)
      assert(r.getLong(3) == dups.toLong, s"${r.getString(0)} dup_spans brute mismatch")
      assert(r.getLong(5) == 8L * dups, "toks_removed = 8 per dropped span")
    }
    // meaningful at fixture scale: the corpus genuinely repeats spans
    assert(rows.map(_.getLong(3)).sum > 0, "fixture has repeated spans")
  }

  test("q290 span-index delta: O(delta) plan; every original block drops") {
    val df = Registry.byName("q290_span_index_delta").q(spark, sf)
    val rows = df.collect()
    // the serve side reads exactly delta-fabrication scan + index artifact;
    // a corpus-sized dedup stage would add scans (the index build ran
    // BEFORE this plan, behind the generation publish)
    val scans = flattenPlan(df.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.length == 2, s"delta plan has ${scans.length} scans, want 2")
    assert(scans.exists(_.toString.contains("span_index")),
      "one scan must read the published span-index artifact")
    // fabrication contract: per delta doc exactly ONE fresh block is kept
    // (the prepended 8 tokens); every original block re-aligns and drops
    rows.foreach { r =>
      assert(r.getLong(4) == r.getLong(1),
        s"${r.getString(0)}: kept_spans must equal n_delta_docs " +
          "(one fresh block per doc)")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1),
        "dropped must be every non-fresh block")
    }
    assert(rows.map(_.getLong(1)).sum ==
      Tables.documents(spark, sf).filter(col("doc_id") % 5 === 2).count(),
      "delta covers exactly the doc_id % 5 == 2 cohort")
  }

  test("q291 splits: clusters never straddle; buckets replay from md5") {
    val rows = Registry.byName("q291_leakage_safe_splits").q(spark, sf).collect()
    assert(rows.forall(_.getBoolean(4)), "leakage_free must hold")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val P = 2147483647L
    def h(s: String): Long = s.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % P)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val bySplit = docs.groupBy(d => (h(d._2), d._2.length)).toSeq
      .map { case (_, xs) =>
        val rep = xs.map(_._1).min
        val b = java.lang.Long.parseLong(md5hex(s"split:v1:$rep").take(8), 16) % 100
        val split = if (b < 80) "train" else if (b < 90) "val" else "test"
        (split, xs.length)
      }
    rows.foreach { r =>
      val mine = bySplit.filter(_._1 == r.getString(0))
      assert(r.getLong(1) == mine.map(_._2).sum.toLong, s"${r.getString(0)} n_docs")
      assert(r.getLong(2) == mine.length.toLong, s"${r.getString(0)} n_clusters")
    }
    assert(rows.length == 3, "all three splits populated at fixture scale")
    // the 80/10/10 buckets land near their targets (wide fixture band)
    val total = rows.map(_.getLong(1)).sum.toDouble
    val train = rows.find(_.getString(0) == "train").get.getLong(1) / total
    assert(train > 0.6 && train < 0.95, s"train frac $train far from 0.8")
  }

  test("q293 near-dup splits: clusters atomic; naive split provably leaks") {
    val rows = Registry.byName("q293_neardup_safe_splits").q(spark, sf).collect()
    assert(rows.forall(_.getBoolean(5)), "leakage_free must hold")
    // the value-add: the per-doc hash split would scatter real near-dup
    // pairs across splits — the counted leak must be nonzero on a fixture
    // with 1000s of near-dup pairs
    assert(rows.head.getLong(4) > 0,
      "naive split must provably leak near-dup pairs on this fixture")
    // replay: members of one component share a split; components inherit
    // the representative's md5 bucket
    val pairs = graft.operators.Dedup.wordsetNeardup(spark, sf)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = graft.operators.Dedup.neardupLabels(spark, sf,
      spark.createDataFrame(pairs.toSeq).toDF("a_id", "b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // union-find replay of the component labels
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across components")
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def splitOf(id: Long): String = {
      val b = java.lang.Long.parseLong(md5hex(s"nsplit:v1:$id").take(8), 16) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    rows.foreach { r =>
      val clusters = labels.toSeq.groupBy(_._2).keySet
        .count(rep => splitOf(rep) == r.getString(0))
      assert(r.getLong(2) == clusters.toLong, s"${r.getString(0)} n_clusters")
      val members = labels.toSeq.count { case (_, rep) =>
        splitOf(rep) == r.getString(0)
      }
      assert(r.getLong(1) == members.toLong, s"${r.getString(0)} n_docs")
    }
    // naive leak count replays exactly
    val naiveLeak = pairs.count { case (a, b) => splitOf(a) != splitOf(b) }
    assert(rows.head.getLong(4) == naiveLeak.toLong, "naive_leaky_pairs replay")
  }

  test("q287 funnel: every stage ties to a JVM-side staged replay") {
    val rows = Registry.byName("q287_curation_funnel").q(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val P = 2147483647L
    def h(s: String): Long = s.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % P)
    // stage 1: exact dedup on (digest, length), global min doc_id
    val exact = docs.groupBy(d => (h(d._3), d._3.length))
      .values.map(_.minBy(_._1)).toSeq
    // stage 2: block-span dedup at token-hash level
    val base = exact.map { case (id, src, text) =>
      (id, src, text.split(" ", -1).map(h(_)))
    }
    val blocks = base.flatMap { case (id, _, th) =>
      (1 to th.length / 8).map { i =>
        val bh = th.slice((i - 1) * 8, i * 8).foldLeft(0L)((a, c) => (a * 131 + c) % P)
        (id * 16777216L + i, id, i, bh)
      }
    }
    val firstOf = blocks.groupBy(_._4).map { case (bh, xs) => bh -> xs.map(_._1).min }
    val keptByDoc = blocks.filter(b => firstOf(b._4) == b._1)
      .groupBy(_._2).map { case (id, xs) => id -> xs.map(_._3).sorted }
    val cleaned = base.map { case (id, src, th) =>
      val thk = keptByDoc.getOrElse(id, Seq.empty[Int])
        .flatMap(i => th.slice((i - 1) * 8, i * 8)) ++ th.drop(th.length / 8 * 8)
      (id, src, th.length.toLong, thk)
    }
    // stages 3+4: cleaned-length gate, multiset (sum, sum-sq, count) dedup
    val quality = cleaned.filter(c => c._4.length >= 30 && c._4.length <= 500)
    def mkey(thk: Seq[Long]) = (
      thk.foldLeft(0L)((a, x) => (a + x) % P),
      thk.foldLeft(0L)((a, x) => (a + x * x % P) % P),
      thk.length)
    val finalMin = quality.groupBy(c => mkey(c._4))
      .map { case (k, xs) => k -> xs.map(_._1).min }
    rows.foreach { r =>
      val src = r.getString(0)
      assert(r.getLong(1) == docs.count(_._2 == src).toLong, "n_in")
      val mine = cleaned.filter(_._2 == src)
      assert(r.getLong(2) == mine.length.toLong, s"$src n_exact")
      assert(r.getLong(3) == mine.count(c => c._4.length < c._3).toLong,
        s"$src n_rewritten")
      assert(r.getLong(4) == mine.map(c => c._3 - c._4.length).sum,
        s"$src toks_removed")
      val q = quality.filter(_._2 == src)
      assert(r.getLong(5) == q.length.toLong, s"$src n_quality")
      assert(r.getLong(6) == q.count(c => finalMin(mkey(c._4)) == c._1).toLong,
        s"$src n_final")
      // funnel is monotone: each stage only shrinks
      assert(r.getLong(6) <= r.getLong(5) && r.getLong(5) <= r.getLong(2)
        && r.getLong(2) <= r.getLong(1))
    }
    assert(rows.map(_.getLong(4)).sum > 0, "span stage must remove something")
  }

  test("q297 byte BPE: JVM replay ties; any string round-trips through decode") {
    val df = Registry.byName("q297_byte_bpe_encode").q(spark, sf)
    val rows = df.collect()
    // plan: learn ran behind the checkpoint barrier; the encode pass reads
    // the corpus exactly once with the merge array broadcast in
    val scans = flattenPlan(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(scans == 1, s"byte-encode plan reads parquet $scans times, want 1")
    assert(df.queryExecution.executedPlan.toString.contains("Broadcast"),
      "the merge array must enter the encode scan via broadcast")
    // in-row no-OOV proof: zero round-trip failures, multi-byte suffixes in
    assert(rows.forall(_.getLong(5) == 0L), "roundtrip_fails must be 0")
    // full JVM replay: byte-hex serialization, 4-round learn with the
    // (count desc, pair asc) tie-break, greedy left-to-right apply
    val mb = operators.Transforms.MbChars
    def hexOf(s: String): String =
      s.getBytes("UTF-8").map(b => "%02X".format(b & 0xff)).mkString
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getString(1),
        hexOf(r.getString(2) + " " + mb((r.getLong(0) % 3).toInt))))
    var toks: Array[(String, Vector[String])] =
      docs.map { case (src, h) => (src, h.grouped(2).toVector) }
    def mergeOnce(t: Vector[String], x: String, y: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < t.length) {
        if (i + 1 < t.length && t(i) == x && t(i + 1) == y) {
          out += (x + y); i += 2
        } else { out += t(i); i += 1 }
      }
      out.result()
    }
    val merges = (1 to 4).map { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      toks.foreach { case (_, t) =>
        t.sliding(2).foreach { w =>
          if (w.length == 2)
            counts((w(0), w(1))) = counts.getOrElse((w(0), w(1)), 0L) + 1
        }
      }
      val (x, y) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a + " " + b) }._1
      toks = toks.map { case (src, t) => (src, mergeOnce(t, x, y)) }
      (x, y)
    }
    val bySource = toks.groupBy(_._1)
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = bySource(src)
      val hx = docs.filter(_._1 == src)
      assert(r.getLong(1) == mine.length.toLong, s"$src n_docs")
      assert(r.getLong(2) == hx.map(_._2.length / 2).sum.toLong, s"$src bytes")
      assert(r.getLong(3) == mine.map(_._2.length).sum.toLong,
        s"$src toks_after diverges from the JVM learn+apply replay")
      assert(r.getLong(4) ==
        mine.map(_._2.length).sum.toLong * 1000000L /
          math.max(hx.map(_._2.length / 2).sum.toLong, 1L),
        s"$src compression_ppm")
    }
    // fallback-freedom on ARBITRARY input, surrogate pairs included: encode
    // with the learned merges, strip, unhex, decode — must be the identity
    Seq("héllo wörld", "λ€é mixed", "emoji 🌍 and 中文",
      "", "plain ascii").foreach { s0 =>
      var t = hexOf(s0).grouped(2).toVector
      merges.foreach { case (x, y) => t = mergeOnce(t, x, y) }
      val bytes = t.mkString.grouped(2)
        .map(h => Integer.parseInt(h, 16).toByte).toArray
      assert(new String(bytes, "UTF-8") == s0,
        s"byte-level encode of '$s0' must round-trip through decode")
    }
  }

  test("q299 cross-corpus: artifact-only serve plan; build==serve fixed point") {
    val df = Registry.byName("q299_cross_corpus_decon").q(spark, sf)
    val rows = df.collect()
    // at the suite's sf0.001 the build corpus IS the serve corpus: every
    // doc is an exact dup of itself, and every doc with >= 8 tokens shares
    // its own blocks
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = docs.filter(_._1 == src)
      assert(r.getLong(1) == mine.length.toLong, s"$src n_docs")
      assert(r.getLong(2) == r.getLong(1),
        s"$src: build==serve must make every doc an exact dup of itself")
      assert(r.getLong(3) ==
        mine.count(_._2.split(" ", -1).length >= 8).toLong,
        s"$src: every >=8-token doc must span-hit itself")
    }
    // the SERVE plan reads only the two artifact tables — the corpus went
    // through a checkpoint and the sf0.001 build ran behind the manifest
    // guard (index reuse across corpus generations, the 100 TB story)
    val scans = flattenPlan(df.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.length == 2, s"serve plan has ${scans.length} scans, want 2")
    assert(scans.forall(_.toString.contains("cross_corpus_index")),
      "both serve-plan scans must read the published artifact")
    // generation protocol survives re-serve: no rebuild, same artifact files
    val root = graft.sources.Sources.scratch(sf, "cross_corpus_index")
    val gen = graft.sources.Artifacts.currentGeneration(spark, root)
    val files1 = spark.read.parquet(s"$gen/exact").inputFiles.sorted.toSeq
    val again = Registry.byName("q299_cross_corpus_decon").q(spark, sf)
      .collect()
    assert(again.map(_.toString).toSeq == rows.map(_.toString).toSeq,
      "re-serve must converge")
    assert(spark.read.parquet(s"$gen/exact").inputFiles.sorted.toSeq == files1,
      "re-serve must not rewrite the published artifact")
  }

  test("q284 redact: injection equals detection; digest replays bit-exact") {
    val df = Registry.byName("q284_pii_redact").q(spark, sf)
    val rows = df.collect()
    // plan: ONE corpus scan, nothing exploded before the rollup
    val plans = flattenPlan(df.queryExecution.executedPlan)
    assert(plans.count(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) == 1,
      "q284 must be a single-scan plan")
    assert(!plans.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      "q284 must not explode anything")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val P = 2147483647L
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def inject(id: Long, text: String): String = (id % 101) match {
      case 3 => s"$text contact user$id@example.com now"
      case 17 => s"$text from 10.${id % 256}.0.42 logged"
      case 29 => s"$text call +1-555-${"%04d".format(id * 7919 % 10000)} today"
      case 41 => s"$text token sk-${md5hex(s"pii:$id").take(16)} used"
      case _ => text
    }
    val pats = Seq(Transforms.EmailPat -> "[EMAIL]", Transforms.Ipv4Pat -> "[IP]",
      Transforms.PhonePat -> "[PHONE]", Transforms.KeyPat -> "[KEY]")
    val replayed = docs.map { case (id, src, text) =>
      val x = inject(id, text)
      val counts = pats.map { case (p, _) =>
        p.r.findAllMatchIn(x).length.toLong
      }
      val red = pats.foldLeft(x) { case (t, (p, rep)) =>
        t.replaceAll(p, java.util.regex.Matcher.quoteReplacement(rep))
      }
      val dg = red.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % P)
      (src, counts, dg)
    }
    rows.foreach { r =>
      val mine = replayed.filter(_._1 == r.getString(0))
      assert(r.getLong(2) == mine.map(_._2(0)).sum, "emails")
      assert(r.getLong(3) == mine.map(_._2(1)).sum, "ipv4")
      assert(r.getLong(4) == mine.map(_._2(2)).sum, "phones")
      assert(r.getLong(5) == mine.map(_._2(3)).sum, "keys")
      assert(r.getLong(6) == mine.count(_._2.sum > 0).toLong, "pii_docs")
      assert(r.getLong(8) == mine.map(_._3).sum,
        s"${r.getString(0)} redacted digest diverges from the JVM replay")
    }
    assert(rows.map(_.getLong(6)).sum > 0, "fabrication must inject some PII")
  }
}
