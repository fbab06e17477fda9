package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.queries.Registry

/** Round-18 cohort: rater agreement (q306/q311), Bradley–Terry (q307),
  * tar member index (q308), unigram tokenizer (q309/q310). House test
  * tiers per operator: a JVM-side bit-exact replay of the full integer
  * pipeline, an invariant tie, and (q308) an INDEPENDENT conformance
  * arbiter — GNU tar reads the synthesized shards, the q303/ImageIO
  * discipline: synthesis and parser are locked to the real format, not
  * merely to each other.
  */
class FeedbackSuite extends SparkTestBase {

  private val P = 2147483647L

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def lane(h: String, at: Int): Long =
    java.lang.Long.parseLong(h.substring(at, at + 8), 16)

  // ------------------------------------------------------------ q306/q311

  private def jvmKappa(): Map[String, (Long, Long, Long, Long)] = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    docs.groupBy(_._1).map { case (src, rows) =>
      val ls = rows.map { case (_, id) =>
        val h = md5hex(s"rate:v1:$id")
        val u0 = lane(h, 0); val ua = lane(h, 8); val ub = lane(h, 16)
        val c = u0 % 3
        val la = if (ua < 3435973836L) c else (c + 1 + ua % 2) % 3
        val lb = if (ub < 3435973836L) c else (c + 1 + ub % 2) % 3
        (la, lb)
      }
      val n = ls.length.toLong
      val agree = ls.count(x => x._1 == x._2).toLong
      val po = agree * 1000000L / n
      val pe = (0 to 2).map(k =>
        ls.count(_._1 == k).toLong * ls.count(_._2 == k)).sum * 1000000L /
        (n * n)
      val kappa = (po - pe) * 1000000L / math.max(1000000L - pe, 1L)
      src -> (n, agree, pe, kappa)
    }
  }

  test("q306 kappa replays bit-exactly from the seed; moderate agreement") {
    val out = Registry.byName("q306_rater_agreement").q(spark, sf).collect()
    assert(out.length == 20)
    val ref = jvmKappa()
    out.foreach { r =>
      val (n, agree, pe, kappa) = ref(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == agree)
      assert(r.getLong(4) == pe, s"${r.getString(0)} pe_ppm replay")
      assert(r.getLong(5) == kappa, s"${r.getString(0)} kappa_ppm replay")
      // planted per-rater accuracy 0.8 → κ well inside (0, 1) at any SF
      assert(r.getLong(5) > 100000L && r.getLong(5) < 900000L)
    }
  }

  test("q311 streaming kappa == q306 batch row-for-row (parity)") {
    val batch = Registry.byName("q306_rater_agreement").q(spark, sf)
      .collect().map(_.toString)
    val stream = Registry.byName("q311_stream_rater_agreement").q(spark, sf)
      .collect().map(_.toString)
    assert(batch.sameElements(stream))
  }

  test("q306 plan: one corpus scan into one partial-agged exchange") {
    val df = Registry.byName("q306_rater_agreement").q(spark, sf)
    df.collect()
    val scans = flattenPlan(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, "kappa must read the corpus exactly once")
  }

  test("q317 Fleiss kappa replays bit-exactly from the seed (5 raters)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val ref = docs.groupBy(_._1).map { case (src, rows) =>
      var spa = 0L; var t0 = 0L; var t1 = 0L; var t2 = 0L
      rows.foreach { case (_, id) =>
        val h1 = md5hex(s"rate:v1:$id"); val h2 = md5hex(s"rate:v2:$id")
        val u0 = lane(h1, 0); val c = u0 % 3
        val us = Seq(lane(h1, 8), lane(h1, 16), lane(h1, 24),
          lane(h2, 0), lane(h2, 8))
        val ls = us.map(u =>
          if (u < 3435973836L) c else (c + 1 + u % 2) % 3)
        val n0 = ls.count(_ == 0L).toLong
        val n1 = ls.count(_ == 1L).toLong
        val n2 = 5L - n0 - n1
        spa += n0 * (n0 - 1) + n1 * (n1 - 1) + n2 * (n2 - 1)
        t0 += n0; t1 += n1; t2 += n2
      }
      val n = rows.length.toLong
      val pbar = spa * 1000000L / (n * 20L)
      val pe = (t0 * t0 + t1 * t1 + t2 * t2) * 1000000L / (n * n * 25L)
      val kappa = (pbar - pe) * 1000000L / math.max(1000000L - pe, 1L)
      src -> (n, pbar, pe, kappa)
    }
    val out = Registry.byName("q317_fleiss_kappa").q(spark, sf).collect()
    assert(out.length == ref.size)
    out.foreach { r =>
      val (n, pbar, pe, kappa) = ref(r.getString(0))
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == pbar, s"${r.getString(0)} pbar_ppm replay")
      assert(r.getLong(3) == pe, s"${r.getString(0)} pe_ppm replay")
      assert(r.getLong(4) == kappa, s"${r.getString(0)} kappa_ppm replay")
      assert(r.getLong(4) > 100000L && r.getLong(4) < 900000L)
    }
  }

  // ----------------------------------------------------------------- q307

  test("q307 Bradley-Terry: MM thetas replay bit-exactly; ranking recovered") {
    val ids = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id")).collect().map(_.getLong(0))
    // pair counts from the seed
    val nIj = Array.ofDim[Long](8, 8)
    val wIj = Array.ofDim[Long](8, 8) // wins of min(a,b) in pair (i<j)
    ids.foreach { id =>
      val h = md5hex(s"bt:v1:$id")
      val u0 = lane(h, 0); val u1 = lane(h, 8); val u2 = lane(h, 16)
      val a = (u0 % 8).toInt
      val r = (u1 % 7).toInt
      val b = if (r >= a) r + 1 else r
      val wa = u2 * ((1L << a) + (1L << b)) < 4294967296L * (1L << a)
      val (i, j) = (math.min(a, b), math.max(a, b))
      nIj(i)(j) += 1
      if ((a < b) == wa) wIj(i)(j) += 1
    }
    val wins = Array.tabulate(8) { k =>
      (0 until 8).map { o =>
        if (o > k) wIj(k)(o)
        else if (o < k) nIj(o)(k) - wIj(o)(k)
        else 0L
      }.sum
    }
    var th = Array.fill(8)(1000000L)
    for (_ <- 1 to 3) {
      val den = Array.tabulate(8) { k =>
        (0 until 8).map { o =>
          val n = if (o > k) nIj(k)(o) else if (o < k) nIj(o)(k) else 0L
          if (n == 0) 0L else n * 1000000000000L / (th(k) + th(o))
        }.sum
      }
      val thp = Array.tabulate(8)(k => wins(k) * 1000000000000L /
        math.max(den(k), 1L))
      val tot = thp.sum
      th = thp.map(v => v * 8000000L / math.max(tot, 1L))
    }
    val out = Registry.byName("q307_bradley_terry").q(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(out.length == 8)
    out.foreach { r =>
      val k = r.getLong(0).toInt
      assert(r.getLong(4) == th(k), s"item $k theta_ppm replay")
      assert(r.getBoolean(7), s"item $k planted rank recovered")
    }
    // geometric ladder ⇒ theta strictly increasing in item at any SF
    assert(out.map(_.getLong(4)).sliding(2).forall(p => p(0) < p(1)))
  }

  test("q313 streaming Bradley-Terry == q307 batch row-for-row (parity)") {
    val batch = Registry.byName("q307_bradley_terry").q(spark, sf)
      .collect().map(_.toString)
    val stream = Registry.byName("q313_stream_bradley_terry").q(spark, sf)
      .collect().map(_.toString)
    assert(batch.sameElements(stream))
  }

  test("q314 LPA replays bit-exactly from a JVM propagation; blocks recovered") {
    // fabricate the identical SBM and run the identical 4 rounds
    val nodes = (0 until 120).map(_.toLong)
    val edges = for {
      u <- nodes; v <- nodes if u < v
      h = lane(md5hex(s"lp:v1:$u:$v"), 0)
      if h < (if (u / 40 == v / 40) 1288490188L else 85899345L)
    } yield (u, v)
    val dir = edges ++ edges.map(e => (e._2, e._1))
    var lbl = nodes.map(u => u -> u).toMap
    for (_ <- 1 to 4) {
      val byU = dir.groupBy(_._1)
      lbl = nodes.map { u =>
        byU.get(u) match {
          case None => u -> lbl(u)
          case Some(nb) =>
            val cnt = nb.groupBy(e => lbl(e._2)).map { case (l, g) =>
              (l, g.size.toLong)
            }
            val mx = cnt.map { case (l, c) =>
              c * 4294967296L + lane(md5hex(s"lt:v1:$l"), 0)
            }.max
            val win = cnt.filter { case (l, c) =>
              c * 4294967296L + lane(md5hex(s"lt:v1:$l"), 0) == mx
            }.keys.min
            u -> win
        }
      }.toMap
    }
    val out = Registry.byName("q314_label_prop_planted").q(spark, sf)
      .collect().sortBy(_.getLong(0))
    assert(out.length == 3)
    out.foreach { r =>
      val b = r.getLong(0)
      val members = nodes.filter(_ / 40 == b).map(lbl)
      val grouped = members.groupBy(identity).map { case (l, g) =>
        (l, g.size.toLong)
      }
      val mc = grouped.values.max
      val maj = grouped.filter(_._2 == mc).keys.min
      assert(r.getLong(1) == 40L, "block size")
      assert(r.getLong(2) == grouped.size.toLong, s"block $b n_labels")
      assert(r.getLong(3) == maj, s"block $b maj_label replay")
      assert(r.getLong(4) == mc * 1000000L / 40L, s"block $b purity replay")
      assert(r.getBoolean(5), s"block $b recovered")
      // the winning label is a member of its own planted block — the
      // hash tie-break prevented the min-label cross-block cascade
      assert(maj / 40 == b, s"block $b majority label stayed intra-block")
    }
    // the three blocks converge to three DISTINCT labels
    assert(out.map(_.getLong(3)).distinct.length == 3)
  }

  // ----------------------------------------------------------------- q308

  test("q308 tar: GNU tar reads the synthesized shards (conformance)") {
    assertNoTmpdirLeak {
      import scala.sys.process._
      val doc = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
        .filter(col("doc_id") === 3L).head()
      val t = Multimodal.TarIn(doc.getLong(0), doc.getString(1),
        doc.getString(2), doc.getLong(3))
      val f = tempFile("graft_tar", ".tar")
      java.nio.file.Files.write(f.toPath, Multimodal.tarFullBytes(t))
      val listed = Seq("tar", "-tf", f.getPath).!!.trim.split("\n").toSeq
      assert(listed == Seq("d3.txt", "d3.json"),
        "member walk must agree with GNU tar")
      // and GNU tar must extract the exact payload back
      val dir = tempDir("graft_tar_x")
      assert(Seq("tar", "-xf", f.getPath, "-C", dir.toString).! == 0)
      val back = new String(java.nio.file.Files.readAllBytes(
        dir.resolve("d3.txt")), java.nio.charset.StandardCharsets.UTF_8)
      assert(back == doc.getString(2), "payload round-trip through GNU tar")
    }
  }

  test("q308 tar: planted corruption is flagged; parser rejects malformation") {
    // doc_id % 37 == 0 ⇒ member 1's recorded checksum is falsified
    val t0 = Multimodal.TarIn(0L, "s", "hello graft", 11L)
    val b0 = Multimodal.tarFullBytes(t0)
    val ms = Multimodal.parseTarMembers(b0).get
    assert(ms.map(_._1) == Seq("d0.txt", "d0.json"))
    assert(!ms(0)._3 && ms(1)._3, "exactly the corrupted member flagged")
    // clean archive: all checksums verify
    val b1 = Multimodal.tarFullBytes(Multimodal.TarIn(1L, "s", "x", 1L))
    assert(Multimodal.parseTarMembers(b1).get.forall(_._3))
    // malformation battery: truncation, bad magic, non-octal size, missing
    // terminator — None on each (never a throw)
    assert(Multimodal.parseTarMembers(b1.take(700)).isEmpty)
    val badMagic = b1.clone(); badMagic(257) = 'x'
    assert(Multimodal.parseTarMembers(badMagic).isEmpty)
    val badSize = b1.clone(); badSize(124) = '9' + 1 // ':' — not octal
    assert(Multimodal.parseTarMembers(badSize).isEmpty)
    assert(Multimodal.parseTarMembers(
      b1.dropRight(1024)).isEmpty, "terminator required")
  }

  test("q316 streaming shard audit == q308 batch row-for-row (parity)") {
    val batch = Registry.byName("q308_tar_member_index").q(spark, sf)
      .collect().map(_.toString)
    val stream = Registry.byName("q316_stream_shard_audit").q(spark, sf)
      .collect().map(_.toString)
    assert(batch.sameElements(stream))
  }

  test("q332 streaming mp4 audit == q330 batch row-for-row (parity)") {
    val batch = Registry.byName("q330_mp4_box_index").q(spark, sf)
      .collect().map(_.toString)
    val stream = Registry.byName("q332_stream_mp4_audit").q(spark, sf)
      .collect().map(_.toString)
    assert(batch.sameElements(stream))
  }

  test("q308 rollup ties to the synthesis closed form") {
    val out = Registry.byName("q308_tar_member_index").q(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val bySrc = docs.groupBy(_._1)
    assert(out.length == bySrc.size)
    out.foreach { r =>
      val rows = bySrc(r.getString(0))
      assert(r.getLong(1) == rows.length.toLong)
      assert(r.getLong(2) == 2L * rows.length)
      assert(r.getLong(3) == rows.count(_._2 % 37 == 0).toLong)
    }
  }

  test("q315 zip: the JDK's own ZipFile agrees; CRC corruption rejected") {
    assertNoTmpdirLeak {
      val doc = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
        .filter(col("doc_id") === 3L).head()
      val t = Multimodal.TarIn(doc.getLong(0), doc.getString(1),
        doc.getString(2), doc.getLong(3))
      val f = tempFile("graft_zip", ".zip")
      java.nio.file.Files.write(f.toPath, Multimodal.zipFullBytes(t))
      val zf = new java.util.zip.ZipFile(f)
      try {
        import scala.jdk.CollectionConverters._
        val names = zf.entries().asScala.map(_.getName).toSeq
        assert(names == Seq("d3.txt", "d3.json"),
          "entry walk must agree with java.util.zip.ZipFile")
        val in = zf.getInputStream(zf.getEntry("d3.txt"))
        val back = new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        assert(back == doc.getString(2), "payload round-trip through ZipFile")
      } finally zf.close()
      // the planted % 41 corruption: OUR parser flags it, and the JDK's
      // CRC-checking stream REJECTS it — independent conformance both ways
      val bad = Multimodal.TarIn(0L, "s", "hello graft", 11L)
      val ms = Multimodal.parseZipEntries(Multimodal.zipFullBytes(bad)).get
      assert(!ms(0)._3 && ms(1)._3, "exactly the corrupted entry flagged")
      val zis = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(Multimodal.zipFullBytes(bad)))
      zis.getNextEntry()
      assert(
        try { zis.readAllBytes(); zis.closeEntry(); false }
        catch { case _: java.util.zip.ZipException => true },
        "ZipInputStream must reject the falsified CRC")
      // malformation battery
      val good = Multimodal.zipFullBytes(Multimodal.TarIn(1L, "s", "x", 1L))
      assert(Multimodal.parseZipEntries(good.dropRight(3)).isEmpty, "no EOCD")
      val badSig = good.clone(); badSig(0) = 'Q'
      assert(Multimodal.parseZipEntries(badSig).isEmpty, "bad LFH signature")
      assert(Multimodal.parseZipEntries(good.take(40)).isEmpty, "truncated")
    }
  }

  test("q315 rollup ties to the synthesis closed form") {
    val out = Registry.byName("q315_zip_entry_index").q(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = docs.groupBy(_._1)
    assert(out.length == bySrc.size)
    out.foreach { r =>
      val rows = bySrc(r.getString(0))
      assert(r.getLong(1) == rows.length.toLong)
      assert(r.getLong(2) == 2L * rows.length)
      assert(r.getLong(3) == rows.count(_._2 % 41 == 0).toLong)
    }
  }

  // ------------------------------------------------------------ q309/q310

  /** JVM replay of the full 2-round unigram fit (packed-key Viterbi). */
  private def jvmFit(): (Map[String, Long], Map[String, Long],
      Map[String, Long], Map[String, Seq[String]]) = {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
    val words = texts.flatMap(_.split(" ", -1))
      .filter(w => w.nonEmpty && w.length <= 16)
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    def spansOf(w: String): Seq[(Int, Int, String)] =
      for {
        i <- 1 to w.length
        j <- math.max(i - 4, 0) until i
      } yield (i, j, w.substring(j, i))
    val f1 = words.toSeq.flatMap { case (w, c) =>
      spansOf(w).map(s => s._3 -> c)
    }.groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
    def costs(f: Map[String, Long]): Map[String, Long] = {
      val ft = f.values.sum
      f.map { case (p, v) =>
        p -> math.round(1000000.0 * math.log(ft.toDouble / v.toDouble))
      }
    }
    def viterbi(w: String, c: Map[String, Long]): Seq[String] = {
      val st = new Array[java.lang.Long](w.length + 1)
      st(0) = 0L
      for (i <- 1 to w.length) {
        val cands = spansOf(w).filter(_._1 == i).flatMap { case (_, j, p) =>
          for {cc <- c.get(p); sj <- Option(st(j))}
            yield (sj / 1024 + cc) * 1024 + j * 8 + (i - j)
        }
        st(i) = if (cands.isEmpty) null else cands.min
      }
      var pos = w.length
      var acc = List.empty[String]
      while (pos > 0) {
        val j = ((st(pos) % 1024) / 8).toInt
        acc = w.substring(j, pos) :: acc
        pos = j
      }
      acc
    }
    def usage(c: Map[String, Long]): Map[String, Long] =
      words.toSeq.flatMap { case (w, cnt) =>
        viterbi(w, c).map(_ -> cnt)
      }.groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
    val c1 = costs(f1)
    val u1 = usage(c1)
    val c2 = costs(u1)
    val u2 = usage(c2)
    val segs = words.keys.map(w => w -> viterbi(w, c2)).toMap
    (u1, c2, u2, segs)
  }

  test("q309 unigram fit replays bit-exactly from a JVM Viterbi") {
    val (u1, c2, u2, _) = jvmFit()
    val out = Registry.byName("q309_unigram_tokenizer").q(spark, sf).collect()
    assert(out.length == u1.size)
    out.foreach { r =>
      val p = r.getString(0)
      assert(r.getLong(1) == u1(p), s"$p used_r1")
      assert(r.getLong(2) == c2(p), s"$p cost_unats")
      assert(r.getLong(3) == u2.getOrElse(p, 0L), s"$p used_r2")
      assert(p.nonEmpty && p.length <= 4, "piece length contract")
    }
  }

  test("q310 serve replays from the JVM fit; segmentations reconstruct words") {
    val (_, _, _, segs) = jvmFit()
    segs.foreach { case (w, ps) =>
      assert(ps.mkString == w, s"pieces must concatenate back to '$w'")
    }
    val srcCnt = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1)
        .filter(w => w.nonEmpty && w.length <= 16).map(w => (r.getString(0), w)))
    def pdg(p: String): Long =
      p.foldLeft(0L)((a, ch) => (a * 131 + ch.toLong) % P)
    def wdg(ps: Seq[String]): Long =
      ps.foldLeft(0L)((a, p) => (a * 131 + pdg(p)) % P)
    val byS = srcCnt.groupBy(_._1)
    val out = Registry.byName("q310_unigram_publish_serve").q(spark, sf)
      .collect()
    assert(out.length == byS.size)
    out.foreach { r =>
      val ws = byS(r.getString(0)).map(_._2)
      assert(r.getLong(1) == ws.length.toLong, "n_words")
      assert(r.getLong(2) ==
        ws.map(w => segs(w).length.toLong).sum, "n_pieces")
      val dg = ws.groupBy(identity).map { case (w, g) =>
        (g.length.toLong % P) * wdg(segs(w)) % P
      }.sum % P
      assert(r.getLong(4) == dg, s"${r.getString(0)} piece_digest replay")
    }
  }

  test("q309/q310 plans: fit reads the corpus once; serve scans only" +
    " artifact + checkpointed corpus") {
    val fitDf = Registry.byName("q309_unigram_tokenizer").q(spark, sf)
    fitDf.collect()
    val fitScans = flattenPlan(fitDf.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // everything downstream of the word-count localCheckpoint: the final
    // plan touches no file at all
    assert(fitScans.isEmpty, "fit output derives from checkpoints only")
    val serveDf = Registry.byName("q310_unigram_publish_serve").q(spark, sf)
    serveDf.collect()
    val serveScans = flattenPlan(serveDf.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(serveScans.length == 1,
      "serve reads exactly the published artifact")
  }
}
