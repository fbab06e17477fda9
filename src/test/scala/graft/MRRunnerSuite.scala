package graft

import graft.mr.{JobRegistry, MRJob, MRRunner, MRSpec, WordCount}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._

/** MR-surface parity with the reference engine's semantics (worker.h,
  * mr_tasks.h — see SURVEY.md §2.1): word count over a committed prose
  * corpus, R output partitions, each key-sorted, every key in exactly one
  * partition, counts exact.
  */
class MRRunnerSuite extends SparkTestBase {
  import MRRunnerSuite.{FailingWordCount, TaskTotals, UncombinedWordCount}

  /** src/test/resources/mr/testdata_{1,2,3}.txt, written by
    * tools/gen_mr_testdata.py: every strtok delimiter, delimiter runs,
    * paragraphs wrapped over several lines; testdata_1 is over 64 KB. A
    * missing file fails the suite.
    */
  private val corpus: Seq[String] = Seq(1, 2, 3).map { i =>
    val url = getClass.getResource(s"/mr/testdata_$i.txt")
    assert(url != null, s"mr/testdata_$i.txt is missing from the test classpath")
    Paths.get(url.toURI).toString
  }

  private def spec(
      out: Path,
      inputs: Seq[String],
      r: Int,
      userId: String,
      mapKilobytes: Int = 500): MRSpec =
    MRSpec(
      nWorkers = 4,
      workerAddrs = (0 until 4).map(i => s"localhost:500$i"),
      inputFiles = inputs,
      outputDir = out.toString,
      nOutputFiles = r,
      mapKilobytes = mapKilobytes,
      userId = userId)

  private def listing(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  test("word count over the committed corpus matches a naive independent count") {
    val lines = spark.read.textFile(corpus: _*)
    val R = 8
    val result = MRRunner.transform(spark, lines, WordCount, R)
    val got = result.collect().map { case (k, v) => (k, v.toLong) }.toMap

    // independent oracle: plain Scala count on the driver
    val expected = spark.read.textFile(corpus: _*).collect()
      .iterator
      .flatMap(WordCount.tokenize)
      .foldLeft(Map.empty[String, Long]) { (m, w) => m.updated(w, m.getOrElse(w, 0L) + 1) }
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("output has R partitions, each key-sorted, keys disjoint across partitions") {
    val lines = spark.read.textFile(corpus: _*)
    val R = 8
    val result = MRRunner.transform(spark, lines, WordCount, R)
    assert(result.rdd.getNumPartitions == R)
    val perPart: Array[Seq[String]] = result.rdd
      .mapPartitions(it => Iterator(it.map(_._1).toSeq))
      .collect()
    assert(perPart.length == R)
    perPart.foreach { keys =>
      assert(keys == keys.sorted, "partition not key-sorted")
      assert(keys.distinct.size == keys.size, "duplicate key within a partition")
    }
    val all = perPart.flatten
    assert(all.distinct.size == all.size, "a key appeared in more than one partition")
  }

  test("full run writes exactly R text files in 'key value' format") {
    assertNoTmpdirLeak {
      val out = tempDir("mr_out").toString
      val spec = MRSpec(
        nWorkers = 4,
        workerAddrs = (0 until 4).map(i => s"localhost:500$i"),
        inputFiles = corpus,
        outputDir = out,
        nOutputFiles = 8,
        mapKilobytes = 500,
        userId = "cs6210")
      MRRunner.run(spark, spec)
      val parts = Files.list(Paths.get(out)).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq
      assert(parts.size == 8, s"expected 8 part files, got $parts")
      val lines = parts.flatMap(p =>
        Files.readAllLines(Paths.get(out, p)).asScala)
      assert(lines.nonEmpty)
      assert(lines.forall(_.matches("\\S+ \\S+")), "sink lines must be 'key value'")
    }
  }

  test("spec INI parse + validation mirrors the reference's checks") {
    assertNoTmpdirLeak {
      val outDir = tempDir("mr_spec_out").toString
      val ini =
        s"""n_workers=2
          |worker_ipaddr_ports=localhost:5000,localhost:5001
          |input_files=${corpus.head}
          |output_dir=$outDir
          |n_output_files=4
          |map_kilobytes=500
          |user_id=cs6210""".stripMargin
      val spec = MRSpec.fromIni(ini)
      assert(spec.nWorkers == 2 && spec.nOutputFiles == 4)
      assert(MRSpec.validate(spec).isEmpty)

      assert(MRSpec.validate(spec.copy(nWorkers = 3)).exists(_.contains("n_workers")))
      assert(MRSpec.validate(spec.copy(workerAddrs = Seq("localhost:99999", "x")))
        .exists(_.contains("port")))
      assert(MRSpec.validate(spec.copy(inputFiles = Seq("/no/such/file")))
        .exists(_.contains("missing")))
      assert(MRSpec.validate(spec.copy(mapKilobytes = 0)).nonEmpty)
      assert(MRSpec.validate(spec.copy(userId = "")).nonEmpty)
    }
  }

  test("spec validation probes output-dir writability (mapreduce_spec.h:147-155)") {
    assertNoTmpdirLeak {
      val spec = MRSpec(
        nWorkers = 1,
        workerAddrs = Seq("localhost:5000"),
        inputFiles = corpus.take(1),
        outputDir = "/proc/graft_no_such_writable_dir",
        nOutputFiles = 1,
        mapKilobytes = 500,
        userId = "cs6210")
      // /proc: exists-as-dir check passes for /proc itself? use both shapes —
      // a missing dir and an unwritable existing dir must each be rejected
      assert(MRSpec.validate(spec).exists(e =>
        e.contains("not writable") || e.contains("missing or not a directory")))
      assert(MRSpec.validate(spec.copy(outputDir = "/proc"))
        .exists(_.contains("not writable")))
      val ok = tempDir("mr_probe").toString
      assert(!MRSpec.validate(spec.copy(outputDir = ok))
        .exists(e => e.contains("not writable") || e.contains("missing")))
    }
  }

  test("run() restores the session split-size conf it scoped to the job") {
    assertNoTmpdirLeak {
      // the job's 64 KB split size must actually cut the input file
      assert(Files.size(Paths.get(corpus.head)) > 64 * 1024)
      val key = "spark.sql.files.maxPartitionBytes"
      val before = spark.conf.getOption(key)
      spark.conf.set(key, "134217728")
      try {
        val out = tempDir("mr_conf_out").toString
        val spec = MRSpec(
          nWorkers = 2,
          workerAddrs = Seq("localhost:5000", "localhost:5001"),
          inputFiles = corpus.take(1),
          outputDir = out,
          nOutputFiles = 2,
          mapKilobytes = 64,
          userId = "cs6210")
        MRRunner.run(spark, spec)
        // the MR job ran with its own 64 KB split size, but the session conf
        // must come back exactly as it was — later queries in the same session
        // must not inherit the job's split size
        assert(spark.conf.get(key) == "134217728",
          s"run() leaked its split-size override: ${spark.conf.get(key)}")
      } finally before match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("tokenizer matches strtok semantics on the reference delimiters") {
    val toks = WordCount.tokenize("""Hello, world. "it's  a test"""").toSeq
    // strtok(" ,.\"'") splits on every delimiter run, no empty tokens
    assert(toks == Seq("Hello", "world", "it", "s", "a", "test"))
    assert(WordCount.tokenize("").isEmpty)
    assert(WordCount.tokenize(" ,.'\"").isEmpty)
  }

  test("grep job: per-line occurrence counts, overlap-free, selective emission") {
    val g = new graft.mr.Grep("aba")
    // non-overlapping matches only — indexOf advances past the whole pattern
    assert(g.map("7:ababa").iterator.toSeq == Seq("7" -> "1"))
    assert(g.map("7:abaaba xabay").iterator.toSeq.size == 3)
    assert(g.map("7:zzz").iterator.isEmpty, "non-matching line must emit nothing")
    assert(g.map("no separator").iterator.isEmpty)
    assert(g.reduce("7", Seq("1", "1", "1")).iterator.toSeq == Seq("7" -> "3"))
    // the registered q177 matches an independent Scala sweep over the corpus
    import org.apache.spark.sql.functions.col
    val got = graft.queries.Registry.byName("q177_mr_grep").q(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val t = r.getString(1)
        var (i, n) = (t.indexOf("scan"), 0)
        while (i >= 0) { n += 1; i = t.indexOf("scan", i + 4) }
        r.getLong(0) -> n.toLong
      }.filter(_._2 > 0).toMap
    assert(got == direct, "MR grep diverges from the direct substring sweep")
  }

  JobRegistry.register("wordcount-uncombined", UncombinedWordCount)

  /** Runs `userId`'s job over the corpus with 64 KB splits (several map
    * tasks) and R = 8 into a fresh directory. Returns the directory and the
    * totals of the job's successful tasks.
    */
  private def runCountingShuffle(userId: String): (Path, TaskTotals) = {
    val out = tempDir("mr_combiner")
    val group = s"mr-combiner-$userId"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val totals = TaskTotals(new AtomicLong, new AtomicLong, new AtomicLong)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskInfo.successful && e.taskMetrics != null) {
          totals.shuffleRecords.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
          totals.outputRecords.addAndGet(e.taskMetrics.outputMetrics.recordsWritten)
          totals.outputBytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, userId)
    try MRRunner.run(spark, spec(out, corpus, 8, userId, mapKilobytes = 64))
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.SparkShim.drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    out -> totals
  }

  private def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)

  test("combiner: word count writes the same R part files, byte for byte, as the uncombined job") {
    assertNoTmpdirLeak {
      val (combined, _) = runCountingShuffle("wordcount")
      val (plain, _) = runCountingShuffle("wordcount-uncombined")
      val (a, b) = (partFiles(combined), partFiles(plain))
      assert(a.size == 8 && b.size == 8, s"expected 8 part files each, got ${a.size} and ${b.size}")
      a.zip(b).foreach { case (x, y) =>
        assert(Files.size(x) > 0, s"$x is empty")
        assert(java.util.Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y)),
          s"${x.getFileName} differs from ${y.getFileName}")
      }
    }
  }

  test("combiner: word count shuffles one record per (map task, word), the uncombined job one per token") {
    assertNoTmpdirLeak {
      val combined = runCountingShuffle("wordcount")._2.shuffleRecords.get
      val plain = runCountingShuffle("wordcount-uncombined")._2.shuffleRecords.get
      // the same 64 KB splits as the job's map tasks, counted independently
      val key = "spark.sql.files.maxPartitionBytes"
      val before = spark.conf.getOption(key)
      spark.conf.set(key, 64L * 1024)
      val lines =
        try spark.read.textFile(corpus: _*).rdd
        finally before match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      val tasks = lines.getNumPartitions
      val taskWords = lines.mapPartitions(it => it.flatMap(WordCount.tokenize).distinct).count()
      val tokens = lines.flatMap(WordCount.tokenize).count()
      assert(tasks > 1, s"expected several map tasks, got $tasks")
      assert(combined == taskWords, s"combined job shuffled $combined records, expected $taskWords")
      assert(plain == tokens, s"uncombined job shuffled $plain records, expected $tokens")
      assert(combined < plain)
    }
  }

  test("run writes exactly R part files, indexed by key-hash partition, then _SUCCESS") {
    assertNoTmpdirLeak {
      val in = tempFile("mr_abc", ".txt").toPath
      Files.write(in, "a b c\n".getBytes(UTF_8))
      val out = tempDir("mr_abc_out")
      MRRunner.run(spark, spec(out, Seq(in.toString), 8, "wordcount"))
      val parts = (0 until 8).map(r => f"part-$r%05d")
      assert(listing(out) == (parts :+ "_SUCCESS").sorted)
      // Spark's pmod(hash(k), 8): a → 2, b → 1, c → 2
      val want = Map(1 -> "b 1\n", 2 -> "a 1\nc 1\n").withDefaultValue("")
      parts.zipWithIndex.foreach { case (p, r) =>
        assert(new String(Files.readAllBytes(out.resolve(p)), UTF_8) == want(r), s"$p")
      }
      assert(Files.size(out.resolve("_SUCCESS")) == 0)
    }
  }

  JobRegistry.register("wordcount-fails", new FailingWordCount("worker"))

  test("a failed job leaves no _SUCCESS and no temp file; a rerun replaces only stale output") {
    assertNoTmpdirLeak {
      val out = tempDir("mr_stale")
      Files.write(out.resolve("notes.txt"), "kept\n".getBytes(UTF_8))
      assert(WordCount.tokenize(Files.readString(Paths.get(corpus.head))).contains("worker"))
      val e = intercept[Exception](MRRunner.run(spark, spec(out, corpus, 8, "wordcount-fails")))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("reduce fails on worker")), e)
      assert(!listing(out).contains("_SUCCESS"), listing(out))
      assert(!listing(out).exists(n => n.startsWith(".part-") && n.endsWith(".tmp")), listing(out))

      MRRunner.run(spark, spec(out, corpus, 8, "wordcount"))
      assert(listing(out).count(_.startsWith("part-")) == 8)
      MRRunner.run(spark, spec(out, corpus, 4, "wordcount"))
      assert(listing(out) ==
        ((0 until 4).map(r => f"part-$r%05d") ++ Seq("_SUCCESS", "notes.txt")).sorted)
      assert(Files.readString(out.resolve("notes.txt")) == "kept\n")
    }
  }

  test("the reduce tasks report the part files' lines and bytes as their output metrics") {
    assertNoTmpdirLeak {
      val (out, totals) = runCountingShuffle("wordcount")
      val parts = partFiles(out)
      assert(parts.size == 8)
      val lines = parts.map(p => Files.readAllLines(p, UTF_8).size.toLong).sum
      val bytes = parts.map(Files.size).sum
      assert(lines > 0)
      assert(totals.outputRecords.get == lines)
      assert(totals.outputBytes.get == bytes)
    }
  }
}

object MRRunnerSuite {

  /** What the tasks of one job reported to Spark's listeners. */
  final case class TaskTotals(
      shuffleRecords: AtomicLong,
      outputRecords: AtomicLong,
      outputBytes: AtomicLong)

  /** Word count whose reduce fails on the key `bad`. Not Combinable, so the
    * failure happens in the reduce stage, where the part files are written.
    */
  final class FailingWordCount(bad: String) extends MRJob {
    def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
    def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
      if (key == bad) throw new IllegalStateException(s"reduce fails on $bad")
      else WordCount.reduce(key, values)
  }

  /** Word count without the [[graft.mr.Combinable]] marker: same map and
    * reduce, so it takes the plain shuffle-every-pair plan.
    */
  object UncombinedWordCount extends MRJob {
    def map(line: String): IterableOnce[(String, String)] = WordCount.map(line)
    def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
      WordCount.reduce(key, values)
  }
}
