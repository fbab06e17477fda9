package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.queries.Registry
import graft.streaming.{BoundedStreams, EventStreams}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming surface vs the equivalent batch operators: the same events must
  * produce the same aggregates whether processed bounded-batch or as a
  * stream (AvailableNow).
  */
class StreamingSuite extends SparkTestBase {

  /** A multi-batch arrival stream from the fixture: two time-ordered
    * chunks plus two far-future sentinel events (user −1) whose batches push
    * the watermark past all real data, one micro-batch per chunk.
    */
  private def arrivalStream(name: String): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val maxTs = ev.agg(max("ts")).head().getLong(0)
    val mid = ev.agg(expr("percentile(ts, 0.5)")).head().getDouble(0).toLong
    val dayNs = 24L * 3600 * 1000 * 1000 * 1000
    def sentinel(id: Long, ts: Long) =
      Seq((id, ts, -1L, "view", 0.0)).toDF("event_id", "ts", "user_id", "event_type", "value")
    BoundedStreams.arrivals(spark, name, Seq(
      ev.filter(col("ts") <= mid),
      ev.filter(col("ts") > mid),
      sentinel(9000001L, maxTs + dayNs),
      sentinel(9000002L, maxTs + 2 * dayNs)))
  }

  test("stream hourly counts == batch hourly counts (modulo avg col)") {
    val streamRows = Registry.byName("q29_stream_hourly").q(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batchRows = Registry.byName("q25_events_hourly").q(spark, sf)
      .select(col("hour_epoch"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamRows.toSeq == batchRows.toSeq)
  }

  test("watermarked sessionize: state expires via EventTimeTimeout and finals match q26") {
    val s = spark
    import s.implicits._
    val src = arrivalStream("wm_events").as[EventStreams.EventRow]
    val out = EventStreams.sessionizeWatermarked(src, "0 seconds")
    // emissions are additive per activity epoch — SUM per user must equal
    // the batch sessionize (here each user happens to close in one epoch,
    // so this also exercises the documented consumption pattern)
    val finals = BoundedStreams.toMemory(out, "test_wm_sessionize", OutputMode.Append)
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(sum(col("n_sessions")).as("s"), sum(col("n_events")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = Registry.byName("q26_sessionize").q(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(finals.toSet == batch,
      s"watermarked finals != batch sessionize (missing: ${batch.diff(finals.toSet).take(5)})")
  }

  test("watermarked hourly agg: closed windows equal the batch aggregate") {
    val out = EventStreams.hourlyCountsWatermarked(arrivalStream("wm_hourly"), "0 seconds")
    val closed = BoundedStreams.toMemory(out, "test_wm_hourly", OutputMode.Append)
    // every real-data hour closes below the sentinel-driven watermark; the
    // sentinel hours themselves may or may not have closed — exclude them
    val batch = Registry.byName("q25_events_hourly").q(spark, sf)
      .select(col("hour_epoch"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val maxRealHour = batch.map(_._1).max
    val got = closed
      .filter(col("hour_epoch") <= maxRealHour)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == batch,
      s"closed windows != batch agg (missing: ${batch.diff(got).take(5)})")
  }

  test("q79 stream dedup == q68 == batch aggregate on the bounded fixture") {
    val wm = Registry.byName("q79_stream_dedup_wm").q(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val unbounded = Registry.byName("q68_stream_dedup").q(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(wm == unbounded, "watermarked dedup diverged from unbounded dedup")
  }

  test("dropDuplicatesWithinWatermark: dup suppressed within delay, state expires after") {
    val s = spark
    import s.implicits._
    // four micro-batches (mod-time ordered, maxFilesPerTrigger=1):
    //   b1: id=1 @ t=0        -> emitted (fresh key)
    //   b2: id=1 @ t=1min     -> suppressed (within the 10 min delay)
    //   b3: id=2 @ t=100min   -> emitted; pushes the max event time to 100min
    //   b4: id=3 @ t=101min   -> emitted; runs with watermark 90min, so id=1's
    //                            state (expiry 11min) is evicted by batch end
    //                            (eviction happens at the end of the batch the
    //                            advanced watermark is applied to)
    //   b5: id=1 @ t=102min   -> EMITTED AGAIN: the key's state is gone -- the
    //                            documented WithinWatermark re-admission that
    //                            bounds state where dropDuplicates never would
    val minUs = 60L * 1000 * 1000
    def batch(id: Long, tsUs: Long) = Seq((id, tsUs)).toDF("event_id", "ts_us")
      .withColumn("event_time", expr("timestamp_micros(ts_us)"))
      .select("event_id", "event_time")
    val src = BoundedStreams.arrivals(spark, "wm_dedup", Seq(
      batch(1L, 0L),
      batch(1L, 1 * minUs),
      batch(2L, 100 * minUs),
      batch(3L, 101 * minUs),
      batch(1L, 102 * minUs)))
    val out = src.withWatermark("event_time", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val got = BoundedStreams.toMemory(out, "test_wm_dedup", OutputMode.Append)
      .groupBy(col("event_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L),
      s"expected id=1 re-admitted after expiry (2 emissions) and the in-delay " +
        s"dup suppressed, got $got")
  }

  test("late bridging event across batches lowers the final session count") {
    val s = spark
    import s.implicits._
    // batch 1: events at t=0 and t=40min → 2 sessions; batch 2 delivers a
    // LATE event at t=20min that merges them into one. n_sessions is
    // non-monotonic, so the final answer must come from the LATEST batch
    // (seq), never max(n_sessions).
    val minNs = 60L * 1000 * 1000 * 1000
    def batch(rows: (Long, Long, Long, String, Double)*) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val src = BoundedStreams.arrivals(spark, "late_bridge", Seq(
      batch((1L, 0L, 7L, "view", 0.0), (2L, 40 * minNs, 7L, "view", 0.0)),
      batch((3L, 20 * minNs, 7L, "view", 0.0))))
      .as[EventStreams.EventRow]
    val drained = BoundedStreams.toMemory(
      EventStreams.sessionize(src), "test_late_bridge", OutputMode.Append)
    val emissions = drained
      .orderBy(col("seq")).collect()
      .map(r => (r.getLong(3), r.getLong(1), r.getLong(2))) // (seq, n_sessions, n_events)
    assert(emissions.toSeq == Seq((1L, 2L, 2L), (2L, 1L, 3L)),
      s"unexpected emissions: ${emissions.toSeq}")
    // the registered q63 selection (max_by seq) returns the merged count
    val fin = drained
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_sessions"), col("n_events")), col("seq")).as("last"))
      .select(col("last.n_sessions"), col("last.n_events")).head()
    assert(fin.getLong(0) == 1L && fin.getLong(1) == 3L)
  }

  test("interval-state sessionize handles a hot user and out-of-order arrival") {
    assertNoTmpdirLeak {
      val s = spark
      import s.implicits._
      val gapNs = 30L * 60 * 1000 * 1000 * 1000
      // 100k events for ONE user: runs of 1000 events 1s apart, then a jump
      // past the gap → 100 sessions. Shuffled order: interval state must not
      // depend on arrival order (and must never buffer/sort the batch).
      val nRuns = 100
      val perRun = 1000
      val ts = for {
        r <- 0 until nRuns
        i <- 0 until perRun
      } yield r.toLong * (perRun * 1000000000L + 2 * gapNs) + i * 1000000000L
      val shuffled = new scala.util.Random(7).shuffle(ts.toVector)
      import scala.collection.mutable.ArrayBuffer
      val buf = ArrayBuffer.empty[EventStreams.SessionInterval]
      shuffled.foreach(t => EventStreams.mergeEvent(buf, t, gapNs))
      assert(buf.length == nRuns, s"expected $nRuns sessions, got ${buf.length}")
      assert(buf.iterator.map(_.n).sum == nRuns.toLong * perRun)
      // and through the real streaming operator (single AvailableNow batch)
      val dir = tempDir("hot_events").toString
      shuffled.zipWithIndex
        .map { case (t, i) => (i.toLong, t, 42L, "view", 1.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(4).write.parquet(s"$dir/e")
      val src = spark.readStream
        .schema(spark.read.parquet(s"$dir/e").schema)
        .parquet(s"$dir/e")
        .as[EventStreams.EventRow]
      val row = BoundedStreams.toMemory(
        EventStreams.sessionize(src), "test_hot_sessionize", OutputMode.Append)
        .groupBy(col("user_id"))
        .agg(max(col("n_sessions")).as("s"), max(col("n_events")).as("n"))
        .head()
      assert(row.getLong(1) == nRuns.toLong && row.getLong(2) == nRuns.toLong * perRun)
    }
  }

  test("flatMapGroupsWithState sessionize == batch window sessionize (q26)") {
    val s = spark
    import s.implicits._
    // run the stateful function through a memory-sink stream over the same
    // data. Read with the RAW file schema, then normalize — declaring the
    // normalized Long schema over a TIMESTAMP(MICROS) file would silently
    // read micro longs and break the nano gap math (the production sources
    // in EventStreams use exactly this raw-schema + normalize idiom).
    val src = Tables.normalizeEventTs(
      BoundedStreams.table(spark, sf, "events")
        .select("event_id", "ts", "user_id", "event_type", "value"))
      .as[EventStreams.EventRow]
    val out = EventStreams.sessionize(src)
    val got = BoundedStreams.toMemory(out, "test_sessionize", OutputMode.Append)
      .groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n_sessions"), max(col("n_events")).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Registry.byName("q26_sessionize").q(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch)
  }

  test("q139 streaming ingest: redelivered chunk re-converges, admissions persist") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val root = Dedup.dedupStreamRoot(sf)
    // drain the stream once (build-if-absent inside)
    val acct1 = Registry.byName("q139_stream_ingest").q(spark, sf)
      .collect()(0)
    assert(acct1.getBoolean(0), "expected >= 2 micro-batches")
    val gen1 = graft.sources.Artifacts.currentGeneration(spark, root)
    val ids1 = spark.read.parquet(s"$gen1/index")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // REDELIVERY of one already-processed chunk (the novel-parity half):
    // a retried foreachBatch turn must re-converge — same index content
    // under a fresh generation, earlier admissions untouched
    val redelivered = Dedup.mixedBatch(spark, sf).filter(col("doc_id") % 2 === 1)
    Dedup.ingestChunk(spark, root, sf, redelivered)
    val gen2 = graft.sources.Artifacts.currentGeneration(spark, root)
    assert(gen1 != gen2, "retry must publish a FRESH generation name")
    val ids2 = spark.read.parquet(s"$gen2/index")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids2 == ids1, "redelivered chunk must not change the index content")
  }

  test("multi-epoch exactly-once publish: ≥2 epochs, retry no-ops, crash dir invisible") {
    assertNoTmpdirLeak {
      import graft.sources.Artifacts
      // two arrival chunks (even/odd event ids), so exactly two micro-batches
      val ev = Tables.events(spark, sf)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val src = BoundedStreams.arrivals(spark, "pub_src",
        Seq(ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 === 1)))
      val root = tempDir("graft_pub_root").toString + "/tbl"
      BoundedStreams.forEachBatch(src, "test_epoch_publish") { (batch, batchId) =>
        Artifacts.commitEpoch(batch.sparkSession, root, batch, f"epoch-$batchId%09d")
      }
      val nEvents = ev.count()
      assert(Artifacts.committedEpochs(spark, root).size == 2,
        "maxFilesPerTrigger=1 over two files must commit two epochs")
      assert(Artifacts.readEpochs(spark, root).count() == nEvents)
      // SIMULATED RETRY of a committed epoch (redelivery after the manifest
      // swap landed but before the checkpoint recorded it): must NO-OP —
      // no double-append, and the already-published dir is not rewritten
      // (we pass a deliberately DIFFERENT batch; any rewrite would change
      // the union count).
      Artifacts.commitEpoch(spark, root, ev, "epoch-000000000")
      assert(Artifacts.committedEpochs(spark, root).size == 2, "retry must not add an epoch")
      assert(Artifacts.readEpochs(spark, root).count() == nEvents, "retry must not change data")
      // CRASH-BEFORE-SWAP: a dir written but never listed is invisible
      ev.limit(5).write.parquet(s"$root/epoch-000000099")
      assert(Artifacts.readEpochs(spark, root).count() == nEvents,
        "unlisted epoch dir must be invisible to readers")
      // a genuinely new epoch appends exactly its own rows
      Artifacts.commitEpoch(spark, root, ev.limit(7), "epoch-000000002")
      assert(Artifacts.committedEpochs(spark, root).size == 3)
      assert(Artifacts.readEpochs(spark, root).count() == nEvents + 7)
    }
  }

  test("q176 streaming anomaly monitor emits exactly the batch q153 alerts") {
    // the deployment-equality proof (the q139 pattern): the streamed rollup
    // joined to the history-trained thresholds must flag the SAME hours as
    // the pure-batch detector — row for row, z included
    val streamed = Registry.byName("q176_stream_anomaly")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q153_anomaly_3sigma")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      "streaming monitor diverges from the batch detector on identical data")
    assert(streamed.nonEmpty)
  }

  test("q220 dead letter: counts partition the stream, rerun is idempotent") {
    val rows = Registry.byName("q220_stream_dead_letter").q(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(rows.map(r => r.getLong(1) + r.getLong(2) + r.getLong(3)).sum == total,
      "first + on-time + late must partition every event")
    assert(rows.map(_.getLong(3)).sum > 0, "fixture jitter must produce late rows")
    val wms = rows.map(_.getLong(5)).distinct
    assert(wms.length == 1, "one frozen watermark across all types")
    rows.foreach { r =>
      assert(r.getLong(4) ==
        r.getLong(3) * 1000000L / math.max(r.getLong(2) + r.getLong(3), 1L))
    }
    // exactly-once accounting: a full redelivery (second run over the same
    // content-keyed dirs) must reproduce identical bytes
    val again = Registry.byName("q220_stream_dead_letter").q(spark, sf).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq,
      "rerun diverged -- the sinks are not content-keyed idempotent")
  }

  test("q267 streaming session_window equals the batch native form row-for-row") {
    val streamRows = Registry.byName("q267_stream_session_window")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    val batchRows = Registry.byName("q212_session_window_native")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamRows == batchRows,
      "streaming session_window diverged from the batch native sessionize")
    assert(streamRows.nonEmpty)
    // the drained memory table carries raw per-session rows — the streaming
    // session-window machinery actually ran and emitted one row per session
    val sess = spark.table("graft_stream_session")
    assert(sess.columns.toSeq == Seq("user_id", "n_ev", "span_us"))
    // every per-user session count in the drained table matches the final agg
    val perUser = sess.groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (r <- Registry.byName("q267_stream_session_window").q(spark, sf).collect())
      assert(perUser(r.getLong(0)) == r.getLong(1), s"user ${r.getLong(0)}")
  }

  test("q294 streaming PII redact equals the batch q284 row-for-row") {
    val streamRows = Registry.byName("q294_stream_pii_redact")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    val batchRows = Registry.byName("q284_pii_redact")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamRows == batchRows,
      "streaming redact diverged from the batch scan — the shared-oracle " +
        "parity claim would be vacuous")
    assert(streamRows.nonEmpty && streamRows.exists(_(6).asInstanceOf[Long] > 0),
      "the stream must actually see injected PII")
  }

  test("q304 streaming byte-BPE equals batch q297; artifact learn runs once") {
    val streamRows = Registry.byName("q304_stream_byte_bpe")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    val batchRows = Registry.byName("q297_byte_bpe_encode")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    assert(streamRows == batchRows,
      "streaming byte-BPE encode diverged from the batch form — the " +
        "shared-oracle parity claim would be vacuous")
    // every doc round-trips through the stream too (no-OOV under deployment)
    assert(streamRows.forall(_(5).asInstanceOf[Long] == 0L))
    // the merge artifact published once; a re-run converges and neither
    // re-learns nor republishes (generation dir untouched)
    val root = graft.sources.Sources.scratch(sf, "byte_bpe_merges")
    val gen = graft.sources.Artifacts.currentGeneration(spark, root)
    val files1 = spark.read.parquet(s"$gen/merges").inputFiles.sorted.toSeq
    val again = Registry.byName("q304_stream_byte_bpe")
      .q(spark, sf).collect().map(_.toSeq).toSeq
    assert(again == streamRows, "stream re-run must converge")
    assert(spark.read.parquet(s"$gen/merges").inputFiles.sorted.toSeq == files1,
      "re-run must not re-learn or rewrite the published merge artifact")
  }

  test("q139, q205 and q220 leave no directory in java.io.tmpdir but the scratch root") {
    // arrival chunks land under the JVM's scratch root, which is removed at
    // exit; a per-run temp dir of their own would outlive the JVM. The
    // first run also extracts what the JVM puts in tmpdir once (native
    // codec libraries, the session's artifact dir), so list around a re-run.
    def runAll(): Unit =
      for (name <- Seq("q139_stream_ingest", "q205_stream_cluster_assign",
          "q220_stream_dead_letter"))
        assert(Registry.byName(name).q(spark, sf).collect().nonEmpty, name)
    runAll()
    assertNoTmpdirLeak(runAll())
  }

  test("a bounded stream gives the same rows when it runs twice in one session") {
    // Bench and Verify re-run queries in one JVM: Complete (q322) and
    // Append (q63) memory tables must be rebuilt, not appended to
    for (name <- Seq("q322_stream_hll", "q63_stream_sessionize")) {
      val q = Registry.byName(name).q
      val first = q(spark, sf).collect().map(_.toSeq).toSet
      val second = q(spark, sf).collect().map(_.toSeq).toSet
      assert(first.nonEmpty && second == first, s"$name re-run diverged")
    }
    assert(spark.streams.active.isEmpty, "a drained stream is still active")
  }

  test("a bounded stateful stream starts no process") {
    // Hadoop's local file system starts a readlink or chmod process for each
    // rename, create and mkdirs when libhadoop is absent; the checkpoint
    // manager and the in-process checkpoint delete must leave none
    assertNoProcess(
      assert(Registry.byName("q322_stream_hll").q(spark, sf).collect().nonEmpty))
  }

  test("a bounded stream's second run compiles no generated class") {
    // each run plans in a cloned session of its own; the generated classes
    // of the first run must serve the second. Streaming micro-batches run
    // without AQE, so their stage ids, which are part of the class text,
    // are the same on both runs.
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(): Unit = BoundedStreams.toMemory(
      BoundedStreams.table(spark, sf, "events").groupBy(col("event_type")).count(),
      "test_recompile", OutputMode.Complete): Unit
    run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"the second run compiled $compiled generated classes")
    assert(spark.table("test_recompile").count() > 0)
  }

  test("q72 plans its micro-batches without a StreamingJoinHelper error") {
    // a join conjunct that is not an event-time bound makes Spark log an
    // INTERNAL_ERROR stack trace each time it plans a micro-batch; capture
    // every WARN of the run (the test session logs ERROR only)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("q72_capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = logged.add(
        (e.getMessage.getFormattedMessage +: Iterator.iterate(e.getThrown)(_.getCause)
          .takeWhile(_ != null).map(String.valueOf(_)).toSeq).mkString("\n"))
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val level = root.getLevel
    root.addAppender(capture, Level.WARN, null)
    root.setLevel(Level.WARN)
    ctx.updateLoggers()
    try assert(Registry.byName("q72_stream_stream_join").q(spark, sf).collect().nonEmpty)
    finally {
      root.removeAppender(capture.getName)
      root.setLevel(level)
      ctx.updateLoggers()
      capture.stop()
    }
    val errors = logged.asScala.filter(_.contains("Cannot evaluate expression"))
    assert(errors.isEmpty, s"${errors.size} warnings, the first:\n${errors.headOption.mkString}")
  }

  test("a stream resumes from a checkpoint the local manager wrote") {
    val dir = tempDir("resume")
    val src = Files.createDirectories(dir.resolve("src"))
    val checkpoint = dir.resolve("checkpoint")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("event_type"))
    val chunks = (0 until 3).map(i => ev.filter(col("event_id") % 3 === i))
    // one parquet file per chunk, with increasing mod times, as arrivals lands them
    def land(i: Int): Unit = {
      val stage = s"$dir/stage_$i"
      chunks(i).coalesce(1).write.parquet(stage)
      val part = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      val target = src.resolve(f"chunk_$i%04d.parquet")
      Files.move(part.toPath, target)
      target.toFile.setLastModified(1000000L * (i + 1))
    }
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type")).agg(count(lit(1)).as("n"), sum(col("event_id")).as("ids"))
    // runs the stream to completion; returns the rows its batches read
    def drain(): Long = {
      val q = agg(spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$src/chunk_*.parquet"))
        .writeStream.format("memory").queryName("test_resume").outputMode(OutputMode.Complete)
        .option("checkpointLocation", checkpoint.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    land(0)
    land(1)
    assert(drain() == chunks(0).count() + chunks(1).count())
    assert(Files.exists(checkpoint.resolve("offsets/.1.crc")))
    land(2)
    assert(drain() == chunks(2).count(), "the restart must read only the new chunk")
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(spark.table("test_resume")) == rows(agg(ev)))
    assert(!scala.util.Using.resource(Files.walk(checkpoint))(
      _.iterator.asScala.exists(_.toString.endsWith(".tmp"))))
  }
}
