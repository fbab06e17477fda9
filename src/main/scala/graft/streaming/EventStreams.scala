package graft.streaming

import graft.Tables
import graft.queries.Entry
import graft.queries.OracleSql._
import graft.sources.Artifacts
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Structured Streaming surface over `events`: the same time-series semantics
  * as the batch operators (EventOps), expressed as streams.
  *
  *   - [[hourlyCountsStream]]: readStream → event-time tumbling window agg →
  *     memory sink. q29 drains it as a [[BoundedStreams]] run over the fixture
  *     parquet, so the driver's batch oracle applies verbatim — the point is
  *     that the SAME aggregation runs unbounded with a watermark in
  *     production.
  *   - [[sessionize]]: keyed session state via flatMapGroupsWithState. State
  *     is a set of disjoint session INTERVALS, not an event buffer: each
  *     event folds in as it streams past (merge into a neighboring interval
  *     or open a new one), so per-user memory is O(#open sessions) — a hot
  *     user with millions of events in one batch costs interval bookkeeping,
  *     never a sort or a materialized batch. Interval state is also
  *     ORDER-INSENSITIVE: late/out-of-order arrivals (which a multi-file
  *     FileStreamSource does not forbid) land in the right session exactly,
  *     for as long as the state is retained.
  *   - [[sessionizeWatermarked]]: the production form — event-time watermark
  *     + EventTimeTimeout. Per-user state expires (and emits its final
  *     aggregate) once the watermark passes last-event + gap, so unbounded
  *     runs hold state only for open sessions; events later than the
  *     watermark delay are dropped by Spark (the documented lateness
  *     contract, vs. the NoTimeout form which accepts any lateness but
  *     retains state forever).
  */
object EventStreams {

  final case class EventRow(event_id: Long, ts: Long, user_id: Long,
                            event_type: String, value: Double)

  /** Per-user emission. `seq` is the state's batch counter: interval state
    * makes n_sessions NON-monotonic across micro-batches (a late event can
    * MERGE two sessions and lower the count), so "latest emission wins" must
    * be decided by seq — never by max(n_sessions).
    */
  final case class SessionAgg(user_id: Long, n_sessions: Long, n_events: Long,
                              seq: Long)

  /** One session: [start, end] in event-time nanos, n = events folded in. */
  final case class SessionInterval(start: Long, end: Long, n: Long)
  final case class SessionState(intervals: Seq[SessionInterval], seq: Long)

  /** Event-time row for the watermarked path (event_time = ts in micros). */
  final case class TimedEvent(event_id: Long, ts: Long, user_id: Long,
                              event_time: java.sql.Timestamp)

  private val SessionGapNs = 30L * 60 * 1000 * 1000 * 1000

  /** Fold one event time into a start-sorted disjoint interval set: extend /
    * bridge neighbors within the gap, else open a new interval. O(#intervals)
    * per event (append-fast for in-order arrivals); the set stays tiny
    * because intervals are maximal sessions, never raw events.
    */
  private[graft] def mergeEvent(
      iv: ArrayBuffer[SessionInterval], t: Long, gap: Long): Unit = {
    var idx = iv.indexWhere(_.start > t)
    if (idx < 0) idx = iv.length
    val p = idx - 1
    val mergePrev = p >= 0 && t - iv(p).end <= gap
    val mergeNext = idx < iv.length && iv(idx).start - t <= gap
    if (mergePrev && mergeNext) { // t bridges two sessions into one
      iv(p) = SessionInterval(iv(p).start, iv(idx).end, iv(p).n + iv(idx).n + 1)
      iv.remove(idx)
    } else if (mergePrev) {
      iv(p) = SessionInterval(iv(p).start, math.max(iv(p).end, t), iv(p).n + 1)
    } else if (mergeNext) {
      iv(idx) = SessionInterval(t, iv(idx).end, iv(idx).n + 1)
    } else {
      iv.insert(idx, SessionInterval(t, t, 1))
    }
  }

  private def folded[T](
      state: GroupState[SessionState],
      rows: Iterator[T],
      ts: T => Long): ArrayBuffer[SessionInterval] = {
    val buf = ArrayBuffer.from(state.getOption.map(_.intervals).getOrElse(Seq.empty))
    rows.foreach(e => mergeEvent(buf, ts(e), SessionGapNs))
    buf
  }

  /** Event-time hourly tumbling counts as a stream. `ts` arrives as epoch
    * nanos (long); we bucket in exact integer math and aggregate on the
    * bucket — watermarkable via timestamp_micros(bucket) in production (here
    * complete-mode over a bounded source, so results are exact and
    * oracle-comparable).
    */
  def hourlyCountsStream(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.normalizeEventTs(BoundedStreams.table(spark, dir, "events"))
    val agg = src
      .withColumn(
        "hour_epoch",
        ((col("ts") - pmod(col("ts"), lit(3600L * 1000 * 1000 * 1000))) /
          lit(1000000000L)).cast("long"))
      .groupBy(col("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    BoundedStreams.toMemory(agg, "graft_stream_hourly", OutputMode.Complete)
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  /** Production form of the hourly aggregate: event-time tumbling window +
    * watermark, Append mode — each (hour, type) row is emitted exactly once,
    * when the watermark passes the window end, and its state is dropped.
    * q29's Complete-mode form is the bounded/oracle-comparable variant of
    * this same aggregation; StreamingSuite proves the closed windows here
    * equal the batch q25 results.
    */
  def hourlyCountsWatermarked(events: DataFrame, delay: String): DataFrame =
    events
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("window.start").cast("long").as("hour_epoch"),
        col("event_type"),
        col("n"),
        col("sum_value"))

  /** Gap-based sessionization with interval state and no timeout: accepts
    * arbitrarily late events exactly (they fold into the right interval),
    * state lives for the run — the bounded-input/backfill form. Emits the
    * per-user totals-so-far each batch.
    */
  def sessionize(events: Dataset[EventRow]): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAgg](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) =>
          val buf = folded(state, rows, (e: EventRow) => e.ts)
          val seq = state.getOption.map(_.seq).getOrElse(0L) + 1
          state.update(SessionState(buf.toSeq, seq))
          Iterator(SessionAgg(userId, buf.length.toLong, buf.iterator.map(_.n).sum, seq))
      }
  }

  /** Production sessionization: event-time watermark + state expiry. When
    * the watermark passes a user's last event + gap, their state emits its
    * final aggregate and is removed. Emissions are PER ACTIVITY EPOCH and
    * ADDITIVE: a user active again after an expiry starts a fresh state
    * (seq restarts too), so downstream totals are the SUM of that user's
    * emissions — unlike [[sessionize]], whose running totals-so-far are
    * deduplicated by latest seq. Each epoch's sessions are disjoint by
    * construction (expiry requires a ≥gap quiet period at the watermark),
    * so the sums are exact.
    */
  def sessionizeWatermarked(
      events: Dataset[EventRow], delay: String): Dataset[SessionAgg] = {
    val s = events.sparkSession
    import s.implicits._
    val gapMs = SessionGapNs / 1000000L
    events
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("event_time", delay)
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAgg](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[TimedEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(SessionAgg(userId, st.intervals.length.toLong,
              st.intervals.iterator.map(_.n).sum, st.seq))
          } else {
            val buf = folded(state, rows, (e: TimedEvent) => e.ts)
            val seq = state.getOption.map(_.seq).getOrElse(0L) + 1
            state.update(SessionState(buf.toSeq, seq))
            // expire once the watermark passes last event + gap (timeout must
            // sit strictly beyond the current watermark)
            val lastEndMs = buf.iterator.map(_.end).max / 1000000L
            state.setTimeoutTimestamp(
              math.max(lastEndMs + gapMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** The stateful sessionize as a driver-checked query: stream the fixture
    * through [[sessionize]] with AvailableNow + memory sink; bounded input ⇒
    * results equal the batch q26 oracle exactly.
    */
  def sessionizeStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.normalizeEventTs(
      BoundedStreams.table(spark, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value"))
      .as[EventRow]
    BoundedStreams.toMemory(sessionize(src), "graft_stream_sessions", OutputMode.Append)
      // one row per user per micro-batch → the LATEST batch (highest seq)
      // wins; n_sessions itself is non-monotonic (late events merge
      // sessions), so max(n_sessions) would keep a stale count
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("n_sessions"), col("n_events")), col("seq")).as("last"))
      .select(
        col("user_id"),
        col("last.n_sessions").as("n_sessions"),
        col("last.n_events").as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Streaming exact dedup: two sources over the same files union into a
    * stream where every event arrives twice; stateful dropDuplicates on the
    * event id keeps exactly one. The downstream aggregate equals the plain
    * batch aggregate over the single corpus — which is precisely what the
    * oracle checks, so a dedup that leaked or over-dropped fails the hash.
    * (Bounded run ⇒ unbounded dedup state is fine; the production variant
    * with state expiry is [[streamDedupWatermarked]], registered as q79.)
    */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    def src = BoundedStreams.table(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val deduped = src.union(src).dropDuplicates("event_id")
    val agg = deduped
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    BoundedStreams.toMemory(agg, "graft_stream_dedup", OutputMode.Complete)
      .orderBy(col("event_type"))
  }

  /** Production streaming dedup: `dropDuplicatesWithinWatermark`. State for
    * a key is dropped once the watermark passes that key's event time plus
    * the delay, so an unbounded run holds state only for the trailing
    * window — unlike [[streamDedup]]'s `dropDuplicates`, whose state grows
    * with the distinct-key count forever. The guarantee weakens to match:
    * duplicates are suppressed only when they arrive within the watermark
    * delay of the first copy — exactly the at-least-once-ingest
    * redelivery window a pipeline actually needs to absorb.
    *
    * Here the doubled copies of each event arrive in the same micro-batch
    * (both unioned sources list the same files) and the watermark only
    * advances BETWEEN batches, so no key's state can expire before its
    * duplicate is seen: bounded AvailableNow results equal the batch
    * aggregate exactly, which is what the oracle checks. StreamingSuite
    * additionally proves the expiry semantics on a multi-batch arrival
    * sequence (dup within the delay suppressed; same key re-admitted after
    * its state expired).
    */
  def streamDedupWatermarked(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.normalizeEventTs(BoundedStreams.table(spark, dir, "events"))
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
      .select(col("event_id"), col("event_type"), col("value"), col("event_time"))
    val deduped = src.union(src)
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val agg = deduped
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    BoundedStreams.toMemory(agg, "graft_stream_dedup_wm", OutputMode.Complete)
      .orderBy(col("event_type"))
  }

  /** Stream-stream inner join with event-time watermarks — the stateful
    * operator class where both sides buffer: clicks join purchases of the
    * same user within the following hour. Watermarks on BOTH sides plus the
    * time-range join condition bound each side's buffered state (Spark
    * evicts click state once the watermark passes click_time + 1 h — this
    * is what makes an unbounded run viable); the range condition also keeps
    * the join from degenerating to an unbounded cross product per user.
    * Bounded AvailableNow input ⇒ every match is emitted, so the per-user
    * conversion counts equal the batch oracle exactly.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    def src = Tables.normalizeEventTs(BoundedStreams.table(spark, dir, "events"))
      .withColumn("event_time", expr("timestamp_micros(ts div 1000)"))
    val clicks = src.filter(col("event_type") === "click")
      .select(
        col("user_id").as("c_user"),
        col("event_id").as("c_id"),
        col("ts").as("c_ts"),
        col("event_time").as("c_time"))
      .withWatermark("c_time", "0 seconds")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(
        col("user_id").as("p_user"),
        col("event_id").as("p_id"),
        col("ts").as("p_ts"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "0 seconds")
    val joined = clicks.join(
      purchases,
      col("c_user") === col("p_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr("INTERVAL 1 HOUR"))
    // The strict nano-order conjunct is applied to the drained rows, not in
    // the join: StreamingJoinHelper cannot turn a non-event-time bound into
    // a state watermark, and logs an INTERNAL_ERROR stack trace each time it
    // plans a micro-batch. Filtering an inner join's output afterwards gives
    // the same rows, and the memory table is read by a separate batch query,
    // so the filter cannot be pushed back into the stream.
    BoundedStreams.toMemory(joined, "graft_stream_join", OutputMode.Append)
      .filter(col("p_ts") > col("c_ts"))
      .groupBy(col("c_user").as("user_id"))
      .agg(
        count(lit(1)).as("n_conversions"),
        countDistinct(col("c_id")).as("n_clicks_converted"))
      .orderBy(col("user_id"))
  }

  /** Sliding-window counts as a stream: 2-hour windows advancing every hour,
    * so each event lands in exactly two windows — materialized here by an
    * explicit two-element explode over the window starts (exact integer nano
    * math, same bucketing as q29's tumbling form; `window(col, "2 hours",
    * "1 hour")` plans the same expand in production, this form keeps the
    * bucket arithmetic oracle-identical). Complete mode over the bounded
    * AvailableNow source ⇒ exact, oracle-comparable. State at 100 TB: the
    * agg keys are (hour, type) — sliding doubles the rows into the partial
    * agg, not the state cardinality family.
    */
  def slidingCountsStream(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.normalizeEventTs(BoundedStreams.table(spark, dir, "events"))
    val agg = src
      .withColumn(
        "hour_epoch",
        ((col("ts") - pmod(col("ts"), lit(3600L * 1000 * 1000 * 1000))) /
          lit(1000000000L)).cast("long"))
      .select(col("event_type"), col("value"),
        explode(array(col("hour_epoch"), col("hour_epoch") - 3600L)).as("win_start"))
      .groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    BoundedStreams.toMemory(agg, "graft_stream_sliding", OutputMode.Complete)
      .orderBy(col("win_start"), col("event_type"))
  }

  val entries: Seq[Entry] = Seq(
    Entry(
      "q29_stream_hourly",
      hourlyCountsStream,
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             | event_type, count(*) AS n, round(sum(value),2) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Entry(
      "q100_stream_sliding",
      slidingCountsStream,
      Some("""WITH w AS (SELECT event_type, value,
             |    unnest([CAST(epoch(date_trunc('hour', ts)) AS BIGINT),
             |            CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - 3600])
             |      AS win_start
             |  FROM events)
             |SELECT win_start, event_type, count(*) AS n,
             |  round(sum(value),2) AS sum_value
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Entry(
      "q63_stream_sessionize",
      sessionizeStream,
      Some(sessionCounts)),
    Entry(
      "q68_stream_dedup",
      streamDedup,
      Some("""SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // q79: the bounded-state production form of q68 (see
    // streamDedupWatermarked doc); same oracle — the dedup must be exact on
    // the bounded input either way.
    Entry(
      "q79_stream_dedup_wm",
      streamDedupWatermarked,
      Some("""SELECT event_type, count(*) AS n, round(sum(value),2) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // q72: stream-stream join — micros comparisons reproduced in exact
    // integer math on the oracle side (epoch_ns // 1000).
    Entry(
      "q72_stream_stream_join",
      streamStreamJoin,
      Some("""WITH c AS (SELECT user_id, event_id AS c_id, epoch_ns(ts) AS c_ns
             |          FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id, epoch_ns(ts) AS p_ns
             |      FROM events WHERE event_type = 'purchase')
             |SELECT c.user_id, count(*) AS n_conversions,
             | count(DISTINCT c_id) AS n_clicks_converted
             |FROM c JOIN p ON c.user_id = p.user_id
             | AND p_ns > c_ns
             | AND p_ns // 1000 <= c_ns // 1000 + 3600000000
             |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),

    // q119: STREAM-STATIC ENRICHMENT JOIN — the most common production
    // streaming shape after windowed aggs (q72 is stream-STREAM; this is
    // the dimension-lookup form): the event stream joins a STATIC dim
    // table (nation, via user_id % 25 as the foreign key) broadcast to
    // every micro-batch — no state, no watermark bookkeeping, because the
    // static side is re-resolved per batch (how slowly-refreshing dims are
    // consumed; at 100 TB/day the dim stays a broadcast while the stream
    // never shuffles for the join). Complete-mode memory sink over
    // AvailableNow ⇒ exact, the batch oracle applies verbatim.
    Entry(
      "q119_stream_enrich",
      (s, d) => {
        val src = BoundedStreams.table(s, d, "events")
        val dim = Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
        val agg = src
          .join(broadcast(dim), pmod(col("user_id"), lit(25L)) === col("nk"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        BoundedStreams.toMemory(agg, "graft_stream_enrich", OutputMode.Complete)
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, count(*) AS n, round(sum(value),2) AS sum_value
             |FROM events JOIN nation ON n_nationkey = user_id % 25
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // q123: EXACTLY-ONCE STREAMING PUBLISH — the streaming sink done the
    // way a transactional table commits: each micro-batch lands in its own
    // immutable `epoch-<batchId>` dir and the CUMULATIVE manifest (the
    // newline list of every committed epoch) swaps atomically per commit
    // (Artifacts.commitEpoch). A retried batch whose swap already landed
    // NO-OPs on the committed-check — it neither double-appends nor
    // rewrites a dir a reader may be scanning — and a crash between
    // dir-write and swap leaves readers on the old complete prefix
    // (unlisted dirs are invisible). foreachBatch is the production hook
    // (checkpointed batch ids ARE the epochs); maxFilesPerTrigger=1 makes
    // the bounded fixture arrive as one epoch PER INPUT FILE, so the
    // multi-epoch path is the one exercised, not a single-batch special
    // case (StreamingSuite drives ≥2 epochs plus a simulated retry).
    // The published union equals the batch source exactly ⇒ the oracle is
    // the plain batch aggregate; cents total is integer-exact (q25 rule).
    Entry(
      "q123_stream_publish",
      (s, d) => {
        val schema = s.read.parquet(s"$d/events.parquet").schema
        val root = graft.sources.Sources.scratch(d, "stream_pub")
        // fresh root per run: this query DEMONSTRATES a publish from epoch
        // zero (each run uses a new temp checkpoint, so batch ids restart —
        // against a stale manifest the committed-check would no-op real
        // batches). Retry idempotency against a LIVE manifest is what
        // StreamingSuite exercises, on its own root, without this reset.
        Artifacts.fresh(s, root)
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$d/events*")
        BoundedStreams.forEachBatch(src, "graft_stream_publish") { (batch, batchId) =>
          Artifacts.commitEpoch(batch.sparkSession, root, batch, f"epoch-$batchId%09d")
        }
        Artifacts.readEpochs(s, root).agg(
          count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
      },
      Some("""SELECT count(*) AS n_events,
             |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events""".stripMargin)),

    // q176: STREAMING ANOMALY MONITOR — q153's integer-exact 3σ detector
    // deployed on the live stream (the q139 pattern: batch operator →
    // streaming deployment). Production split of labor: the per-series
    // (n, Σy, Σy²) thresholds are TRAINED ON HISTORY batch-side at deploy
    // time and broadcast (monitors alert against a frozen baseline — a
    // threshold that re-fits on the data it judges masks slow drifts);
    // the STREAM carries only the corpus-sized hourly cents rollup
    // (Complete-mode AvailableNow memory sink — bounded source, exact);
    // the alert decision joins the broadcast stats over the tiny
    // hours×series table post-drain (in production: the same join inside
    // foreachBatch per epoch). The fixture stream IS the history here, so
    // the flagged set provably equals batch q153 — the oracle is q153's
    // verbatim, which is the equality proof.
    Entry(
      "q176_stream_anomaly",
      (s, d) => {
        val HourNs = 3600L * 1000 * 1000 * 1000
        // thresholds from history (batch side, frozen at deploy)
        val stats = Tables.events(s, d)
          .select(
            col("event_type"),
            expr(s"ts div $HourNs").as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(col("cents")).as("y"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("y")).as("sy"),
            sum(col("y") * col("y")).as("syy"))
        // the live side: streamed hourly rollup
        val src = Tables.normalizeEventTs(BoundedStreams.table(s, d, "events"))
        val hourly = src
          .select(
            col("event_type"),
            expr(s"ts div $HourNs").as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(col("cents")).as("y"))
        BoundedStreams.toMemory(hourly, "graft_stream_anomaly", OutputMode.Complete)
          .join(broadcast(stats), Seq("event_type"))
          .withColumn("dev", col("n") * col("y") - col("sy"))
          .withColumn("mss", col("n") * col("syy") - col("sy") * col("sy"))
          .filter(col("dev") * col("dev") >= lit(9L) * col("mss"))
          .select(
            col("event_type"), col("hr"),
            (col("y") / 100.0).as("sum_value"),
            round(col("dev").cast("double") / sqrt(col("mss").cast("double")), 4)
              .as("z"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some(sql"""$withHourlyCents,
             |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(y*y) AS BIGINT) AS syy FROM h GROUP BY 1),
             |j AS (SELECT h.event_type, h.hr, h.y,
             |    a.n * h.y - a.sy AS dev, a.n * a.syy - a.sy * a.sy AS mss,
             |    a.n FROM h JOIN a USING (event_type))
             |SELECT event_type, hr, CAST(y / 100.0 AS DOUBLE) AS sum_value,
             |  round(CAST(dev AS DOUBLE) / sqrt(CAST(mss AS DOUBLE)), 4) AS z
             |FROM j WHERE dev * dev >= 9 * mss
             |ORDER BY event_type, hr""")),

    // q220: LATE-DATA DEAD-LETTER SPLIT — the accounting Structured
    // Streaming does NOT give you: `withWatermark` silently DROPS late
    // rows, so a production pipeline that must explain "where did my
    // events go" (billing, audit) routes them to a dead-letter channel
    // instead. Two fabricated arrival epochs (the q205 file-arrival
    // discipline; arrival time = event time + the q182 seeded heavy-tail
    // jitter, split at the arrival midpoint): epoch 1 establishes the
    // watermark (max event time − 30 min) and persists it as 1-row state;
    // epoch 2 splits against that frozen watermark — on-time rows into
    // the aggregate, late ROWS (full payload, re-processable) into the
    // dead-letter dir. All sinks are content-keyed Overwrite dirs
    // (redelivery rewrites identical bytes — q205's exactly-once
    // accounting). Output per type: epoch-1 count, on-time count, late
    // count + share (exact ppm), and the watermark itself. At 100 TB the
    // split is one codegen filter per batch; the DLQ write is
    // late-rows-sized, not stream-sized. Oracle replays jitter, split,
    // and watermark in closed form — integer ns end to end.
    Entry(
      "q220_stream_dead_letter",
      (s, d) => deadLetterStream(s, d),
      Some("""WITH e AS (SELECT event_id, event_type, epoch_ns(ts) AS tn,
             |    epoch_ns(ts) + (CAST(('0x' ||
             |        substr(md5('arr:v1:' || event_id::VARCHAR), 1, 8))
             |      AS BIGINT) % 10000)
             |      * (CAST(('0x' ||
             |        substr(md5('arr:v1:' || event_id::VARCHAR), 1, 8))
             |      AS BIGINT) % 10000) * 1000000 AS arr
             |  FROM events),
             |sp AS (SELECT (min(arr) + max(arr)) // 2 AS split FROM e),
             |w AS (SELECT max(tn) - 1800000000000 AS wm
             |  FROM e CROSS JOIN sp WHERE arr < split)
             |SELECT event_type,
             |  CAST(sum(CASE WHEN arr < split THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_first,
             |  CAST(sum(CASE WHEN arr >= split AND tn >= wm THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_ontime,
             |  CAST(sum(CASE WHEN arr >= split AND tn < wm THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_late,
             |  CAST(sum(CASE WHEN arr >= split AND tn < wm THEN 1 ELSE 0 END)
             |    AS BIGINT) * 1000000
             |    // greatest(CAST(sum(CASE WHEN arr >= split THEN 1 ELSE 0 END)
             |      AS BIGINT), 1) AS late_ppm,
             |  CAST(w.wm AS BIGINT) AS wm_ns
             |FROM e CROSS JOIN sp CROSS JOIN w
             |GROUP BY event_type, w.wm ORDER BY event_type""".stripMargin)),

    // q267: STREAMING NATIVE session_window — q212's built-in session
    // aggregation actually DEPLOYED as a stream (the surface q212 exists
    // to enable: state-store-mergeable session state, Spark's
    // UpdatingSessions/MergingSessions machinery driven by the streaming
    // planner rather than the batch one). Complete-mode memory sink over
    // AvailableNow on the bounded fixture ⇒ exact, so q212's oracle
    // applies VERBATIM — streaming-vs-batch parity of the native session
    // operator is the thing proven (in production this runs Append with
    // `withWatermark` and sessions emit when the watermark passes
    // last-event + gap; Complete over a bounded source sidesteps the
    // final-window-never-emits pitfall that would break parity here).
    // Same µs-truncation + gap ≥ 30 min boundary pinning as q212.
    Entry(
      "q267_stream_session_window",
      (s, d) => {
        val src = Tables.normalizeEventTs(BoundedStreams.table(s, d, "events"))
        val sess = src
          .select(col("user_id"),
            expr("timestamp_micros(ts div 1000)").as("tsu"))
          .groupBy(col("user_id"),
            session_window(col("tsu"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_ev"))
          .select(col("user_id"), col("n_ev"),
            expr("unix_micros(w.end) - 1800000000L - unix_micros(w.start)")
              .as("span_us"))
        BoundedStreams.toMemory(sess, "graft_stream_session", OutputMode.Complete)
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_sessions"),
            sum(col("n_ev")).as("n_events"),
            max(col("span_us")).as("max_span_us"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
             |g AS (SELECT user_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL
             |          OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END
             |      AS new_session
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |sid AS (SELECT user_id, us,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY us
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g),
             |ss AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_ev,
             |    CAST(max(us) - min(us) AS BIGINT) AS span_us
             |  FROM sid GROUP BY 1, 2)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
             |  CAST(sum(n_ev) AS BIGINT) AS n_events,
             |  CAST(max(span_us) AS BIGINT) AS max_span_us
             |FROM ss GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // q294: STREAMING PII REDACT — q284's curation stage deployed as the
    // stream it runs as in production (documents arrive continuously; the
    // redact is pure map work and the per-source rollup is a commutative
    // sum, so Complete mode over the bounded AvailableNow source is EXACT
    // and the oracle is SHARED VERBATIM with the batch form — batch/stream
    // parity is gate-proven, the q29/q267 discipline). State at 100 TB:
    // |sources| rows of counters; the stream itself shuffles only those.
    Entry(
      "q294_stream_pii_redact",
      (s, d) => {
        val src = BoundedStreams.table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val agg = graft.operators.Transforms.piiScanRedact(src)
        BoundedStreams.toMemory(agg, "graft_stream_pii", OutputMode.Complete)
          .orderBy(col("source"))
      },
      Some(graft.operators.Transforms.PiiRedactOracle)),

    // q304: STREAMING BYTE-BPE ENCODE — the deployment the byte tokenizer
    // (q297) runs as in production: the merge list LEARNS once and
    // publishes as a generation artifact (the q289 lifecycle), then
    // documents arrive as a stream and are encoded against the FROZEN
    // artifact — per-source byte/token/round-trip counters are commutative
    // sums, so Complete mode over the bounded AvailableNow source is EXACT
    // and the oracle is SHARED VERBATIM with q297 (batch/stream parity
    // gate-proven, the q294 discipline). The merge array enters the stream
    // as a broadcast static side; state = |sources| rows of counters.
    Entry(
      "q304_stream_byte_bpe",
      (s, d) => {
        import graft.operators.{TextOps, Transforms}
        val root = graft.sources.Sources.scratch(d, "byte_bpe_merges")
        val cur = Artifacts.ensure(s, root, "gen-build")(Seq("merges" -> TextOps.bpeLearn(
          Transforms.byteSerialize(Tables.documents(s, d)
            .select(col("doc_id"), col("source"), col("text")))
            .select(col("s")),
          rounds = 4)
          .select(col("round"), col("x"), col("y"))))
        val marr = Transforms.mergeArray(s.read.parquet(s"$cur/merges"))
        val src = BoundedStreams.table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val agg = Transforms.byteEncodeRollup(Transforms.byteSerialize(src), marr)
        BoundedStreams.toMemory(agg, "graft_stream_bbpe", OutputMode.Complete)
          .orderBy(col("source"))
      },
      Some(graft.operators.Transforms.ByteBpeOracle)),

    // q311: STREAMING INTER-RATER AGREEMENT — q306's κ computed as labels
    // stream in: the md5-lane label derivation is stateless, the 9-counter
    // rollup is ONE commutative stateful aggregation (the q304 rule:
    // countDistinct and chained agg→join→agg are streaming-illegal; a
    // single groupBy(source) of sums is exact in Complete mode over the
    // bounded AvailableNow source), and the κ arithmetic runs batch-side
    // on the 20-row memory table. Oracle SHARED VERBATIM with q306 —
    // batch/stream parity is the claim the gate proves.
    Entry(
      "q311_stream_rater_agreement",
      (s, d) => {
        import graft.operators.Feedback
        val src = BoundedStreams.table(s, d, "documents")
          .select(col("source"), col("doc_id"))
        val agg = Feedback.kappaRollup(Feedback.kappaLabels(src))
        Feedback.kappaProject(
          BoundedStreams.toMemory(agg, "graft_stream_kappa", OutputMode.Complete))
      },
      Some(graft.operators.Feedback.KappaOracle)),

    // q313: STREAMING BRADLEY–TERRY — preference strengths fitted as the
    // judgment stream arrives: the md5-lane game derivation is stateless,
    // the (i, j) pair-count rollup is ONE commutative stateful
    // aggregation (28 state rows in Complete mode over the bounded
    // AvailableNow source), and the 3 Hunter-MM rounds + rank recovery
    // run batch-side over the 28-row memory table — the iterate-on-
    // collapsed-state shape every online preference fit at 100 TB has.
    // Oracle SHARED VERBATIM with q307 (batch/stream parity proven).
    Entry(
      "q313_stream_bradley_terry",
      (s, d) => {
        import graft.operators.Feedback
        val src = BoundedStreams.table(s, d, "events").select(col("event_id"))
        val agg = Feedback.btPairs(Feedback.btGames(src))
        Feedback.btRank(s,
          BoundedStreams.toMemory(agg, "graft_stream_bt", OutputMode.Complete))
      },
      Some(graft.operators.Feedback.BtOracle)),

    // q316: STREAMING SHARD-INTEGRITY AUDIT — q308's tar member index as
    // an ingest stream: shards are synthesized + parsed back per
    // micro-batch by the SAME typed mapPartitions (stateless, so it
    // composes under streaming), and the per-source integrity rollup
    // (members, planted checksum corruptions, verified payload bytes,
    // commutative name digest) is ONE Complete-mode stateful aggregation.
    // This is the shape a 100 TB ingest pipeline audits WebDataset drops
    // with: map-only validation at the edge, one bounded-state rollup.
    // Oracle SHARED VERBATIM with q308 (batch/stream parity proven).
    Entry(
      "q316_stream_shard_audit",
      (s, d) => {
        import s.implicits._
        import graft.operators.Multimodal
        val src = BoundedStreams.table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
          .as[(Long, String, String, Long)]
          .map { case (id, sr, txt, nc) => Multimodal.TarIn(id, sr, txt, nc) }
          .mapPartitions(Multimodal.tarIndexPartition)
          .toDF()
        val agg = src.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_archives"),
            sum(col("n_members")).as("n_members"),
            sum(col("n_bad_checksum")).as("n_bad_checksum"),
            sum(col("payload_bytes")).as("payload_bytes"),
            sum(col("name_digest")).as("dgsum"))
        BoundedStreams.toMemory(agg, "graft_stream_shard", OutputMode.Complete)
          .select(col("source"), col("n_archives"), col("n_members"),
            col("n_bad_checksum"), col("payload_bytes"),
            pmod(col("dgsum"), lit(2147483647L)).as("name_digest"))
          .orderBy(col("source"))
      },
      Some(graft.operators.Multimodal.TarIndexOracle)),

    // q322: STREAMING HYPERLOGLOG — q318's distinct sketch as an ingest
    // stream. The register build is the ONE stateful aggregation (1024
    // bounded state rows in Complete mode: groupBy(bucket).max(rho) —
    // max is commutative/idempotent, so Complete mode is exact under any
    // micro-batching); the collapse, regime decision, and self-check run
    // batch-side over the 1024-row memory table. merge_consistent here
    // certifies STREAM/BATCH PARITY: the streamed registers' (S, V,
    // digest) must equal a batch recompute's. Oracle SHARED VERBATIM
    // with q318 (the q304/q294/q316 parity discipline). At 100 TB this
    // is the live-cardinality monitor shape: unbounded input, 8 KB of
    // state, no row ever retained.
    Entry(
      "q322_stream_hll",
      (s, d) => {
        import graft.operators.Sketches
        val regs = Sketches.hllProject(BoundedStreams.table(s, d, "lineitem"))
          .groupBy(col("bucket")).agg(max(col("rho")).as("m"))
        val streamed = BoundedStreams.toMemory(regs, "graft_stream_hll", OutputMode.Complete)
        val batchRows = Sketches.hllRows(s, d)
        Sketches.hllReport(
          Sketches.hllCollapse(streamed, "d"),
          Sketches.hllCollapse(
            batchRows.groupBy(col("bucket")).agg(max(col("rho")).as("m")),
            "m"),
          batchRows.agg(countDistinct(col("k")).as("n_exact")))
      },
      Some(graft.operators.Sketches.HllOracle)),

    // q332: STREAMING MP4 INDEX AUDIT — q330's box-walk + index
    // cross-check as an ingest stream (the q316 shape on the video
    // container class): per micro-batch the synthesis + recursive walk +
    // index-vs-layout verification run in a stateless typed
    // mapPartitions; the per-source integrity rollup is the ONE
    // Complete-mode stateful aggregation (≤ |sources| state rows — all
    // sums, commutative and idempotent-safe under re-batching). Oracle
    // SHARED VERBATIM with q330 (the q304/q294/q316 parity discipline).
    // At 100 TB this is the live crawl-ingest gate: every arriving video
    // shard's sample table proven self-consistent before admission, with
    // bounded state and no payload ever retained.
    Entry(
      "q332_stream_mp4_audit",
      (s, d) => {
        import s.implicits._
        import graft.operators.{Containers, Multimodal}
        val src = BoundedStreams.table(s, d, "documents")
          .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
          .as[(Long, String, String, Long)]
          .map { case (id, sr, txt, nc) => Multimodal.TarIn(id, sr, txt, nc) }
          .mapPartitions(Containers.mp4IndexPartition)
          .toDF()
        val agg = src.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(expr("1L - ok")).as("n_bad_index"),
            sum(col("n_samples")).as("n_samples"),
            sum(col("payload_bytes")).as("payload_bytes"),
            sum(col("payload_digest")).as("dgsum"))
        BoundedStreams.toMemory(agg, "graft_stream_mp4", OutputMode.Complete)
          .select(col("source"), col("n_files"), col("n_bad_index"),
            col("n_samples"), col("payload_bytes"),
            pmod(col("dgsum"), lit(2147483647L)).as("payload_digest"))
          .orderBy(col("source"))
      },
      Some(graft.operators.Containers.Mp4Oracle))
  )

  /** q220's body: two deterministic arrival epochs through ONE streaming
    * query (maxFilesPerTrigger=1 over mod-time-ordered chunk files), a
    * frozen 1-row watermark handed from epoch 1 to epoch 2 via a persisted
    * state dir, and a dead-letter dir holding the late rows themselves.
    */
  private def deadLetterStream(s: SparkSession, d: String): DataFrame = {
    val HalfHourNs = 1800L * 1000000000L
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("ts"))
      .withColumn("j",
        conv(substring(md5(concat(lit("arr:v1:"), col("event_id").cast("string"))),
          1, 8), 16, 10).cast("long") % 10000L)
      .withColumn("arr", col("ts") + col("j") * col("j") * lit(1000000L))
      .select(col("event_id"), col("event_type"), col("ts"), col("arr"))
      .localCheckpoint() // consumers: split bounds + both arrival chunks
    val bounds = ev.agg(min(col("arr")), max(col("arr"))).head()
    val split = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val outRoot = graft.sources.Sources.scratch(d, "dead_letter_out")
    val src = BoundedStreams.arrivals(s, "dlq",
      Seq(ev.filter(col("arr") < split), ev.filter(col("arr") >= split)))
    BoundedStreams.forEachBatch(src, "graft_dead_letter") { (chunk, _) =>
      val ss = chunk.sparkSession
      // content key (all-first vs all-second arrival), not batchId — the
      // q205 plan-knob discipline: redelivery lands on the same dirs.
      val isFirst = chunk
        .agg(max(col("arr"))).head().getLong(0) < split
      if (isFirst) {
        chunk.groupBy(col("event_type")).agg(count(lit(1)).as("n_first"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outRoot/first")
        // the frozen watermark: 1-row state handed to the next epoch
        chunk.agg((max(col("ts")) - HalfHourNs).as("wm"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outRoot/wm")
      } else {
        val wm = ss.read.parquet(s"$outRoot/wm").head().getLong(0)
        chunk.filter(col("ts") >= wm)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_ontime"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outRoot/ontime")
        // the dead letter carries the ROWS — re-processable, not a count
        chunk.filter(col("ts") < wm)
          .select(col("event_id"), col("event_type"), col("ts"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outRoot/late_rows")
      }
    }
    val wmNs = s.read.parquet(s"$outRoot/wm").head().getLong(0)
    val first = s.read.parquet(s"$outRoot/first")
    val ontime = s.read.parquet(s"$outRoot/ontime")
    val late = s.read.parquet(s"$outRoot/late_rows")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_late"))
    first
      .join(ontime, Seq("event_type"), "full_outer")
      .join(late, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        coalesce(col("n_ontime"), lit(0L)).as("n_ontime"),
        coalesce(col("n_late"), lit(0L)).as("n_late"))
      .withColumn("late_ppm",
        expr("n_late * 1000000L div greatest(n_ontime + n_late, 1L)"))
      .withColumn("wm_ns", lit(wmNs))
      .orderBy(col("event_type"))
  }
}
