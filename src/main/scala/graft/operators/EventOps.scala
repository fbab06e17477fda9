package graft.operators

import graft.Tables
import graft.queries.Entry
import graft.queries.OracleSql._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the `events` table.
  *
  * `events.ts` is parquet INT64 TIMESTAMP(NANOS); with
  * `spark.sql.legacy.parquet.nanosAsLong=true` it reads as epoch-nano Long
  * (FIXTURES.md gotcha). All bucketing is done in exact integer nanosecond
  * arithmetic — no float time math — and exposed as epoch-second BIGINTs,
  * which keeps the DuckDB oracle timezone-free.
  */
object EventOps {

  private val HourNs = 3600L * 1000 * 1000 * 1000
  private val DayNs = 24L * 3600 * 1000 * 1000 * 1000

  /** The robust-fit family's dressed hourly spine (q275/q278/q279): pooled
    * hourly revenue in cents + an SF-INVARIANT planted linear trend
    * (+pre-trend-mean/10 cents per hour) + seeded ×20 outliers on ~1/24
    * hours (md5 'ransac:v1:'). Returns (spine(t, y, out) checkpointed,
    * params(h0, h1, hh, slope_p, tau) checkpointed 1-row) — slope_p is the
    * planted ground truth every estimator in the family is scored against,
    * tau = 2× the pre-trend mean (≥5σ of hourly noise, ≪ the outlier
    * residual at every SF).
    */
  private def dressedSpine(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val cnts = Tables.events(s, d)
      .select(expr("(ts div 1000) div 3600000000").as("hr"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("hr")).agg(sum(col("cents")).as("y0"))
      .localCheckpoint() // consumers: bounds + spine join
    val bounds = cnts
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"),
        sum(col("y0")).as("ys"))
      .select(col("h0"), col("h1"),
        expr("h1 - h0 + 1").as("hh"),
        expr("(ys div (h1 - h0 + 1)) div 10").as("slope_p"),
        expr("2L * (ys div (h1 - h0 + 1))").as("tau"))
      .localCheckpoint() // 1 row; consumers: spine + per-query combines
    val ht = bounds
      .select(col("h0"), col("slope_p"),
        explode(expr("sequence(0L, hh - 1)")).as("t"))
      .withColumn("hr", col("h0") + col("t"))
      .join(cnts, Seq("hr"), "left_outer")
      .withColumn("out", expr(
        "CAST(conv(substring(md5(concat('ransac:v1:', " +
          "CAST(t AS STRING))), 1, 8), 16, 10) AS BIGINT) % 24 = 0"))
      .withColumn("y", expr(
        "(coalesce(y0, 0L) + slope_p * t) * (CASE WHEN out THEN 20L ELSE 1L END)"))
      .select(col("t"), col("y"), col("out"))
      .localCheckpoint() // consumers: the family's scans
    (ht, bounds)
  }
  private val SessionGapNs = 30L * 60 * 1000 * 1000 * 1000

  /** The robust-trend oracles' outlier lane: hour t of the planted series is
    * an outlier (×20) when this md5 lane is 0 mod 24. */
  private val RansacLane = md5Lane("'ransac:v1:' || gs.t::VARCHAR", keyBr = Br(2))

  /** The planted series of the robust-trend oracles: hourly cents `y0`
    * (`cn`), its hour span and planted slope (`bd`), and `ht`: the series
    * plus the slope, with the [[RansacLane]] outliers. */
  private val PlantedTrend: String =
    sql"""WITH cn AS (SELECT (epoch_ns(ts) // 1000) // 3600000000 AS hr,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |      AS y0
         |  FROM events GROUP BY 1),
         |bd AS MATERIALIZED (SELECT h0, h1, h1 - h0 + 1 AS hh,
         |    (ys // (h1 - h0 + 1)) // 10 AS slope_p
         |  FROM (SELECT min(hr) AS h0, max(hr) AS h1,
         |      CAST(sum(y0) AS BIGINT) AS ys FROM cn)),
         |ht AS MATERIALIZED (SELECT gs.t,
         |    (coalesce(cn.y0, 0) + bd.slope_p * gs.t) * (CASE WHEN
         |      $RansacLane % 24 = 0 THEN 20 ELSE 1 END) AS y
         |  FROM bd
         |  CROSS JOIN LATERAL (SELECT unnest(range(0, bd.hh)) AS t) gs
         |  LEFT JOIN cn ON cn.hr = bd.h0 + gs.t)"""

  /** Hot-key-safe sessionization: two phases keyed by (user_id, time-block)
    * then user_id. Phase 1 sessionizes within fixed time blocks — a hot user
    * fans out over (#blocks) reducers instead of one giant sorted partition;
    * phase 2 merges at block boundaries with a window over per-block
    * SUMMARIES (4 values per (user, block) — tiny). A session crossing a
    * boundary was counted once in each block, so subtract one per bridged
    * boundary; blockNs ≥ gap guarantees non-adjacent blocks can never
    * bridge. Result is identical to the direct single-window sessionize
    * (oracle-checked + EventOpsSuite equality on a skewed fixture).
    */
  private[graft] def sessionizeSalted(
      events: org.apache.spark.sql.DataFrame,
      gapNs: Long,
      blockNs: Long): org.apache.spark.sql.DataFrame = {
    require(blockNs >= gapNs, "blockNs must be >= gapNs for boundary merging")
    val w1 = Window
      .partitionBy(col("user_id"), col("blk"))
      .orderBy(col("ts"), col("event_id"))
    val perBlock = events
      // exact integer division: floor(ts / blockNs) in doubles misassigns
      // events within ~256 ns of a boundary at epoch-nano magnitudes
      .withColumn("blk", expr(s"ts div $blockNs"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w1))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapNs, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"), col("blk"))
      .agg(
        sum(col("new_session")).as("s"),
        count(lit(1)).as("n"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("blk"))
    perBlock
      .withColumn("prev_last", lag(col("last_ts"), 1).over(w2))
      .withColumn(
        "bridged",
        when(col("prev_last").isNotNull && col("first_ts") - col("prev_last") <= gapNs, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        (sum(col("s")) - sum(col("bridged"))).as("n_sessions"),
        sum(col("n")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** N-STEP ordered-funnel compiler (q124 = 3 steps, q128 = 5): each step
    * is (name, event predicate); a user reaches step k iff their FIRST
    * event matching predicate k is strictly after their first event
    * matching predicate k−1, chained from step 1. Output: n_users then one
    * `n_<name>` count per step.
    *
    * Plan shape is INVARIANT in step count — the "thousands of steps"
    * claim made concrete: every step compiles to one conditional-min
    * inside the SAME per-user aggregate, so the corpus collapses through
    * exactly one user-keyed exchange (8-byte keys, partial aggs map-side)
    * no matter how many steps; the reach chain and final roll-up are
    * integer comparisons over the one-row-per-user table. No join, no
    * window, no per-step re-scan. EventOpsSuite pins the exchange count.
    *
    * Semantics note: steps are first-OCCURRENCE ordered (the standard
    * analytics funnel). A step predicate may repeat an earlier one, but
    * then its first occurrence can never be strictly after itself, so
    * repeated-predicate steps count zero by construction — sequence-match
    * funnels (each step consumes a fresh event) are q63's sessionize
    * machinery, not this aggregate.
    */
  private[graft] def funnelPlan(
      s: SparkSession, d: String, steps: Seq[(String, Column)]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val us = expr("ts div 1000")
    val aggs = steps.zipWithIndex.map { case ((_, p), i) =>
      min(when(p, us)).as(s"t${i + 1}")
    }
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
    // reached(k) = reached(k-1) && t(k) after t(k-1); strictly-after chain
    val reached = steps.indices.foldLeft(Vector.empty[Column]) { (acc, i) =>
      val t = col(s"t${i + 1}")
      acc :+ (if (i == 0) t.isNotNull
              else acc(i - 1) && t.isNotNull && t > col(s"t$i"))
    }
    val counts = steps.zipWithIndex.map { case ((name, _), i) =>
      sum(when(reached(i), 1L).otherwise(0L)).as(s"n_$name")
    }
    perUser.agg(count(lit(1)).as("n_users"), counts: _*)
  }

  val entries: Seq[Entry] = Seq(
    // q90: KEEP-LATEST-PER-KEY — the batch CDC-compaction primitive (last
    // state per (user, event_type)). Deliberately an AGGREGATE, not a
    // window: `max(struct(ts, event_id, value))` is partially aggregatable,
    // so hot keys collapse map-side BEFORE the exchange and no salting is
    // needed — the row_number window form ships every event of a hot key
    // into one task. Struct max is lexicographic, so the (ts, event_id)
    // prefix makes the pick deterministic under ts ties (event_id is
    // unique); `value` rides along and never decides. The oracle takes the
    // same row via a DESC row_number window. Timestamps compare and emit at
    // MICROsecond precision on both sides: DuckDB reads the INT64
    // TIMESTAMP(NANOS) parquet at µs, so a nano-precision order could pick
    // a different same-µs row than the oracle — (µs, event_id) is the
    // shared deterministic order.
    Entry(
      "q90_latest_event",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("ts_us", expr("ts div 1000"))
          .groupBy(col("user_id"), col("event_type"))
          .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("m"))
          .select(
            col("user_id"),
            col("event_type"),
            col("m.ts_us").as("last_ts_us"),
            col("m.event_id").as("last_event_id"),
            col("m.value").as("last_value"))
          .orderBy(col("user_id"), col("event_type")),
      Some("""SELECT user_id, event_type,
             |  CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
             |  event_id AS last_event_id, value AS last_value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // q25: tumbling hourly windows. Batch `window()` semantics expressed as
    // integer bucket math; one shuffle on (hour, type) with partial aggs.
    Entry(
      "q25_events_hourly",
      (s, d) =>
        Tables.events(s, d)
          .withColumn(
            "hour_epoch",
            // integer div, not double `/` + cast: here the double path is
            // provably exact (the hour multiple carries a 2^13 factor ≥ any
            // ulp below 2^63), but the PlanGuardSuite cast rule bans the
            // shape outright — exactness-by-accident is what it exists for
            expr(s"(ts - pmod(ts, ${HourNs}L)) div 1000000000L"))
          // INTEGER CENT MATH end-to-end: `value` is exact 2-decimal in the
          // fixture (suite-checked), so summing cents as longs is
          // order-free exact, and the 4-decimal half-up avg is computed in
          // integer e4 units — `round(double)` is NOT cross-engine stable
          // at half points (sf0.1 found both failure modes: summation-order
          // noise under round(avg(raw),4), then Java's shortest-decimal
          // BigDecimal.valueOf vs DuckDB's binary-value rounding flipping
          // round(sum/n, 4) for a quotient whose shortest repr is exactly
          // ...5). The emitted doubles are exact-integer divisions, so both
          // engines produce identical bits. Same single-agg plan.
          .groupBy(col("hour_epoch"), col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
          .select(
            col("hour_epoch"), col("event_type"), col("n"),
            (col("cents") / 100.0).as("sum_value"),
            (expr("(cents * 100 + n div 2) div n") / 10000.0).as("avg_value"))
          .orderBy(col("hour_epoch"), col("event_type")),
      Some("""WITH g AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
             |    AS hour_epoch, event_type, count(*) AS n,
             |    sum(CAST(round(value*100) AS BIGINT)) AS cents
             |  FROM events GROUP BY 1, 2)
             |SELECT hour_epoch, event_type, n,
             | CAST(cents / 100.0 AS DOUBLE) AS sum_value,
             | CAST(((cents * 100 + n // 2) // n) / 10000.0 AS DOUBLE) AS avg_value
             |FROM g ORDER BY 1, 2""".stripMargin)),

    // q26: sessionization — gap > 30 min starts a new session. One shuffle on
    // user_id for the window, then the count per user. At 100 TB the window
    // sort spills per user-partition; skewed users would get salting or the
    // Structured Streaming state-store path (graft.streaming).
    Entry(
      "q26_sessionize",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn(
            "new_session",
            when(col("prev_ts").isNull || col("ts") - col("prev_ts") > SessionGapNs, 1L)
              .otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some(sessionCounts)),

    // q212: NATIVE session_window SESSIONIZE — Spark's built-in session
    // aggregation (the streaming-capable form: state-store-mergeable
    // sessions, no lag window) run in batch and proven against the same
    // gap spec as q26. Semantics pinned PRECISELY: timestamps truncate
    // to µs (session_window takes TimestampType; the raw column is ns —
    // the q165 lesson says make BOTH engines do the identical
    // truncation), and session_window opens a NEW session at gap ≥ 30
    // min where q26's lag form uses > — the oracle replays µs-trunc +
    // ≥ so the boundary is bit-deterministic, not fixture luck. Output
    // adds what the window form can't express cheaply: per-user max
    // session SPAN (last−first event, exact µs) straight from the
    // session_window struct. Plan: one user-keyed exchange into
    // UpdatingSessions — no per-event lag window at all.
    Entry(
      "q212_session_window_native",
      (s, d) => {
        val sess = Tables.events(s, d)
          .select(col("user_id"), expr("timestamp_micros(ts div 1000)").as("tsu"))
          .groupBy(col("user_id"), session_window(col("tsu"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_ev"))
          // session_window's end = last event + gap; span = end − gap − start
          .withColumn(
            "span_us",
            expr("unix_micros(w.end) - 1800000000L - unix_micros(w.start)"))
        sess
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

    // q64: the salted two-phase sessionize (see sessionizeSalted doc) — the
    // skew-hardened form of q26 for hot users; same oracle, identical result.
    // 4-hour blocks: ≥ the 30-min gap, and coarse enough that a normal user
    // hits a handful of blocks.
    Entry(
      "q64_sessionize_salted",
      (s, d) => sessionizeSalted(Tables.events(s, d), SessionGapNs, 4 * HourNs),
      Some(sessionCounts)),

    // q27: JSON prop extraction (multimodal metadata column pattern:
    // schema-on-read over a string column).
    Entry(
      "q27_json_extract",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy(pmod(col("k"), lit(10L)).as("k_mod"))
          .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy(col("k_mod")),
      Some("""WITH j AS (SELECT CAST(props->>'k' AS BIGINT) AS k FROM events)
             |SELECT k % 10 AS k_mod, count(*) AS n,
             | min(k) AS min_k, max(k) AS max_k
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q67: malformed-input tolerance — the PERMISSIVE schema-on-read path
    // every large-scale ingest needs. A tenth of the JSON payloads are
    // deliberately corrupted in-flight; from_json classifies them as null
    // (never fails the job), and the query accounts for every record:
    // valid rows contribute their parsed value, corrupt rows are counted.
    // The oracle reproduces the corruption rule, proving the permissive
    // parse classifies EXACTLY the mangled records as corrupt.
    Entry(
      "q67_json_malformed",
      (s, d) =>
        Tables.events(s, d)
          .withColumn(
            "raw",
            // break the opening brace — unambiguously invalid JSON with
            // nothing salvageable (trailing garbage or truncation can be
            // partially recovered by permissive parsers)
            when(pmod(col("event_id"), lit(10L)) === 0,
                 regexp_replace(col("props"), "^\\{", "<"))
              .otherwise(col("props")))
          .withColumn("parsed",
            from_json(col("raw"), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            // valid payloads always carry k, so a null parse OR null field
            // marks a corrupt record regardless of how the permissive parser
            // surfaces the failure (null struct vs all-null fields)
            sum(when(col("parsed").isNull || col("parsed.k").isNull, 1L).otherwise(0L))
              .as("n_corrupt"),
            sum(coalesce(col("parsed.k"), lit(0L))).as("k_sum"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
             | CAST(sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
             | CAST(sum(CASE WHEN event_id % 10 <> 0
             |          THEN CAST(props->>'k' AS BIGINT) ELSE 0 END) AS BIGINT) AS k_sum
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q28: per-user-bucket conditional event-type stats (pivot shape as
    // single-pass conditional aggregation).
    Entry(
      "q28_event_pivot",
      (s, d) =>
        Tables.events(s, d)
          .groupBy(pmod(col("user_id"), lit(10L)).as("user_bucket"))
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
            round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 2)
              .as("purchase_value"))
          .orderBy(col("user_bucket")),
      Some("""SELECT user_id % 10 AS user_bucket,
             | CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
             | CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
             | CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
             | round(sum(CASE WHEN event_type='purchase' THEN value ELSE 0 END),2) AS purchase_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q116: SCD2 DIMENSION VERSIONING — build the type-2 slowly-changing
    // dimension from an event stream: each (user, event) opens a version
    // valid [ts, next-event ts), the newest version per user stays open
    // (valid_to NULL, is_current). One `lead` window per user — the
    // exchange is keyed on the 8-byte user_id and every window group is one
    // user's bounded activity, so the shape is partition-parallel at any
    // scale (never a corpus-wide window); ties in µs timestamps are broken
    // by event_id so both engines emit identical intervals. This is the
    // dimension-table counterpart of q90's keep-latest compaction: q90
    // emits only the current row, this emits the full validity history
    // (what a warehouse joins facts against `BETWEEN valid_from AND
    // valid_to`).
    Entry(
      "q116_scd2_intervals",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from_us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            col("event_type").as("state"),
            expr("ts div 1000").as("valid_from_us"))
          .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
          .withColumn("is_current", col("valid_to_us").isNull)
          .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
      },
      Some("""WITH v AS (SELECT user_id, event_id, event_type AS state,
             |    CAST(epoch_us(ts) AS BIGINT) AS valid_from_us FROM events)
             |SELECT user_id, event_id, state, valid_from_us,
             |  lead(valid_from_us) OVER (PARTITION BY user_id
             |    ORDER BY valid_from_us, event_id) AS valid_to_us,
             |  (lead(valid_from_us) OVER (PARTITION BY user_id
             |    ORDER BY valid_from_us, event_id) IS NULL) AS is_current
             |FROM v ORDER BY user_id, valid_from_us, event_id""".stripMargin)),

    // q124: ORDERED FUNNEL ANALYSIS — the product-analytics staple: how
    // many users progress signup → click → purchase IN ORDER (each later
    // step strictly after the user's FIRST occurrence of the previous
    // one). Compiled by [[funnelPlan]] from a step list — this 3-step form
    // and q128's 5-step form share the compiler, whose plan shape is
    // invariant in N: one conditional-min per step inside ONE per-user
    // aggregate (the user-keyed exchange), then a bounded global roll-up.
    Entry(
      "q124_funnel",
      (s, d) => funnelPlan(s, d, Seq(
        "signup" -> (col("event_type") === "signup"),
        "signup_click" -> (col("event_type") === "click"),
        "full_funnel" -> (col("event_type") === "purchase"))),
      Some("""WITH u AS (SELECT user_id,
             |    min(CASE WHEN event_type='signup' THEN CAST(epoch_us(ts) AS BIGINT) END) AS t1,
             |    min(CASE WHEN event_type='click' THEN CAST(epoch_us(ts) AS BIGINT) END) AS t2,
             |    min(CASE WHEN event_type='purchase' THEN CAST(epoch_us(ts) AS BIGINT) END) AS t3
             |  FROM events GROUP BY user_id)
             |SELECT count(*) AS n_users,
             |  CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_signup,
             |  CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
             |  CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
             |    AND t3 IS NOT NULL AND t3 > t2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_full_funnel
             |FROM u""".stripMargin)),

    // q128: the ≥5-step funnel through the SAME compiler (view → signup →
    // click → purchase → error — every fixture event type, in a plausible
    // product order ending at a support error). Proves the N-step claim on
    // a live plan: 5 steps, still one user-keyed exchange (suite-pinned).
    Entry(
      "q128_funnel_5step",
      (s, d) => funnelPlan(s, d, Seq(
        "view" -> (col("event_type") === "view"),
        "signup" -> (col("event_type") === "signup"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase"),
        "error" -> (col("event_type") === "error"))),
      Some("""WITH u AS (SELECT user_id,
             |    min(CASE WHEN event_type='view' THEN CAST(epoch_us(ts) AS BIGINT) END) AS t1,
             |    min(CASE WHEN event_type='signup' THEN CAST(epoch_us(ts) AS BIGINT) END) AS t2,
             |    min(CASE WHEN event_type='click' THEN CAST(epoch_us(ts) AS BIGINT) END) AS t3,
             |    min(CASE WHEN event_type='purchase' THEN CAST(epoch_us(ts) AS BIGINT) END) AS t4,
             |    min(CASE WHEN event_type='error' THEN CAST(epoch_us(ts) AS BIGINT) END) AS t5
             |  FROM events GROUP BY user_id),
             |r AS (SELECT
             |    (t1 IS NOT NULL) AS r1,
             |    (t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1) AS r2,
             |    (t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
             |      AND t3 IS NOT NULL AND t3 > t2) AS r3,
             |    (t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
             |      AND t3 IS NOT NULL AND t3 > t2
             |      AND t4 IS NOT NULL AND t4 > t3) AS r4,
             |    (t1 IS NOT NULL AND t2 IS NOT NULL AND t2 > t1
             |      AND t3 IS NOT NULL AND t3 > t2
             |      AND t4 IS NOT NULL AND t4 > t3
             |      AND t5 IS NOT NULL AND t5 > t4) AS r5
             |  FROM u)
             |SELECT count(*) AS n_users,
             |  CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             |  CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
             |  CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             |  CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
             |  CAST(sum(CASE WHEN r5 THEN 1 ELSE 0 END) AS BIGINT) AS n_error
             |FROM r""".stripMargin)),

    // q125: COHORT RETENTION — users cohorted by FIRST-ACTIVITY day, then
    // counted per (cohort_day, day_offset) they were active again. Two
    // shuffles total: the per-user first-day aggregate (8-byte keys,
    // map-side partial min) broadcast-joined back onto the distinct
    // (user, day) activity — cohort tables are O(users), activity is
    // O(user·days); neither step is ever corpus-quadratic and the join
    // side that grows with the corpus streams. Day arithmetic is integer
    // epoch-days, so the retention triangle is oracle-exact.
    Entry(
      "q125_cohort_retention",
      (s, d) => {
        // day from exact integer µs (epoch_us is BIGINT in DuckDB, while
        // epoch() is a DOUBLE whose BIGINT cast ROUNDS — an event within
        // 0.5 s of midnight would land on different days in the two engines)
        val day = expr("ts div 1000 div 86400000000")
        val activity = Tables.events(s, d)
          .select(col("user_id"), day.as("day")).distinct()
        val cohorts = activity.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        activity
          .join(cohorts, Seq("user_id"))
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .filter(col("day_offset") <= 7)
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      Some("""WITH a AS (SELECT DISTINCT user_id,
             |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day FROM events),
             |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id)
             |SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
             |  count(DISTINCT a.user_id) AS n_active
             |FROM a JOIN c USING (user_id)
             |WHERE a.day - c.cohort_day <= 7
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q148: RESAMPLE + GAP-FILL — regularize an irregular event stream onto
    // a fixed hourly grid per event_type, filling empty buckets by
    // last-observation-carried-forward (the time-series feature-engineering
    // staple: a model consumer wants one row per (series, bucket), not a
    // ragged stream). Shape: the observed-bucket aggregate is the only
    // corpus-sized stage (one exchange, map-side partial, integer cent
    // math — the q25 discipline); the spine is `sequence(min_hr, max_hr)`
    // exploded from the per-series BOUNDS aggregate, so its size is
    // calendar×series — O(series · span-hours), independent of event count
    // — and the LOCF window partitions by series over that bounded spine,
    // never over raw events. At 100 TB of events the spine for a year of
    // hourly buckets × 10k series is 87.6 M rows — a rounding error next
    // to the input, and the per-series window stays ≤ span-hours rows.
    // The first spine bucket of each series is its own min observed hour,
    // so LOCF never sees a leading NULL and `sum_value` is total since
    // `filled` marks synthesized rows. Exact everywhere: integer hour
    // buckets (nano div), integer cents, and the emitted double is an
    // exact integer/100.0 division — identical bits in both engines.
    Entry(
      "q148_resample_gapfill",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(
            col("event_type"),
            expr("ts div " + HourNs).as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
        val observed = ev.groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        val spine = ev.groupBy(col("event_type"))
          .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
          .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hr"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine
          .join(observed, Seq("event_type", "hr"), "left_outer")
          .withColumn("filled", col("n").isNull)
          .withColumn("cents_f", last(col("cents"), ignoreNulls = true).over(w))
          .select(
            col("event_type"), col("hr"), col("filled"),
            coalesce(col("n"), lit(0L)).as("n"),
            (col("cents_f") / 100.0).as("sum_value"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr,
             |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
             |o AS (SELECT event_type, hr, count(*) AS n, sum(cents) AS cents
             |  FROM e GROUP BY 1, 2),
             |b AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1
             |  FROM e GROUP BY 1),
             |sp AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS hr FROM b),
             |f AS (SELECT sp.event_type, sp.hr, (o.n IS NULL) AS filled,
             |    coalesce(o.n, 0) AS n,
             |    last_value(o.cents IGNORE NULLS) OVER (
             |      PARTITION BY sp.event_type ORDER BY sp.hr
             |      ROWS UNBOUNDED PRECEDING) AS cents_f
             |  FROM sp LEFT JOIN o
             |    ON sp.event_type = o.event_type AND sp.hr = o.hr)
             |SELECT event_type, hr, filled, n,
             |  CAST(cents_f / 100.0 AS DOUBLE) AS sum_value
             |FROM f ORDER BY event_type, hr""".stripMargin)),

    // q150: PER-SERIES OLS TREND — slope/intercept/R² of hourly revenue
    // against the hour index, per event_type (the feature-engineering /
    // monitoring staple: "is this series drifting, and how fast"). The
    // whole regression reduces to five SUFFICIENT-STATISTIC integer sums
    // (n, Σx, Σy, Σxy, Σx², Σy²) — partial-aggregatable, so the plan is
    // the hourly rollup exchange plus a per-series 6-long aggregate:
    // regression at 100 TB costs exactly one aggregation pass, no matrix
    // library, no iteration. All sums are exact longs (magnitudes bounded:
    // epoch-hour ~5e5, cents/hour ~1e5 ⇒ every product and sum is far
    // under 2^63); the ONLY float ops are the final divisions of exact
    // integers — bit-identical cross-engine, so slope/intercept/r2 emit
    // unrounded.
    Entry(
      "q150_trend_ols",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(
            col("event_type"),
            expr("ts div " + HourNs).as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(col("cents")).as("y"))
        hourly
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("hr")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("hr") * col("y")).as("sxy"),
            sum(col("hr") * col("hr")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("deny", col("n") * col("syy") - col("sy") * col("sy"))
          .withColumn("slope", col("num").cast("double") / col("den").cast("double"))
          .select(
            col("event_type"), col("n"), col("slope"),
            ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
              / col("n").cast("double")).as("intercept"),
            ((col("num").cast("double") * col("num").cast("double"))
              / (col("den").cast("double") * col("deny").cast("double"))).as("r2"))
          .orderBy(col("event_type"))
      },
      Some(sql"""$withHourlyCents,
             |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(hr) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(hr*y) AS BIGINT) AS sxy,
             |    CAST(sum(hr*hr) AS BIGINT) AS sxx,
             |    CAST(sum(y*y) AS BIGINT) AS syy
             |  FROM h GROUP BY 1),
             |k AS (SELECT event_type, n,
             |    n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
             |    n*syy - sy*sy AS deny, sx, sy FROM a),
             |s AS (SELECT event_type, n, sx, sy, num, den, deny,
             |    CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope FROM k)
             |SELECT event_type, n, slope,
             |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             |    / CAST(n AS DOUBLE) AS intercept,
             |  (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
             |    / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) AS r2
             |FROM s ORDER BY event_type""")),

    // q152: MERGEABLE HLL SKETCH ROLLUP (Datasketches HLL via the built-in
    // hll_sketch_agg / hll_union_agg) — distinct users per event_type
    // computed TWO ways: daily per-(type, day) sketches UNIONED up to the
    // period, and a direct whole-scan sketch; both checked against the
    // exact countDistinct in-query (the q56-style self-check the driver
    // verifies as literals). The point is the warehouse pre-aggregation
    // contract: at 100 TB the daily sketch table is the STORED rollup
    // (days × types rows of ~KB sketches — a rounding error next to raw
    // events), and any period's distinct count is a union of its days'
    // sketches — no raw re-scan, arbitrary re-slicing (week, month,
    // rolling 7-day) from the same rollup, which exact counts can never
    // do (distinct doesn't decompose; sketches do).
    Entry(
      "q152_hll_rollup",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("event_type"),
          expr("ts div 86400000000000").as("day"),
          col("user_id"))
        val daily = ev.groupBy(col("event_type"), col("day"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val merged = daily.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_days"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
        val direct = ev.groupBy(col("event_type"))
          .agg(
            hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
            countDistinct(col("user_id")).as("n_exact"))
        merged.join(direct, Seq("event_type"))
          .select(
            col("event_type"), col("n_days"), col("n_exact"),
            (abs(col("est_merged") - col("n_exact"))
              <= lit(0.05) * col("n_exact")).as("merged_ok"),
            (abs(col("est_direct") - col("n_exact"))
              <= lit(0.05) * col("n_exact")).as("direct_ok"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  count(DISTINCT CAST(epoch_us(ts) AS BIGINT) // 86400000000)
             |    AS n_days,
             |  count(DISTINCT user_id) AS n_exact,
             |  TRUE AS merged_ok, TRUE AS direct_ok
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q153: INTEGER-EXACT 3σ ANOMALY DETECTION — flag hourly buckets whose
    // revenue deviates ≥3 population-σ from their series mean. The trick
    // that makes the FLAG oracle-exact (not merely probably-stable):
    // |y − μ| ≥ 3σ with μ = Σy/n and σ² = (n·Σy² − (Σy)²)/n² is
    // algebraically  (n·y − Σy)² ≥ 9·(n·Σy² − (Σy)²)  — every term an
    // exact long (magnitudes bounded well under 2^63 at any plausible
    // cents/hour), so the decision never touches a float and cannot flip
    // cross-engine. The reported z is a display value (exact-integer
    // inputs, one sqrt + one division, rounded to 4). Plan: the hourly
    // rollup exchange, the per-series 3-long stats aggregate BROADCAST
    // back (series count is tiny), one filtered scan of the hourly table
    // — no window, no second corpus pass.
    Entry(
      "q153_anomaly_3sigma",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(
            col("event_type"),
            expr("ts div " + HourNs).as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(col("cents")).as("y"))
        val stats = hourly.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("y")).as("sy"),
            sum(col("y") * col("y")).as("syy"))
        hourly
          .join(broadcast(stats), Seq("event_type"))
          .withColumn("dev", col("n") * col("y") - col("sy"))
          .withColumn("mss", col("n") * col("syy") - col("sy") * col("sy"))
          .filter(col("dev") * col("dev") >= lit(9L) * col("mss"))
          .select(
            col("event_type"), col("hr"),
            (col("y") / 100.0).as("sum_value"),
            // z = (y−μ)/σ = dev/√mss exactly (dev = n(y−μ), mss = n²σ²)
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

    // q156: MARKOV TRANSITION MATRIX — counts and probabilities of
    // consecutive event-type pairs per user (the behavioral-model /
    // anomaly-baseline staple: "what follows what"). Hot-key-safe by the
    // sessionizeSalted discipline applied to LAG: phase 1 pairs adjacent
    // events WITHIN (user, hour-block) partitions — a hot user fans out
    // over its blocks instead of one giant sorted partition; phase 2
    // recovers exactly the block-boundary adjacencies from per-(user,
    // block) SUMMARIES (first/last event per block, ordered by sparse
    // block id so gaps between nonempty blocks chain correctly). The
    // union is precisely the set of globally adjacent pairs — no
    // corpus-sized per-user window anywhere. Transition probability is
    // the IEEE division of two exact longs (identical bits cross-engine,
    // the q150 discipline); the per-from totals come from a window over
    // the ≤|types|² aggregate — bounded by construction.
    Entry(
      "q156_transition_matrix",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("blk", expr(s"ts div $HourNs"))
        val w1 = Window
          .partitionBy(col("user_id"), col("blk"))
          .orderBy(col("ts"), col("event_id"))
        val within = ev
          .withColumn("from_type", lag(col("event_type"), 1).over(w1))
          .filter(col("from_type").isNotNull)
          .select(col("from_type"), col("event_type").as("to_type"))
        val summaries = ev
          .groupBy(col("user_id"), col("blk"))
          .agg(
            min(struct(col("ts"), col("event_id"), col("event_type"))).as("f"),
            max(struct(col("ts"), col("event_id"), col("event_type"))).as("l"))
        val w2 = Window.partitionBy(col("user_id")).orderBy(col("blk"))
        val boundary = summaries
          .withColumn("from_type", lag(col("l.event_type"), 1).over(w2))
          .filter(col("from_type").isNotNull)
          .select(col("from_type"), col("f.event_type").as("to_type"))
        val counts = within
          .unionByName(boundary)
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        val wf = Window.partitionBy(col("from_type"))
        counts
          .withColumn("p", col("n").cast("double") / sum(col("n")).over(wf).cast("double"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
             |  FROM events),
             |t AS (SELECT
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY us, event_id) AS from_type,
             |    event_type AS to_type
             |  FROM e),
             |c AS (SELECT from_type, to_type, count(*) AS n FROM t
             |  WHERE from_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type)
             |    AS DOUBLE) AS p
             |FROM c ORDER BY from_type, to_type""".stripMargin)),

    // q157: CUMULATIVE-UNIQUE TIMELINE — per day: active users, NEW users
    // (first-ever appearance), and the running total of distinct users to
    // date (the growth-dashboard staple). The trick that makes cumulative
    // DISTINCT linear instead of quadratic: a user contributes to the
    // cumulative count exactly once, on their first-seen day — so the
    // running distinct count is the running SUM of the daily new-user
    // counts, and the corpus collapses through one (user, day)-distinct
    // exchange plus a per-user min. The only unpartitioned window runs
    // over the per-DAY table — bounded by the calendar (≤ a few thousand
    // rows for a decade of days), never by event or user count.
    Entry(
      "q157_cumulative_unique",
      (s, d) => {
        val ud = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts div $DayNs").as("day"))
          .distinct()
        val daily = ud.groupBy(col("day")).agg(count(lit(1)).as("n_active"))
        val news = ud
          .groupBy(col("user_id"))
          .agg(min(col("day")).as("day"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_new"))
        // bounded global window: input is DAY grain (~3.7k rows/decade)
        val wc = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .join(news, Seq("day"), "left_outer")
          .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
          .withColumn("cum_unique", sum(col("n_new")).over(wc))
          .orderBy(col("day"))
      },
      Some("""WITH a AS (SELECT DISTINCT user_id,
             |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day FROM events),
             |d AS (SELECT day, count(*) AS n_active FROM a GROUP BY day),
             |f AS (SELECT min(day) AS day FROM a GROUP BY user_id),
             |nw AS (SELECT day, count(*) AS n_new FROM f GROUP BY day),
             |j AS (SELECT d.day, d.n_active,
             |    coalesce(nw.n_new, 0) AS n_new
             |  FROM d LEFT JOIN nw ON d.day = nw.day)
             |SELECT day, n_active, CAST(n_new AS BIGINT) AS n_new,
             |  CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
             |    AS BIGINT) AS cum_unique
             |FROM j ORDER BY day""".stripMargin)),

    // q159: PEAK-CONCURRENCY SWEEP-LINE — per day: sessions started and the
    // maximum number of simultaneously-open sessions (the capacity-planning
    // staple: "how many live sessions must the serving tier hold"). The
    // classic interval problem solved WITHOUT interval joins: each session
    // becomes a +1 at its start and a −1 at its end (closed intervals —
    // +1 sorts before −1 at a shared timestamp, so touching sessions count
    // as concurrent), and the running sum of deltas IS the live-session
    // count. The global running sum uses the q96 two-phase discipline: a
    // within-DAY cumulative window (phase 1, partitioned — a day's sweep
    // points are bounded by that day's session churn), then day offsets
    // from an unpartitioned window over the per-DAY table only (bounded by
    // the calendar). day_max = carry-in offset + within-day peak — exactly
    // the global sweep's per-day max, integer arithmetic end to end.
    // Determinism at ties: rows sharing (t, delta) are interchangeable —
    // every prefix sum the MAX can see is the same multiset either way.
    Entry(
      "q159_concurrency_sweep",
      (s, d) => {
        val ws = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val sess = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("prev_ts", lag(col("ts"), 1).over(ws))
          .withColumn(
            "ns",
            when(col("prev_ts").isNull || col("ts") - col("prev_ts") > SessionGapNs, 1L)
              .otherwise(0L))
          .withColumn(
            "sid",
            sum(col("ns")).over(ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        val pts = sess.select(col("st").as("t"), lit(1L).as("delta"))
          .unionByName(sess.select(col("en").as("t"), lit(-1L).as("delta")))
          .withColumn("day", expr(s"t div $DayNs"))
        val wb = Window.partitionBy(col("day")).orderBy(col("t"), col("delta").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val perDay = pts
          .withColumn("c", sum(col("delta")).over(wb))
          .groupBy(col("day"))
          .agg(
            sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
            sum(col("delta")).as("dsum"),
            max(col("c")).as("cmax"))
        // bounded global window: input is DAY grain (~3.7k rows/decade)
        val wo = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)
        perDay
          .withColumn("carry", coalesce(sum(col("dsum")).over(wo), lit(0L)))
          .select(
            col("day"), col("n_starts"),
            (col("carry") + col("cmax")).as("max_concurrent"))
          .orderBy(col("day"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
             |g AS (SELECT user_id, us,
             |    CASE WHEN lag(us) OVER (PARTITION BY user_id
             |        ORDER BY us, event_id) IS NULL
             |      OR us - lag(us) OVER (PARTITION BY user_id
             |        ORDER BY us, event_id) > 1800000000
             |    THEN 1 ELSE 0 END AS ns,
             |    event_id
             |  FROM e),
             |sid AS (SELECT user_id, us,
             |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g),
             |sess AS (SELECT user_id, sid, min(us) AS st, max(us) AS en
             |  FROM sid GROUP BY 1, 2),
             |pts AS (
             |  SELECT st AS t, 1 AS delta FROM sess
             |  UNION ALL SELECT en AS t, -1 AS delta FROM sess),
             |c AS (SELECT t, delta, t // 86400000000 AS day,
             |    sum(delta) OVER (ORDER BY t, delta DESC
             |      ROWS UNBOUNDED PRECEDING) AS c
             |  FROM pts)
             |SELECT CAST(day AS BIGINT) AS day,
             |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_starts,
             |  CAST(max(c) AS BIGINT) AS max_concurrent
             |FROM c GROUP BY day ORDER BY day""".stripMargin)),

    // q161: A/B TEST ANALYSIS — two-proportion z-test between seeded
    // experiment arms (the product-analytics staple the warehouse runs
    // after every experiment). Arm assignment is the q112 determinism
    // trick (seeded md5 of user_id — any engine, any day, same arms);
    // conversion = the user's purchase count reaching a threshold. The
    // corpus collapses through ONE user-keyed exchange (conditional-sum
    // partial aggs) into a 1-row arm table; z is then a handful of IEEE
    // double ops over exact longs — the SAME operation tree written in
    // both engines (q150 discipline: casts of longs < 2^53 are exact,
    // each mul/div/sqrt is correctly-rounded, left-association matches),
    // so z and the |z| ≥ 1.96 decision are bit-identical cross-engine,
    // no rounding needed.
    Entry(
      "q161_ab_test",
      (s, d) => {
        val flags = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
          .select(
            (CorpusOps.md5Bucket(concat(lit("ab:v1:"), col("user_id").cast("string")), 2) === 0)
              .as("arm_a"),
            (col("np") >= 14L).as("conv"))
        val arms = flags.agg(
          sum(when(col("arm_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("arm_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm_a") && col("conv"), 1L).otherwise(0L)).as("x_a"),
          sum(when(!col("arm_a") && col("conv"), 1L).otherwise(0L)).as("x_b"))
        arms
          .withColumn("p_a", col("x_a").cast("double") / col("n_a").cast("double"))
          .withColumn("p_b", col("x_b").cast("double") / col("n_b").cast("double"))
          .withColumn(
            "phat",
            (col("x_a") + col("x_b")).cast("double")
              / (col("n_a") + col("n_b")).cast("double"))
          .withColumn(
            "se",
            sqrt(col("phat") * (lit(1.0) - col("phat"))
              * (lit(1.0) / col("n_a").cast("double")
                + lit(1.0) / col("n_b").cast("double"))))
          .withColumn("z", (col("p_a") - col("p_b")) / col("se"))
          .select(
            col("n_a"), col("n_b"), col("x_a"), col("x_b"),
            col("p_a"), col("p_b"), col("z"),
            (abs(col("z")) >= 1.96).as("significant"))
      },
      Some(sql"""WITH u AS (SELECT user_id,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
             |  FROM events GROUP BY user_id),
             |f AS (SELECT
             |    ${md5Lane("'ab:v1:' || user_id::VARCHAR", castBr = Br(2))} % 2 = 0 AS arm_a,
             |    np >= 14 AS conv FROM u),
             |a AS (SELECT
             |    CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(sum(CASE WHEN arm_a AND conv THEN 1 ELSE 0 END) AS BIGINT)
             |      AS x_a,
             |    CAST(sum(CASE WHEN NOT arm_a AND conv THEN 1 ELSE 0 END)
             |      AS BIGINT) AS x_b
             |  FROM f),
             |p AS (SELECT n_a, n_b, x_a, x_b,
             |    CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
             |    CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
             |    CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS phat
             |  FROM a),
             |s AS (SELECT *,
             |    sqrt(phat * (1.0 - phat)
             |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
             |      AS se
             |  FROM p),
             |z AS (SELECT *, (p_a - p_b) / se AS z FROM s)
             |SELECT n_a, n_b, x_a, x_b, p_a, p_b, z,
             |  abs(z) >= 1.96 AS significant FROM z""")),

    // q163: EWMA SMOOTHING — exponentially-weighted moving average of
    // hourly revenue per event_type over an 11-bucket calendar window with
    // α = 1/2, the monitoring/forecasting staple ("smoothed current rate").
    // INTEGER-EXACT by construction: weights are powers of two
    // (2^10, 2^9, …, 2^0 for lags 0..10), so the numerator is an exact
    // long Σ cents_{t-k}·2^(10−k) and the denominator the matching weight
    // sum over buckets inside the series span — the ONLY float op is the
    // final num/den division of exact longs (q150 discipline, identical
    // bits cross-engine). The geometric tail beyond 10 hours carries
    // < 0.1% of the mass, the price of a recursion-free, purely windowed
    // form (true infinite-tail EWMA is a sequential recurrence — the one
    // shape a distributed engine should refuse). Calendar correctness via
    // the q148 spine: empty hours enter as explicit zero rows (sequence()
    // over the per-series bounds — spine size is series × span-hours,
    // independent of event count), so a quiet hour DECAYS the average
    // instead of being skipped. The lag window partitions per series over
    // that bounded spine; the corpus-sized stage is the one hourly-rollup
    // exchange (map-side partial, integer cents).
    Entry(
      "q163_ewma_smooth",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(
            col("event_type"),
            expr("ts div " + HourNs).as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
        val observed = ev.groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        val spine = ev.groupBy(col("event_type"))
          .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
          .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hr"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        val filled = spine
          .join(observed, Seq("event_type", "hr"), "left_outer")
          .select(
            col("event_type"), col("hr"),
            coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("cents"), lit(0L)).as("cents"),
            lit(1L).as("one"))
        val (num, den) = (0 to 10).map { k =>
          val wt = 1L << (10 - k)
          (coalesce(lag(col("cents"), k).over(w), lit(0L)) * wt,
            coalesce(lag(col("one"), k).over(w), lit(0L)) * wt)
        }.reduce[(Column, Column)] { case ((a, b), (c, e)) => (a + c, b + e) }
        filled
          .select(
            col("event_type"), col("hr"), col("n"),
            (col("cents") / 100.0).as("sum_value"),
            num.as("ewma_num"), den.as("ewma_den"))
          .withColumn(
            "ewma",
            col("ewma_num").cast("double") / col("ewma_den").cast("double") / 100.0)
          .orderBy(col("event_type"), col("hr"))
      },
      Some {
        val num = (0 to 10)
          .map(k => s"coalesce(lag(cents, $k) OVER w, 0) * ${1L << (10 - k)}")
          .mkString(" + ")
        val den = (0 to 10)
          .map(k => s"coalesce(lag(one, $k) OVER w, 0) * ${1L << (10 - k)}")
          .mkString(" + ")
        s"""WITH e AS (SELECT event_type,
           |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr,
           |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
           |o AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(cents) AS BIGINT) AS cents FROM e GROUP BY 1, 2),
           |b AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1
           |  FROM e GROUP BY 1),
           |sp AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS hr FROM b),
           |f AS (SELECT sp.event_type, sp.hr,
           |    coalesce(o.n, 0) AS n, coalesce(o.cents, 0) AS cents,
           |    CAST(1 AS BIGINT) AS one
           |  FROM sp LEFT JOIN o ON sp.event_type = o.event_type AND sp.hr = o.hr),
           |g AS (SELECT event_type, hr, n, CAST(cents / 100.0 AS DOUBLE) AS sum_value,
           |    CAST($num AS BIGINT) AS ewma_num,
           |    CAST($den AS BIGINT) AS ewma_den
           |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY hr))
           |SELECT event_type, hr, n, sum_value, ewma_num, ewma_den,
           |  CAST(ewma_num AS DOUBLE) / CAST(ewma_den AS DOUBLE) / 100.0 AS ewma
           |FROM g ORDER BY event_type, hr""".stripMargin
      }),

    // q164: SHUFFLE-KEY SKEW PROFILE — the pre-flight diagnostic every
    // salting decision in this repo (q64/q80/q89/q156) starts from: per-key
    // row counts for a prospective shuffle key (user_id), the top-10 heavy
    // hitters with their corpus share, and the max/mean skew ratio. At
    // 100 TB this is what tells you BEFORE the join whether AQE skew
    // handling will be enough or the plan needs explicit salt. Shape: the
    // corpus collapses through ONE key-keyed count exchange (map-side
    // partial — the profile costs one aggregation pass regardless of
    // corpus size); the global stats are a 1-row agg OVER the per-key
    // table (key-cardinality-sized, not corpus-sized) broadcast back; the
    // top-10 is TakeOrderedAndProject (never a global sort). share_ppm is
    // exact integer arithmetic (cnt·10⁶ div total — no overflow below
    // 2^63/10⁶ ≈ 9·10¹² rows per key); the skew ratio is the one IEEE
    // float, computed left-to-right identically cross-engine from exact
    // longs (a cross-multiplied integer form would overflow at corpus
    // key-cardinalities).
    Entry(
      "q164_key_skew_profile",
      (s, d) => {
        val perKey = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("cnt"))
        val stats = perKey.agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("total"),
          max(col("cnt")).as("max_cnt"))
        perKey
          .crossJoin(broadcast(stats))
          .select(
            col("user_id"), col("cnt"),
            expr("cnt * 1000000L div total").as("share_ppm"),
            col("n_keys"),
            (col("max_cnt").cast("double") * col("n_keys") / col("total"))
              .as("skew"))
          .orderBy(col("cnt").desc, col("user_id"))
          .limit(10)
      },
      Some("""WITH k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             |    CAST(sum(cnt) AS BIGINT) AS total,
             |    CAST(max(cnt) AS BIGINT) AS max_cnt FROM k)
             |SELECT user_id, cnt, cnt * 1000000 // total AS share_ppm, n_keys,
             |  CAST(max_cnt AS DOUBLE) * n_keys / total AS skew
             |FROM k CROSS JOIN st
             |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin)),

    // q165: LAST-TOUCH ATTRIBUTION — each purchase credited to the user's
    // most recent preceding marketing event (click/view) when it landed
    // within a 7-day window, else 'none'; conversions and total
    // click-to-buy latency per channel (the marketing-analytics staple,
    // and the same point-in-time-correctness shape as a feature-store
    // lookup). HOT-KEY-SAFE by the asofSalted discipline — never a global
    // per-user window: phase 1 carries the running last-marketing
    // struct(ts, event_id, type) within (user, day-block) partitions;
    // phase 2 prefix-scans per-(user, block) last-marketing SUMMARIES
    // over strictly earlier blocks (tiny table — O(populated blocks))
    // and joins back on (user, block); a purchase's answer is
    // greatest(in-block, prior) — suite-proven equal to the direct
    // global-window form. "Preceding" is strict (ts, event_id) order, so
    // ties at one timestamp resolve identically cross-engine. Irrelevant
    // event types are filtered BEFORE the exchange (pushdown-friendly —
    // at 100 TB the shuffle carries only marketing+conversion rows).
    // Latency is exact integer minutes; the final rollup is a ≤3-row
    // aggregate.
    Entry(
      "q165_attribution",
      (s, d) => {
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "view", "purchase"))
          .select(
            col("user_id"), col("ts"), col("event_id"), col("event_type"),
            (col("event_type") =!= "purchase").as("mkt"))
          .withColumn("blk", expr(s"ts div $DayNs"))
        val w1 = Window.partitionBy(col("user_id"), col("blk"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inBlock = ev
          .withColumn(
            "blk_last",
            max(when(col("mkt"),
              struct(col("ts"), col("event_id"), col("event_type")))).over(w1))
          .filter(!col("mkt"))
        val sums = ev.groupBy(col("user_id"), col("blk"))
          .agg(max(when(col("mkt"),
            struct(col("ts"), col("event_id"), col("event_type")))).as("b_last"))
        val w2 = Window.partitionBy(col("user_id")).orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val prior = sums
          .withColumn("prior_last", max(col("b_last")).over(w2))
          .select(col("user_id"), col("blk"), col("prior_last"))
        val winNs = 7L * DayNs
        inBlock.join(prior, Seq("user_id", "blk"))
          .withColumn("lt", greatest(col("blk_last"), col("prior_last")))
          .withColumn(
            "channel",
            when(col("lt").isNull || col("ts") - col("lt.ts") > winNs, "none")
              .otherwise(col("lt.event_type")))
          .groupBy(col("channel"))
          .agg(
            count(lit(1)).as("n_conv"),
            sum(when(col("channel") =!= "none",
              expr("(ts - lt.ts) div 60000000000"))
              .otherwise(lit(0L))).as("latency_min"))
          .orderBy(col("channel"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ns(ts) AS ns, event_id, event_type,
             |    event_type <> 'purchase' AS mkt
             |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
             |t AS (SELECT *,
             |    max(CASE WHEN mkt THEN {'ns': ns, 'event_id': event_id,
             |      'tp': event_type} END) OVER (PARTITION BY user_id
             |      ORDER BY ns, event_id ROWS UNBOUNDED PRECEDING) AS lt
             |  FROM e),
             |p AS (SELECT ns, lt FROM t WHERE NOT mkt),
             |c AS (SELECT CASE WHEN lt IS NULL
             |      OR ns - lt.ns > 7 * 86400000000000 THEN 'none'
             |      ELSE lt.tp END AS channel,
             |    CASE WHEN lt IS NOT NULL AND ns - lt.ns <= 7 * 86400000000000
             |      THEN (ns - lt.ns) // 60000000000 ELSE 0 END AS lat_min
             |  FROM p)
             |SELECT channel, CAST(count(*) AS BIGINT) AS n_conv,
             |  CAST(sum(lat_min) AS BIGINT) AS latency_min
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q179: SESSION PATH MINING — the top-10 most common session
    // event-type sequences (the funnel-DISCOVERY primitive: q124/q128
    // count a KNOWN ordered pattern; this surfaces which paths exist at
    // all, truncated to each session's first 8 steps so path strings stay
    // bounded). Pipeline: q26's gap sessionize (running new-session sum →
    // sid), per-session step rank, paths assembled ORDER-DETERMINISTICALLY
    // — collect_list is order-nondeterministic under retries/merges, so
    // the list carries (rn, type) structs and array_sort fixes the order
    // INSIDE the aggregate (never trust partition arrival order); top-10
    // via TakeOrderedAndProject with path tie-break. Session paths are
    // per-user windows — q64's block-salting applies verbatim when a
    // device-id key goes hot.
    Entry(
      "q179_session_paths",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val sess = Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn(
            "ns",
            when(col("prev_ts").isNull || col("ts") - col("prev_ts") > SessionGapNs, 1L)
              .otherwise(0L))
          .withColumn("sid",
            sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val wn = Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts"), col("event_id"))
        sess
          .withColumn("rn", row_number().over(wn))
          .filter(col("rn") <= 8)
          .groupBy(col("user_id"), col("sid"))
          .agg(
            array_join(
              transform(
                array_sort(collect_list(struct(col("rn"), col("event_type")))),
                x => x.getField("event_type")),
              ">").as("path"))
          .groupBy(col("path"))
          .agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path"))
          .limit(10)
      },
      Some("""WITH g AS (SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS ns
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (SELECT user_id, ts, event_id, event_type,
             |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g),
             |r AS (SELECT user_id, sid, event_type,
             |    row_number() OVER (PARTITION BY user_id, sid
             |      ORDER BY ts, event_id) AS rn
             |  FROM s),
             |p AS (SELECT user_id, sid,
             |    string_agg(event_type, '>' ORDER BY rn) AS path
             |  FROM r WHERE rn <= 8 GROUP BY 1, 2)
             |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
             |FROM p GROUP BY path
             |ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin)),

    // q182: EVENT-TIME DISORDER PROFILE — how late does data really
    // arrive? For each event (in ARRIVAL order), lateness = (high-water
    // mark of event time among everything that arrived before it) − (its
    // own event time); the lateness distribution is THE input to choosing
    // a watermark delay (q29/q63's `withWatermark` bound): the band that
    // covers 99% of events is the delay that loses <1% to late drops.
    // The fixture stream arrives in PERFECT event-time order (event_id ≡
    // ts order — zero disorder, a vacuous profile), so arrival time is
    // fabricated in-query (the q117 dirty-fixture discipline): a
    // deterministic seeded-md5 heavy-tailed jitter (quadratic in the hash
    // → up to ~28 h) whose replay in the oracle exercises every band
    // incl. the over-1-day tail. The global running max over arrival
    // order is the q96 two-phase discipline (never a single global
    // window): within-(4 h arrival block) running max + a block-max
    // prefix over the calendar-bounded block table; high-water mark =
    // greatest(within-block, prior-blocks). Lateness bands are
    // integer-ns compares; shares in exact ppm.
    Entry(
      "q182_disorder_profile",
      (s, d) => {
        val j =
          conv(substring(md5(concat(lit("arr:v1:"), col("event_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 10000L
        val jitter = j * j * 1000000L
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("ts"))
          .withColumn("arr", col("ts") + jitter)
          .withColumn("blk", expr(s"arr div ${4L * HourNs}"))
        val w1 = Window.partitionBy(col("blk")).orderBy(col("arr"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inBlk = ev.withColumn("m_in", max(col("ts")).over(w1))
        val sums = ev.groupBy(col("blk")).agg(max(col("ts")).as("b_max"))
        // bounded global window: input is 4-HOUR-BLOCK grain (~22k
        // rows/decade), never event grain
        val w2 = Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val prior = sums
          .withColumn("m_prior", max(col("b_max")).over(w2))
          .select(col("blk"), col("m_prior"))
        val bands = Seq(
          (0L, "0_on_time"), (60000000000L, "1_within_1min"),
          (3600000000000L, "2_within_1h"), (86400000000000L, "3_within_1day"))
        val late = inBlk.join(prior, Seq("blk"))
          .withColumn("hwm", greatest(col("m_in"), col("m_prior")))
          .withColumn("late_ns", greatest(col("hwm") - col("ts"), lit(0L)))
          .withColumn(
            "band",
            when(col("late_ns") <= bands(0)._1, bands(0)._2)
              .when(col("late_ns") <= bands(1)._1, bands(1)._2)
              .when(col("late_ns") <= bands(2)._1, bands(2)._2)
              .when(col("late_ns") <= bands(3)._1, bands(3)._2)
              .otherwise("4_over_1day"))
        val total = late.agg(count(lit(1)).as("n_total"))
        late
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_events"), max(col("late_ns")).as("max_late_ns"))
          .crossJoin(broadcast(total))
          .select(
            col("band"), col("n_events"),
            expr("n_events * 1000000L div n_total").as("share_ppm"),
            col("max_late_ns"))
          .orderBy(col("band"))
      },
      Some(sql"""WITH e AS (SELECT event_id, epoch_ns(ts) AS ts,
             |    ${md5Lane("'arr:v1:' || event_id::VARCHAR", castBr = Br(2))} % 10000 AS j
             |  FROM events),
             |a AS (SELECT event_id, ts, ts + j * j * 1000000 AS arr FROM e),
             |h AS (SELECT event_id, ts,
             |    max(ts) OVER (ORDER BY arr, event_id ROWS UNBOUNDED PRECEDING)
             |      AS hwm
             |  FROM a),
             |l AS (SELECT greatest(hwm - ts, 0) AS late_ns FROM h),
             |b AS (SELECT CASE
             |      WHEN late_ns <= 0 THEN '0_on_time'
             |      WHEN late_ns <= 60000000000 THEN '1_within_1min'
             |      WHEN late_ns <= 3600000000000 THEN '2_within_1h'
             |      WHEN late_ns <= 86400000000000 THEN '3_within_1day'
             |      ELSE '4_over_1day' END AS band, late_ns
             |  FROM l),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b)
             |SELECT band, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(count(*) AS BIGINT) * 1000000 // t.n_total AS share_ppm,
             |  CAST(max(late_ns) AS BIGINT) AS max_late_ns
             |FROM b CROSS JOIN t GROUP BY band, t.n_total
             |ORDER BY band""")),

    // q183: POINT-IN-TIME SCD2 DIMENSION JOIN — the warehouse join q116's
    // history table exists FOR: each fact (order) joins the dimension
    // version valid AT ITS OWN TIMESTAMP (`valid_from ≤ t < valid_to`),
    // here rolled up to revenue by customer-state-at-purchase-time — the
    // "what state were buyers in when they bought" report that silently
    // lies if the join uses current state instead (time-travel
    // leakage). Never an interval join: the q50 tagged-union shape —
    // versions (events) and facts (orders) union on one (user, time)
    // axis, ONE user-keyed exchange, and a running max(struct) carries
    // the in-effect version to each fact; events sort before facts at an
    // equal timestamp (a version opening at t is in effect for a fact at
    // t), (t, event_id) ties deterministic. Facts before any version
    // report state 'none'. The fixture's fact table lives in 1995-2001
    // under customer keys while the dimension stream lives in Jan 2024
    // under 15 device ids — disjoint on both axes, which would make the
    // join vacuously 'none' — so the facts are RE-KEYED (custkey mod the
    // user domain) and RE-TIMED (orderkey-hashed offset into the
    // observed event span, bounds from a 1-row broadcast agg — never a
    // literal date that breaks on fixture regeneration) in-query: the
    // q117 dirty-fixture discipline, replayed identically by the oracle,
    // and every state cell plus the before-first-version 'none' branch
    // is exercised. Hot-user hardening is q80/q165's block-salted form
    // of this same carry, verbatim.
    Entry(
      "q183_scd2_join",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          col("user_id").as("uid"),
          expr("ts div 1000").as("t_us"),
          lit(0).as("is_order"),
          col("event_id"),
          col("event_type").as("state"),
          lit(null).cast("long").as("cents"))
        val bounds = Tables.events(s, d)
          .agg(expr("min(ts div 1000)").as("t0"), expr("max(ts div 1000)").as("t1"))
        val ord = Tables.orders(s, d)
          .crossJoin(broadcast(bounds))
          .select(
            pmod(col("o_custkey"), lit(15L)).as("uid"),
            (col("t0") +
              (conv(substring(md5(concat(lit("ord:v1:"), col("o_orderkey").cast("string"))), 1, 8), 16, 10)
                .cast("long") % 1000000L) *
              expr("(t1 - t0) div 1000000")).as("t_us"),
            lit(1).as("is_order"),
            col("o_orderkey").as("event_id"),
            lit(null).cast("string").as("state"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val w = Window.partitionBy(col("uid"))
          .orderBy(col("t_us"), col("is_order"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.unionByName(ord)
          .withColumn(
            "v",
            max(when(col("is_order") === 0,
              struct(col("t_us"), col("event_id"), col("state")))).over(w))
          .filter(col("is_order") === 1)
          .groupBy(coalesce(col("v.state"), lit("none")).as("state_at_purchase"))
          .agg(
            count(lit(1)).as("n_orders"),
            (sum(col("cents")) / 100.0).as("revenue"))
          .orderBy(col("state_at_purchase"))
      },
      Some("""WITH ev AS (SELECT user_id AS uid, epoch_us(ts) AS t_us,
             |    0 AS is_order, event_id, event_type AS state,
             |    CAST(NULL AS BIGINT) AS cents FROM events),
             |b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
             |  FROM events),
             |ord AS (SELECT o_custkey % 15,
             |    b.t0 + (CAST(('0x' || substr(md5('ord:v1:' || o_orderkey::VARCHAR),
             |      1, 8)) AS BIGINT) % 1000000) * ((b.t1 - b.t0) // 1000000),
             |    1, o_orderkey, NULL, CAST(round(o_totalprice*100) AS BIGINT)
             |  FROM orders CROSS JOIN b),
             |u AS (SELECT * FROM ev UNION ALL SELECT * FROM ord),
             |c AS (SELECT *,
             |    max(CASE WHEN is_order = 0
             |      THEN {'t_us': t_us, 'event_id': event_id, 'state': state} END)
             |      OVER (PARTITION BY uid ORDER BY t_us, is_order, event_id
             |        ROWS UNBOUNDED PRECEDING) AS v
             |  FROM u)
             |SELECT coalesce(v.state, 'none') AS state_at_purchase,
             |  CAST(count(*) AS BIGINT) AS n_orders,
             |  CAST(sum(cents) / 100.0 AS DOUBLE) AS revenue
             |FROM c WHERE is_order = 1
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q187: PRICE-QUANTUM DETECTION via a typed-Aggregator UDAF — the
    // forensic/data-quality question "what unit are these amounts really
    // quantized to" answered exactly: per series, the gcd of every
    // observed cent amount IS the quantum (all-multiples-of-25¢ reveals a
    // quarter-cent price book; quantum 1 means genuinely continuous).
    // This is the repo's concrete `Aggregator[IN,BUF,OUT]` demonstration
    // (graft.functions.GcdAgg — SURVEY §2.2's named UDAF upgrade path):
    // gcd is associative+commutative so the ObjectHashAggregate gets
    // map-side partial merge, one buffer per (partition, group) through
    // the exchange — built-in-aggregate shuffle shape, custom logic. The
    // raw fixture amounts are continuous (quantum 1 everywhere — a
    // truthful but vacuous matrix), so each series' cents are quantized
    // in-query to a hidden per-type unit (q117 dirty-fixture discipline)
    // that the detector must RECOVER; the oracle folds gcd over the
    // groups independently (list_reduce) and recovers the same units.
    Entry(
      "q187_price_quantum",
      (s, d) => {
        val gcdOf = udaf(graft.functions.GcdAgg)
        val q = element_at(
          map(
            lit("click"), lit(5L), lit("view"), lit(10L), lit("purchase"), lit(25L),
            lit("signup"), lit(50L), lit("error"), lit(1L)),
          col("event_type"))
        Tables.events(s, d)
          .withColumn("qu", q)
          .select(
            col("event_type"),
            expr("(cast(round(value * 100) as long) div qu) * qu").as("cents"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            gcdOf(col("cents")).as("quantum_cents"))
          .orderBy(col("event_type"))
      },
      Some("""WITH q AS (SELECT * FROM (VALUES ('click', 5), ('view', 10),
             |    ('purchase', 25), ('signup', 50), ('error', 1)) t(tp, u)),
             |e AS (SELECT event_type,
             |    (CAST(round(value*100) AS BIGINT) // u) * u AS cents
             |  FROM events JOIN q ON event_type = tp)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(list_reduce(list(cents), (a, b) -> gcd(a, b)) AS BIGINT)
             |    AS quantum_cents
             |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q189: RFM SEGMENTATION — the classic customer-value matrix: per
    // buyer, Recency (days since last purchase, vs the corpus high-water
    // mark), Frequency (purchase count), Monetary (total cents), each
    // scored 1-5 by population quintile, rolled up to segment counts +
    // revenue. The scale point is HOW the quintiles are computed: never a
    // global sort/ntile over the user table (corpus-scaled) — the q135
    // count-based percentile discipline per axis: per-VALUE counts (value
    // domains bounded: recency by the calendar, frequency by activity,
    // monetary quantized to whole dollars first — a heavy-tailed
    // quantile is insensitive to sub-dollar detail, and exact cents stay
    // in the output), a strictly-smaller cumsum over each bounded value
    // table, and a join back; score = min(1 + 5·cum_smaller div n, 5) in
    // exact integers, so ties land identically cross-engine. Recency
    // scores DESCENDING (most recent = 5) via axis negation through the
    // same ascending machinery.
    Entry(
      "q189_rfm_segments",
      (s, d) => {
        // One-materialization idiom (q93/q94/q107/q120): the per-buyer
        // table feeds BOTH the reference-date agg and the axis projection,
        // and each quintile() references its input twice (per-value counts
        // + join-back). Without barriers the static plan compiled the
        // whole upstream ~54× (316 Exchanges, 108 parquet scans, 0
        // ReusedExchange — r13 judge audit); AQE stage-reuse rescued the
        // runtime, but the repo idiom is an EXPLICIT barrier per reused
        // subtree: checkpoint p once (events scanned once), and checkpoint
        // each quintile input so stage N+1 never re-plans stage N's join.
        // Pinned in EventOpsSuite: zero parquet scans past the barrier.
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(
            max(col("ts")).as("last_ts"),
            count(lit(1)).as("f"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
          .localCheckpoint()
        val ref = p.agg(max(col("last_ts")).as("ref"))
        val u = p.crossJoin(broadcast(ref))
          .select(
            col("user_id"),
            expr(s"-((ref - last_ts) div $DayNs)").as("r_axis"),
            col("f").as("f_axis"),
            expr("cents div 100").as("m_axis"),
            col("cents"))
        def quintile(df0: DataFrame, axis: String, out: String): DataFrame = {
          val df = df0.localCheckpoint()
          val counts = df.groupBy(col(axis)).agg(count(lit(1)).as("cnt"))
          // bounded global window: input is the DISTINCT-axis-VALUE
          // grain (recency days / frequency counts / dollar amounts), not
          // user grain
          val w = Window.orderBy(col(axis))
            .rowsBetween(Window.unboundedPreceding, -1)
          val scored = counts
            .withColumn("smaller", coalesce(sum(col("cnt")).over(w), lit(0L)))
            .crossJoin(broadcast(df.agg(count(lit(1)).as("n_total"))))
            .select(
              col(axis),
              least(lit(1L) + expr("5 * smaller div n_total"), lit(5L)).as(out))
          df.join(scored, Seq(axis))
        }
        val scoredAll =
          quintile(quintile(quintile(u, "r_axis", "r_score"), "f_axis", "f_score"),
            "m_axis", "m_score")
        scoredAll
          .groupBy(col("r_score"), col("f_score"), col("m_score"))
          .agg(
            count(lit(1)).as("n_users"),
            (sum(col("cents")) / 100.0).as("revenue"))
          .orderBy(col("r_score"), col("f_score"), col("m_score"))
      },
      Some("""WITH p AS (SELECT user_id, max(epoch_ns(ts)) AS last_ts,
             |    CAST(count(*) AS BIGINT) AS f,
             |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |ref AS (SELECT max(last_ts) AS ref FROM p),
             |u AS (SELECT user_id,
             |    -((ref.ref - last_ts) // 86400000000000) AS r_axis,
             |    f AS f_axis, cents // 100 AS m_axis, cents
             |  FROM p CROSS JOIN ref),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM u),
             |rc AS (SELECT r_axis, count(*) AS cnt FROM u GROUP BY 1),
             |rs AS (SELECT r_axis, least(1 + 5 * coalesce(sum(cnt) OVER
             |    (ORDER BY r_axis ROWS BETWEEN UNBOUNDED PRECEDING
             |     AND 1 PRECEDING), 0) // n.n_total, 5) AS r_score
             |  FROM rc CROSS JOIN n),
             |fc AS (SELECT f_axis, count(*) AS cnt FROM u GROUP BY 1),
             |fs AS (SELECT f_axis, least(1 + 5 * coalesce(sum(cnt) OVER
             |    (ORDER BY f_axis ROWS BETWEEN UNBOUNDED PRECEDING
             |     AND 1 PRECEDING), 0) // n.n_total, 5) AS f_score
             |  FROM fc CROSS JOIN n),
             |mc AS (SELECT m_axis, count(*) AS cnt FROM u GROUP BY 1),
             |ms AS (SELECT m_axis, least(1 + 5 * coalesce(sum(cnt) OVER
             |    (ORDER BY m_axis ROWS BETWEEN UNBOUNDED PRECEDING
             |     AND 1 PRECEDING), 0) // n.n_total, 5) AS m_score
             |  FROM mc CROSS JOIN n),
             |j AS (SELECT u.cents, rs.r_score, fs.f_score, ms.m_score
             |  FROM u JOIN rs USING (r_axis) JOIN fs USING (f_axis)
             |    JOIN ms USING (m_axis))
             |SELECT CAST(r_score AS BIGINT) AS r_score,
             |  CAST(f_score AS BIGINT) AS f_score,
             |  CAST(m_score AS BIGINT) AS m_score,
             |  CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(sum(cents) / 100.0 AS DOUBLE) AS revenue
             |FROM j GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // q190: REVENUE CONCENTRATION — Gini coefficient + top-decile share of
    // per-buyer spend (the whale-dependence diagnostic: "how much of
    // revenue walks if the top 10% of buyers do"). INTEGER-EXACT via the
    // grouped-Lorenz identity: with buyers collapsed to a (value v,
    // count c) table, Σ rank·x over ANY ascending order is
    // Σ_v v·(c·B + c(c+1)/2) where B = buyers strictly below v — ties
    // contribute identically under every permutation, which is what
    // makes an exact oracle possible; G = (2·Σrank·x − (N+1)·S)/(N·S)
    // with the one IEEE division at the end (exact while N²·v̄ < 2^63 —
    // ≈3M buyers at ~$10k totals; past that the same plan runs on
    // Decimal(38) columns). B comes from the q96/q167 TWO-PHASE prefix
    // over the value axis ($10k blocks): the value table is
    // buyer-cardinality-scaled, so the naive global cumsum window is
    // exactly the corpus-sized single partition this repo bans — only
    // the ~100-row BLOCK table sees an unpartitioned window. Top-decile
    // share takes whole groups from the top plus a clamped partial group
    // (tie-safe for the same permutation-invariance reason), in exact
    // ppm. The oracle uses the straightforward global row_number form —
    // two independent formulations agreeing is the proof.
    Entry(
      "q190_revenue_gini",
      (s, d) => {
        val u = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(sum(round(col("value") * 100).cast("long")).as("v"))
        // vt (two consumers: offs + withB) and withB (two consumers:
        // totals + the top-decile branch) are both materialized ONCE —
        // the q120/q189 discipline; without the barriers the static plan
        // re-plans the events scan 5× and only AQE stage-reuse rescues
        // it. Both tables are bounded by distinct per-buyer cent totals.
        val vt = u.groupBy(col("v")).agg(count(lit(1)).as("c"))
          .withColumn("blk", expr("v div 1000000"))
          .localCheckpoint()
        // bounded global window: input is the 1M-wide VALUE-BLOCK grain
        // (domain-bounded), never row grain
        val offs = vt.groupBy(col("blk")).agg(sum(col("c")).as("bc"))
          .withColumn(
            "off",
            coalesce(
              sum(col("bc")).over(Window.orderBy(col("blk"))
                .rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .select(col("blk"), col("off"))
        val wIn = Window.partitionBy(col("blk")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val withB = vt
          .withColumn("in_b", coalesce(sum(col("c")).over(wIn), lit(0L)))
          .join(offs, Seq("blk"))
          .withColumn("b", col("off") + col("in_b"))
          .localCheckpoint()
        val totals = withB.agg(
          sum(col("c")).as("n"),
          sum(col("c") * col("v")).as("s"),
          sum(col("v") * (col("c") * col("b") + expr("c * (c + 1) div 2")))
            .as("wsum"))
        withB
          .crossJoin(broadcast(totals))
          .withColumn("k", expr("(n + 9) div 10"))
          .withColumn("above", col("n") - col("b") - col("c"))
          .withColumn("take", least(col("c"), greatest(col("k") - col("above"), lit(0L))))
          .groupBy(col("n"), col("s"), col("wsum"))
          .agg(sum(col("take") * col("v")).as("top_cents"))
          .select(
            col("n").as("n_buyers"),
            col("s").as("total_cents"),
            ((lit(2L) * col("wsum") - (col("n") + 1) * col("s")).cast("double")
              / (col("n") * col("s")).cast("double")).as("gini"),
            expr("top_cents * 1000000L div s").as("top10_share_ppm"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |r AS (SELECT v,
             |    CAST(row_number() OVER (ORDER BY v, user_id) AS BIGINT) AS i,
             |    CAST(row_number() OVER (ORDER BY v DESC, user_id) AS BIGINT)
             |      AS rd
             |  FROM u),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(v) AS BIGINT) AS s,
             |    CAST(sum(i * v) AS BIGINT) AS wsum FROM r),
             |top AS (SELECT CAST(sum(v) AS BIGINT) AS top_cents
             |  FROM r CROSS JOIN t WHERE rd <= (n + 9) // 10)
             |SELECT t.n AS n_buyers, t.s AS total_cents,
             |  CAST(2 * wsum - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE)
             |    AS gini,
             |  top_cents * 1000000 // s AS top10_share_ppm
             |FROM t CROSS JOIN top""".stripMargin)),

    // q250: TWAP — TIME-WEIGHTED AVERAGE vs ARITHMETIC MEAN, per
    // (event_type, day): the irregular-sampling correction every
    // metering/pricing pipeline needs (kdb's twap / Flink's
    // time-weighted windows). Each event's value is held
    // last-observation-carried-forward until the next event of its
    // series-day (the final event extends to the day boundary; no
    // backfill before the first — the measured span starts at the first
    // observation). TWAP = Σ cents·dt / Σ dt with dt in MICROSECONDS —
    // the fixture's ns timestamps truncate to µs identically in both
    // engines (ts div 1000 ≡ DuckDB epoch_us on TIMESTAMP_NS), and the
    // bound cents_max(5.6e4) × day_µs(8.64e10) × 1000 = 4.8e18 < 2^63
    // keeps millicents integer-exact with no float anywhere. Arithmetic
    // mean_millicents sits beside it — the divergence IS the signal (a
    // burst of cheap ticks drags the mean, not the TWAP). den ≥ 1 by
    // construction (ts < day end ⇒ the closing segment is ≥ 1 µs). Plan:
    // one exchange on (event_type, day); the lead() window is
    // series-day-bounded (never corpus-sized); aggregation is map-side
    // partial over ~types×days groups.
    Entry(
      "q250_twap",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
            expr("ts div 1000").as("us"),
            round(col("value") * 100).cast("long").as("cents"))
          .withColumn("day", expr("us div 86400000000"))
        val w = Window.partitionBy(col("event_type"), col("day"))
          .orderBy(col("us"), col("event_id"))
        ev.withColumn("nxt",
            coalesce(lead(col("us"), 1).over(w),
              expr("(day + 1) * 86400000000")))
          .withColumn("dt", col("nxt") - col("us"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents") * col("dt")).as("num"),
            sum(col("dt")).as("span_us"),
            sum(col("cents")).as("sum_cents"))
          .select(col("event_type"), col("day"), col("n_events"),
            expr("num * 1000L div span_us").as("twap_millicents"),
            expr("sum_cents * 1000L div n_events").as("mean_millicents"),
            col("span_us"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH e AS (SELECT event_type, event_id,
             |    CAST(epoch_us(ts) AS BIGINT) AS us,
             |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
             |s AS (SELECT event_type, event_id, us, cents,
             |    us // 86400000000 AS day FROM e),
             |seg AS (SELECT event_type, day, cents,
             |    coalesce(lead(us) OVER (PARTITION BY event_type, day
             |        ORDER BY us, event_id),
             |      (day + 1) * 86400000000) - us AS dt
             |  FROM s)
             |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(cents * dt) AS BIGINT) * 1000
             |    // CAST(sum(dt) AS BIGINT) AS twap_millicents,
             |  CAST(sum(cents) AS BIGINT) * 1000
             |    // CAST(count(*) AS BIGINT) AS mean_millicents,
             |  CAST(sum(dt) AS BIGINT) AS span_us
             |FROM seg GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin)),

    // q256: MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven upgrade of
    // q165's last-touch rule (Anderl et al. 2016): model each session as a
    // walk START → channel → … → CONV/NULL (channels = non-purchase event
    // types; a session converts iff it contains a purchase), estimate the
    // first-order transition matrix from the corpus, and credit channel c
    // by its REMOVAL EFFECT 1 − P(conv | c removed)/P(conv) — walkers that
    // would enter a removed channel are absorbed into NULL (edges into c
    // redirect to NULL, rows out of c drop; the original row masses keep
    // the matrix stochastic). P(conv) is the 32-STEP VALUE ITERATION
    // p_{k+1}(f) = Σ_t P(f,t)·p_k(t) + P(f,CONV) — the registered
    // semantics is the truncated iterate (q163's recursion-free posture;
    // residual ≤ transient-mass^32, far below the 6dp rounding), computed
    // per scenario by a per-row HOF fold over the ≤30-struct sorted edge
    // array (5 scenario rows total — never an unrolled 32-join plan), the
    // one double pipeline rounded 6dp at the end (q254's Σ-then-round
    // discipline). Counts/masses are exact int64 cross-engine; the DuckDB
    // oracle runs the same iteration as WITH RECURSIVE (list_reduce
    // struct-accumulator hazard, q244 pin). Plan: sessionize windows are
    // user-bounded (q26 posture); edge counting is ONE exchange over
    // session-adjacent pairs; everything after is a ≤30-row edge table
    // crossed with the 5-row scenario dim.
    Entry(
      "q256_markov_attribution",
      (s, d) => {
        val us = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts div 1000").as("us"), col("event_type"))
          .withColumn("new_s",
            when(lag(col("us"), 1).over(us).isNull ||
              col("us") - lag(col("us"), 1).over(us) >= 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sid",
            sum(col("new_s")).over(us.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .localCheckpoint() // consumers: channel steps + per-session conv
        val conv = ev.groupBy(col("user_id"), col("sid"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
        val wp = Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("us"), col("event_id"))
        val chan = ev.filter(col("event_type") =!= "purchase")
          .withColumn("nxt", lead(col("event_type"), 1).over(wp))
          .withColumn("rn", row_number().over(wp))
        val firsts = chan.filter(col("rn") === 1)
          .select(col("user_id"), col("sid"), lit("START").as("f"),
            col("event_type").as("t"))
        val mids = chan.filter(col("nxt").isNotNull)
          .select(col("user_id"), col("sid"), col("event_type").as("f"),
            col("nxt").as("t"))
        val lasts = chan.filter(col("nxt").isNull)
          .join(conv, Seq("user_id", "sid"))
          .select(col("user_id"), col("sid"), col("event_type").as("f"),
            when(col("conv") === 1L, "CONV").otherwise("NULL").as("t"))
        val pureBuy = conv.join(
            chan.groupBy(col("user_id"), col("sid")).agg(count(lit(1)).as("nc")),
            Seq("user_id", "sid"), "left")
          .filter(coalesce(col("nc"), lit(0L)) === 0L)
          .select(col("user_id"), col("sid"), lit("START").as("f"),
            when(col("conv") === 1L, "CONV").otherwise("NULL").as("t"))
        val trans = firsts.unionAll(mids).unionAll(lasts).unionAll(pureBuy)
          .groupBy(col("f"), col("t")).agg(count(lit(1)).as("cnt"))
          .withColumn("n_f", sum(col("cnt")).over(Window.partitionBy(col("f"))))
          .localCheckpoint() // consumers: scenario dim + scenario edges
        val scen = trans.select(col("f")).distinct()
          .filter(col("f") =!= "START")
          .select(col("f").as("scen"))
          .unionAll(s.sql("SELECT 'full' AS scen"))
        val edges = trans.crossJoin(broadcast(scen))
          .filter(col("f") =!= col("scen"))
          .select(col("scen"), col("f"),
            when(col("t") === col("scen"), "NULL").otherwise(col("t")).as("t"),
            (col("cnt").cast("double") / col("n_f").cast("double")).as("p"))
        val folded = edges
          .groupBy(col("scen"))
          .agg(expr("array_sort(collect_list(named_struct(" +
            "'f', f, 't', t, 'p', p)))").as("es"))
          .withColumn("froms", expr(
            "array_sort(array_distinct(transform(es, e -> e.f)))"))
          .withColumn("pv", expr(
            """aggregate(sequence(1, 32),
              |  transform(froms, x -> CAST(0.0 AS DOUBLE)),
              |  (acc, k) -> transform(froms, s ->
              |    aggregate(filter(es, e -> e.f = s), CAST(0.0 AS DOUBLE),
              |      (a, e) -> a + e.p * (CASE WHEN e.t = 'CONV' THEN 1.0
              |        WHEN e.t = 'NULL' THEN 0.0
              |        WHEN array_position(froms, e.t) > 0
              |          THEN element_at(acc, CAST(array_position(froms, e.t)
              |            AS INT))
              |        ELSE 0.0 END))))""".stripMargin))
          .select(col("scen"),
            expr("element_at(pv, CAST(array_position(froms, 'START') AS INT))")
              .as("p_conv"))
          .localCheckpoint() // consumers: full-row broadcast + channel rows
        val full = folded.filter(col("scen") === "full")
          .select(col("p_conv").as("p_full"))
        val re = folded.filter(col("scen") =!= "full")
          .crossJoin(broadcast(full))
          .select(col("scen").as("channel"), col("p_full"), col("p_conv"),
            (lit(1.0) - col("p_conv") / col("p_full")).as("re"))
        val tot = re.agg(sum(col("re")).as("re_sum"))
        re.crossJoin(broadcast(tot))
          .select(col("channel"), round(col("p_full"), 6).as("p_full"),
            round(col("p_conv"), 6).as("p_removed"),
            round(col("re"), 6).as("removal_effect"),
            round(col("re") / col("re_sum"), 6).as("attribution"))
          .orderBy(col("channel"))
      },
      Some("""WITH RECURSIVE e AS (SELECT user_id, event_id, event_type,
             |    epoch_ns(ts) // 1000 AS us FROM events),
             |g AS (SELECT user_id, event_id, event_type, us,
             |    CASE WHEN lag(us) OVER w IS NULL
             |          OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END
             |      AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |sid AS (SELECT user_id, event_id, event_type, us,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g),
             |cv AS (SELECT user_id, sid,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS conv
             |  FROM sid GROUP BY 1, 2),
             |ch AS (SELECT user_id, sid, event_type, us, event_id,
             |    lead(event_type) OVER w2 AS nxt,
             |    row_number() OVER w2 AS rn
             |  FROM sid WHERE event_type <> 'purchase'
             |  WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY us, event_id)),
             |tr AS (
             |  SELECT 'START' AS f, event_type AS t FROM ch WHERE rn = 1
             |  UNION ALL
             |  SELECT event_type, nxt FROM ch WHERE nxt IS NOT NULL
             |  UNION ALL
             |  SELECT ch.event_type,
             |    CASE WHEN cv.conv = 1 THEN 'CONV' ELSE 'NULL' END
             |  FROM ch JOIN cv USING (user_id, sid) WHERE ch.nxt IS NULL
             |  UNION ALL
             |  SELECT 'START',
             |    CASE WHEN cv.conv = 1 THEN 'CONV' ELSE 'NULL' END
             |  FROM cv LEFT JOIN (SELECT user_id, sid,
             |      CAST(count(*) AS BIGINT) AS nc FROM ch GROUP BY 1, 2) c
             |    USING (user_id, sid)
             |  WHERE coalesce(c.nc, 0) = 0),
             |tc AS MATERIALIZED (SELECT f, t, CAST(count(*) AS BIGINT) AS cnt
             |  FROM tr GROUP BY 1, 2),
             |tn AS (SELECT f, t, cnt,
             |    CAST(sum(cnt) OVER (PARTITION BY f) AS BIGINT) AS n_f
             |  FROM tc),
             |scen AS (SELECT DISTINCT f AS scen FROM tc WHERE f <> 'START'
             |  UNION ALL SELECT 'full'),
             |ed AS MATERIALIZED (SELECT sc.scen, tn.f,
             |    CASE WHEN tn.t = sc.scen THEN 'NULL' ELSE tn.t END AS t,
             |    CAST(cnt AS DOUBLE) / CAST(n_f AS DOUBLE) AS p
             |  FROM tn CROSS JOIN scen sc WHERE tn.f <> sc.scen),
             |sf AS MATERIALIZED (SELECT scen, list(f ORDER BY f) AS froms
             |  FROM (SELECT DISTINCT scen, f FROM ed) GROUP BY 1),
             |se AS MATERIALIZED (SELECT scen,
             |    list(struct_pack(f := f, t := t, p := p) ORDER BY f, t, p)
             |      AS es
             |  FROM ed GROUP BY 1),
             |rec AS (
             |  SELECT s.scen, s.froms, e.es, 0 AS k,
             |    [CAST(0.0 AS DOUBLE) for x in s.froms] AS pv
             |  FROM sf s JOIN se e USING (scen)
             |  UNION ALL
             |  SELECT scen, froms, es, k + 1,
             |    [list_sum(list_transform(list_filter(es, ee -> ee.f = froms[i]),
             |       ee -> ee.p * CASE WHEN ee.t = 'CONV' THEN 1.0
             |         WHEN ee.t = 'NULL' THEN 0.0
             |         ELSE coalesce(pv[list_position(froms, ee.t)], 0.0) END))
             |     for i in range(1, len(froms) + 1)]
             |  FROM rec WHERE k < 32),
             |fin AS (SELECT scen,
             |    pv[list_position(froms, 'START')] AS p_conv
             |  FROM rec WHERE k = 32),
             |re AS (SELECT c.scen AS channel, f.p_conv AS p_full,
             |    c.p_conv AS p_removed, 1.0 - c.p_conv / f.p_conv AS re
             |  FROM fin c CROSS JOIN (SELECT p_conv FROM fin
             |    WHERE scen = 'full') f
             |  WHERE c.scen <> 'full')
             |SELECT channel, round(p_full, 6) AS p_full,
             |  round(p_removed, 6) AS p_removed,
             |  round(re, 6) AS removal_effect,
             |  round(re / (SELECT sum(re) FROM re), 6) AS attribution
             |FROM re ORDER BY channel""".stripMargin)),

    // q257: KAPLAN-MEIER SURVIVAL CURVE — time-to-event analysis with the
    // censoring no naive average handles: days from a user's first signup
    // to their first subsequent purchase; users who never purchase are NOT
    // dropped (that's survivorship bias) but CENSORED at the observation
    // end (global max event time), which is exactly what KM's risk sets
    // price in. Estimator over the integer day axis: n_risk(t) = N −
    // #{durations < t} (deaths-before-censorings at ties, the standard
    // convention), S(t) = Π_{u≤t}(1 − d(u)/n(u)) computed as
    // exp(Σ ln((n−d)/n)) over the ORDERED day window — a deterministic-
    // order cumulative, so the one double pipeline is bit-reproducible
    // before its 6dp rounding (a drop-to-zero d=n step would ride through
    // as ln 0 → −∞ → exp → exact 0 in both engines). Counts are exact
    // int64 everywhere else. Plan: ONE user-keyed exchange (the
    // first-signup window and the per-user reduce share the partitioning);
    // everything after lives on the ≤ observation-span day table; the
    // censor horizon is a 1-row broadcast.
    Entry(
      "q257_kaplan_meier",
      (s, d) => {
        val wu = Window.partitionBy(col("user_id"))
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("us"))
        val horizon = ev.agg(max(col("us")).as("t_end"))
        val durs = ev
          .withColumn("t0",
            min(when(col("event_type") === "signup", col("us"))).over(wu))
          .groupBy(col("user_id"))
          .agg(max(col("t0")).as("t0"),
            min(when(col("event_type") === "purchase" &&
              col("us") >= col("t0"), col("us"))).as("tp"))
          .filter(col("t0").isNotNull)
          .crossJoin(broadcast(horizon))
          .select(
            expr("(coalesce(tp, t_end) - t0) div 86400000000")
              .as("dur_day"),
            col("tp").isNotNull.as("died"))
        val byDay = durs.groupBy(col("dur_day"))
          .agg(sum(when(col("died"), 1L).otherwise(0L)).as("d"),
            sum(when(col("died"), 0L).otherwise(1L)).as("c"))
        // bounded global windows: input is DURATION-DAY grain (~3.7k
        // rows/decade of max survival span)
        val wAll = Window.orderBy(col("dur_day"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val wPrev = Window.orderBy(col("dur_day"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy(col("dur_day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byDay
          .withColumn("n_total", sum(col("d") + col("c")).over(wAll))
          .withColumn("n_risk",
            col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev),
              lit(0L)))
          // a d=n step sends S to exactly 0; ln(0) is an error in DuckDB
          // and NULL in Spark, so the zero is carried as an explicit flag
          .withColumn("hit_zero",
            max(when(col("n_risk") === col("d"), 1L).otherwise(0L)).over(wCum))
          .withColumn("survival",
            when(col("hit_zero") === 1L, lit(0.0)).otherwise(
              round(exp(sum(when(col("n_risk") > col("d"),
                log((col("n_risk") - col("d")).cast("double") /
                  col("n_risk").cast("double"))).otherwise(lit(0.0)))
                .over(wCum)), 6)))
          .filter(col("d") > 0)
          .select(col("dur_day"), col("n_risk"), col("d").as("d_events"),
            col("c").as("c_censored"), col("survival"))
          .orderBy(col("dur_day"))
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |    epoch_ns(ts) // 1000 AS us FROM events),
             |hz AS (SELECT max(us) AS t_end FROM e),
             |t0 AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'signup' THEN us END) AS t0
             |  FROM e GROUP BY 1),
             |du AS (SELECT e.user_id,
             |    (coalesce(min(CASE WHEN e.event_type = 'purchase'
             |        AND e.us >= t0.t0 THEN e.us END), hz.t_end) - t0.t0)
             |      // 86400000000 AS dur_day,
             |    min(CASE WHEN e.event_type = 'purchase'
             |      AND e.us >= t0.t0 THEN e.us END) IS NOT NULL AS died
             |  FROM e JOIN t0 USING (user_id) CROSS JOIN hz
             |  WHERE t0.t0 IS NOT NULL
             |  GROUP BY e.user_id, t0.t0, hz.t_end),
             |bd AS (SELECT dur_day,
             |    CAST(sum(CASE WHEN died THEN 1 ELSE 0 END) AS BIGINT) AS d,
             |    CAST(sum(CASE WHEN died THEN 0 ELSE 1 END) AS BIGINT) AS c
             |  FROM du GROUP BY 1),
             |km AS (SELECT dur_day, d, c,
             |    CAST(sum(d + c) OVER () AS BIGINT)
             |      - CAST(coalesce(sum(d + c) OVER (ORDER BY dur_day
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |        AS BIGINT) AS n_risk
             |  FROM bd),
             |sv AS (SELECT dur_day, n_risk, d, c,
             |    CASE WHEN max(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
             |        OVER (ORDER BY dur_day ROWS UNBOUNDED PRECEDING) = 1
             |      THEN 0.0
             |      ELSE round(exp(sum(CASE WHEN n_risk > d
             |        THEN ln(CAST(n_risk - d AS DOUBLE)
             |          / CAST(n_risk AS DOUBLE)) ELSE 0.0 END)
             |        OVER (ORDER BY dur_day ROWS UNBOUNDED PRECEDING)), 6)
             |      END AS survival
             |  FROM km)
             |SELECT dur_day, n_risk, d AS d_events, c AS c_censored, survival
             |FROM sv WHERE d > 0 ORDER BY dur_day""".stripMargin)),

    // q258: LOG-RANK TEST (Mantel–Haenszel) — the inferential companion to
    // q257's Kaplan-Meier curve: do two experiment arms have the SAME
    // signup→purchase survival distribution, censoring priced in? (A naive
    // t-test over durations is wrong under censoring — censored users have
    // no duration.) Arms are the q161 seeded-md5 determinism trick; the
    // duration/censor scaffold is exactly q257's. At each day t with
    // deaths, the at-risk split (n1, n2) vs deaths (d1, d2) forms a 2×2
    // table; under H0 the group-1 deaths are hypergeometric with mean
    // E1(t) = d·n1/n and variance V(t) = E1·(n2/n)·((n−d)/(n−1)); the
    // statistic is χ² = (O1 − ΣE1)²/ΣV ~ χ²(1). Counts are exact int64;
    // the double Σ are cumulative over the ORDERED day window (q257's
    // deterministic-order discipline), E1/V written with the identical
    // operation tree in both engines, reported 6dp, with the significance
    // decision taken on the unrounded statistic (q161 posture). Plan: ONE
    // user-keyed exchange (window + reduce share the partitioning), one
    // tiny day-grouped exchange, everything after on the bounded day
    // table; the censor horizon is a 1-row broadcast.
    Entry(
      "q258_logrank_test",
      (s, d) => {
        val wu = Window.partitionBy(col("user_id"))
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("us"))
        val horizon = ev.agg(max(col("us")).as("t_end"))
        val durs = ev
          .withColumn("t0",
            min(when(col("event_type") === "signup", col("us"))).over(wu))
          .groupBy(col("user_id"))
          .agg(max(col("t0")).as("t0"),
            min(when(col("event_type") === "purchase" &&
              col("us") >= col("t0"), col("us"))).as("tp"))
          .filter(col("t0").isNotNull)
          .crossJoin(broadcast(horizon))
          .select(
            expr("(coalesce(tp, t_end) - t0) div 86400000000")
              .as("dur_day"),
            col("tp").isNotNull.as("died"),
            (CorpusOps.md5Bucket(
              concat(lit("ab:v1:"), col("user_id").cast("string")), 2) === 0)
              .as("g1"))
        val byDay = durs.groupBy(col("dur_day"))
          .agg(
            sum(when(col("g1") && col("died"), 1L).otherwise(0L)).as("d1"),
            sum(when(!col("g1") && col("died"), 1L).otherwise(0L)).as("d2"),
            sum(when(col("g1"), 1L).otherwise(0L)).as("r1"),
            sum(when(!col("g1"), 1L).otherwise(0L)).as("r2"))
        // bounded global windows: input is DURATION-DAY grain (~3.7k
        // rows/decade of max survival span)
        val wAll = Window.orderBy(col("dur_day"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val wPrev = Window.orderBy(col("dur_day"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy(col("dur_day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val terms = byDay
          // at-risk per group BEFORE dropping censor-only days: the risk
          // sets must shed every duration < t, deaths and censorings alike
          .withColumn("n1",
            sum(col("r1")).over(wAll) -
              coalesce(sum(col("r1")).over(wPrev), lit(0L)))
          .withColumn("n2",
            sum(col("r2")).over(wAll) -
              coalesce(sum(col("r2")).over(wPrev), lit(0L)))
          .withColumn("dd", col("d1") + col("d2"))
          .withColumn("nn", col("n1") + col("n2"))
          .filter(col("dd") > 0)
          .withColumn("e1",
            col("dd").cast("double") * col("n1").cast("double") /
              col("nn").cast("double"))
          .withColumn("v1",
            when(col("nn") > 1,
              col("e1") * (col("n2").cast("double") /
                col("nn").cast("double")) *
                ((col("nn") - col("dd")).cast("double") /
                  (col("nn") - lit(1L)).cast("double")))
              .otherwise(lit(0.0)))
        terms
          .withColumn("o1", sum(col("d1")).over(wAll))
          .withColumn("o2", sum(col("d2")).over(wAll))
          .withColumn("e1s", sum(col("e1")).over(wCum))
          .withColumn("vs", sum(col("v1")).over(wCum))
          .withColumn("rn",
            row_number().over(Window.orderBy(col("dur_day").desc)))
          .filter(col("rn") === 1)
          .select(
            col("o1"), round(col("e1s"), 6).as("e1"),
            col("o2"),
            round((col("o1") + col("o2")).cast("double") - col("e1s"), 6)
              .as("e2"),
            when(col("vs") > 0,
              round((col("o1").cast("double") - col("e1s")) *
                (col("o1").cast("double") - col("e1s")) / col("vs"), 6))
              .as("chi2"),
            when(col("vs") > 0,
              (col("o1").cast("double") - col("e1s")) *
                (col("o1").cast("double") - col("e1s")) / col("vs") >=
                lit(3.841459)).as("significant"))
      },
      Some(sql"""WITH e AS (SELECT user_id, event_type,
             |    epoch_ns(ts) // 1000 AS us FROM events),
             |hz AS (SELECT max(us) AS t_end FROM e),
             |t0 AS (SELECT user_id,
             |    min(CASE WHEN event_type = 'signup' THEN us END) AS t0
             |  FROM e GROUP BY 1),
             |du AS (SELECT e.user_id,
             |    (coalesce(min(CASE WHEN e.event_type = 'purchase'
             |        AND e.us >= t0.t0 THEN e.us END), hz.t_end) - t0.t0)
             |      // 86400000000 AS dur_day,
             |    min(CASE WHEN e.event_type = 'purchase'
             |      AND e.us >= t0.t0 THEN e.us END) IS NOT NULL AS died
             |  FROM e JOIN t0 USING (user_id) CROSS JOIN hz
             |  WHERE t0.t0 IS NOT NULL
             |  GROUP BY e.user_id, t0.t0, hz.t_end),
             |dg AS (SELECT dur_day, died,
             |    ${md5Lane("'ab:v1:' || user_id::VARCHAR", castBr = Br(2))} % 2 = 0 AS g1 FROM du),
             |bd AS (SELECT dur_day,
             |    CAST(sum(CASE WHEN g1 AND died THEN 1 ELSE 0 END) AS BIGINT)
             |      AS d1,
             |    CAST(sum(CASE WHEN NOT g1 AND died THEN 1 ELSE 0 END)
             |      AS BIGINT) AS d2,
             |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
             |    CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS r2
             |  FROM dg GROUP BY 1),
             |rk AS (SELECT dur_day, d1, d2,
             |    CAST(sum(r1) OVER () AS BIGINT)
             |      - CAST(coalesce(sum(r1) OVER (ORDER BY dur_day
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |        AS BIGINT) AS n1,
             |    CAST(sum(r2) OVER () AS BIGINT)
             |      - CAST(coalesce(sum(r2) OVER (ORDER BY dur_day
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |        AS BIGINT) AS n2
             |  FROM bd),
             |tm AS (SELECT dur_day, d1, d2, n1, n2,
             |    d1 + d2 AS dd, n1 + n2 AS nn,
             |    CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
             |      / CAST(n1 + n2 AS DOUBLE) AS e1
             |  FROM rk WHERE d1 + d2 > 0),
             |tv AS (SELECT dur_day, d1, d2, e1,
             |    CASE WHEN nn > 1 THEN e1 * (CAST(n2 AS DOUBLE)
             |        / CAST(nn AS DOUBLE)) * (CAST(nn - dd AS DOUBLE)
             |        / CAST(nn - 1 AS DOUBLE))
             |      ELSE 0.0 END AS v1
             |  FROM tm),
             |cu AS (SELECT
             |    CAST(sum(d1) OVER () AS BIGINT) AS o1,
             |    CAST(sum(d2) OVER () AS BIGINT) AS o2,
             |    sum(e1) OVER (ORDER BY dur_day ROWS UNBOUNDED PRECEDING)
             |      AS e1s,
             |    sum(v1) OVER (ORDER BY dur_day ROWS UNBOUNDED PRECEDING)
             |      AS vs,
             |    row_number() OVER (ORDER BY dur_day DESC) AS rn
             |  FROM tv)
             |SELECT o1, round(e1s, 6) AS e1, o2,
             |  round(CAST(o1 + o2 AS DOUBLE) - e1s, 6) AS e2,
             |  CASE WHEN vs > 0
             |    THEN round((CAST(o1 AS DOUBLE) - e1s)
             |      * (CAST(o1 AS DOUBLE) - e1s) / vs, 6) END AS chi2,
             |  CASE WHEN vs > 0
             |    THEN (CAST(o1 AS DOUBLE) - e1s)
             |      * (CAST(o1 AS DOUBLE) - e1s) / vs >= 3.841459
             |    END AS significant
             |FROM cu WHERE rn = 1""")),

    // q261: BURST DETECTION via a TWO-STATE VITERBI AUTOMATON (Kleinberg
    // KDD'02 shape) — segment each event type's hourly series into
    // base-rate vs burst-rate (5×) regimes by GLOBAL minimum-cost path,
    // the principled form of "is this spike sustained enough to matter":
    // thresholding flags every noisy hour; the automaton charges
    // γ·ln(H) micro-nats to ENTER a burst, so only sustained elevations
    // pay off. The fixture's events are homogeneous Poisson (max/mean
    // ≈ 1.6 — correctly NOTHING to find), so two 12-hour burst windows per
    // type are PLANTED in-query by seeded md5 (the q117/q155/q251/q260
    // dirty-fixture discipline: counts ×5 inside the windows), making
    // RECOVERY the oracle-checked deliverable — planted_hits == burst_hours
    // (perfect precision: a 720-hour flat series never pays the entry
    // cost, measured at all SFs) with recall growing in the data (11-18/24
    // at sf0.001 → 24/24 at sf0.1). Determinism: emission costs are
    // INTEGER micro-nats (λ and ln λ rounded to micros FIRST — the q243
    // discipline; cost(s, c) = A_s − c·L_s drops the ln c! term common to
    // both states), so the whole DP is exact int64 min-plus arithmetic
    // with documented `<=` tie-breaks — bit-identical on any engine. The
    // Viterbi backtrack is avoided by ONLINE PATH-STAT PROPAGATION: each
    // state carries its best path's (hours, episodes, run, longest,
    // first, planted-hits) summary forward, so the fold is one pass.
    // Plan: one (type, hour) count exchange behind a checkpoint (three
    // consumers), the dense 720-hour spine a types×sequence explode, the
    // DP a per-row HOF fold over each type's sorted ≤720-struct array
    // (q256 posture); the oracle runs the identical DP as WITH RECURSIVE
    // stepping all types one hour per level.
    Entry(
      "q261_burst_viterbi",
      (s, d) => {
        val cnts = Tables.events(s, d)
          .select(col("event_type"),
            expr("(ts div 1000) div 3600000000").as("hr"))
          .groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("c_raw"))
          .localCheckpoint() // consumers: bounds + type dim + spine join
        val bounds = cnts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        val types = cnts.select(col("event_type")).distinct()
        val spine = types.crossJoin(broadcast(bounds))
          .select(col("event_type"), col("h0"),
            expr("50L + CAST(conv(substring(md5(concat('burst:v1:', " +
              "event_type, ':1')), 1, 8), 16, 10) AS BIGINT) % 250L").as("s1"),
            expr("350L + CAST(conv(substring(md5(concat('burst:v1:', " +
              "event_type, ':2')), 1, 8), 16, 10) AS BIGINT) % 250L").as("s2"),
            explode(expr("sequence(0L, h1 - h0)")).as("t"))
          .withColumn("hr", col("h0") + col("t"))
          .join(cnts, Seq("event_type", "hr"), "left_outer")
          .withColumn("planted",
            expr("(t >= s1 AND t < s1 + 12) OR (t >= s2 AND t < s2 + 12)"))
          .withColumn("c",
            expr("coalesce(c_raw, 0L) * (CASE WHEN planted THEN 5L ELSE 1L END)"))
        val perType = spine.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("hn"),
            sum(col("c")).as("tot"),
            max(col("s1")).as("s1"),
            max(col("s2")).as("s2"),
            sort_array(collect_list(struct(col("t"), col("c"), col("planted"))))
              .as("arr"))
          .withColumn("lam0", expr("CAST(tot AS DOUBLE) / CAST(hn AS DOUBLE)"))
          .withColumn("a0", expr("CAST(round(1000000.0D * lam0) AS BIGINT)"))
          .withColumn("a1", expr("5L * a0"))
          .withColumn("lc0",
            expr("CAST(round(1000000.0D * ln(lam0)) AS BIGINT)"))
          .withColumn("lc1",
            expr("CAST(round(1000000.0D * ln(5.0D * lam0)) AS BIGINT)"))
          .withColumn("g",
            expr("CAST(round(1000000.0D * ln(CAST(hn AS DOUBLE))) AS BIGINT)"))
        // min-plus DP; <= tie-breaks: state 0 prefers the state-0
        // predecessor, state 1 prefers staying in burst
        val C0 = "(acc.d0 <= acc.d1)"
        val C1 = "(acc.d1 <= acc.d0 + g)"
        val step = s"""aggregate(arr,
          named_struct(
            'd0', 0L, 'd1', g,
            'h0', 0L, 'e0', 0L, 'r0', 0L, 'l0', 0L, 'f0', -1L, 'p0', 0L,
            'h1', 0L, 'e1', 1L, 'r1', 0L, 'l1', 0L, 'f1', -1L, 'p1', 0L),
          (acc, b) -> named_struct(
            'd0', (CASE WHEN $C0 THEN acc.d0 ELSE acc.d1 END) + a0 - b.c * lc0,
            'd1', (CASE WHEN $C1 THEN acc.d1 ELSE acc.d0 + g END)
              + a1 - b.c * lc1,
            'h0', CASE WHEN $C0 THEN acc.h0 ELSE acc.h1 END,
            'e0', CASE WHEN $C0 THEN acc.e0 ELSE acc.e1 END,
            'r0', 0L,
            'l0', CASE WHEN $C0 THEN acc.l0 ELSE acc.l1 END,
            'f0', CASE WHEN $C0 THEN acc.f0 ELSE acc.f1 END,
            'p0', CASE WHEN $C0 THEN acc.p0 ELSE acc.p1 END,
            'h1', (CASE WHEN $C1 THEN acc.h1 ELSE acc.h0 END) + 1L,
            'e1', CASE WHEN $C1 THEN acc.e1 ELSE acc.e0 + 1L END,
            'r1', CASE WHEN $C1 THEN acc.r1 + 1L ELSE 1L END,
            'l1', greatest(CASE WHEN $C1 THEN acc.l1 ELSE acc.l0 END,
              CASE WHEN $C1 THEN acc.r1 + 1L ELSE 1L END),
            'f1', CASE WHEN $C1
              THEN (CASE WHEN acc.f1 >= 0L THEN acc.f1 ELSE b.t END)
              ELSE (CASE WHEN acc.f0 >= 0L THEN acc.f0 ELSE b.t END) END,
            'p1', (CASE WHEN $C1 THEN acc.p1 ELSE acc.p0 END)
              + (CASE WHEN b.planted THEN 1L ELSE 0L END)),
          acc -> acc)"""
        def pick(a: String, b: String) =
          s"(CASE WHEN v.d0 <= v.d1 THEN v.$a ELSE v.$b END)"
        perType.withColumn("v", expr(step))
          .select(
            col("event_type"), col("hn").as("n_hours"),
            col("a0").as("lam0_micro"),
            col("s1").as("planted_s1"), col("s2").as("planted_s2"),
            expr(pick("h0", "h1")).as("burst_hours"),
            expr(pick("e0", "e1")).as("episodes"),
            expr(pick("l0", "l1")).as("longest"),
            expr(pick("f0", "f1")).as("first_burst_t"),
            expr(pick("p0", "p1")).as("planted_hits"),
            expr("least(v.d0, v.d1)").as("cost_micro"),
            expr(s"""${pick("p0", "p1")} >= ${pick("h0", "h1")} - 2
              AND ${pick("h0", "h1")} >= 12
              AND ${pick("e0", "e1")} BETWEEN 2 AND 4
              AND ${pick("l0", "l1")} >= 6
              AND ${pick("f0", "f1")} BETWEEN s1 AND s1 + 4""").as("recovered"))
          .orderBy(col("event_type"))
      },
      Some {
        val c0 = "(dp.d0 <= dp.d1)"
        val c1 = "(dp.d1 <= dp.d0 + dp.g)"
        s"""WITH RECURSIVE cn AS MATERIALIZED (SELECT event_type,
           |    (epoch_ns(ts) // 1000) // 3600000000 AS hr,
           |    CAST(count(*) AS BIGINT) AS c_raw
           |  FROM events GROUP BY 1, 2),
           |bd AS MATERIALIZED (SELECT min(hr) AS h0, max(hr) AS h1 FROM cn),
           |ty AS MATERIALIZED (SELECT DISTINCT event_type,
           |    50 + CAST(('0x' || substr(md5('burst:v1:' || event_type
           |      || ':1'), 1, 8)) AS BIGINT) % 250 AS s1,
           |    350 + CAST(('0x' || substr(md5('burst:v1:' || event_type
           |      || ':2'), 1, 8)) AS BIGINT) % 250 AS s2
           |  FROM cn),
           |sp AS MATERIALIZED (SELECT ty.event_type, ty.s1, ty.s2, gs.t,
           |    ((gs.t >= ty.s1 AND gs.t < ty.s1 + 12)
           |      OR (gs.t >= ty.s2 AND gs.t < ty.s2 + 12)) AS planted,
           |    coalesce(cn.c_raw, 0) * (CASE WHEN
           |      (gs.t >= ty.s1 AND gs.t < ty.s1 + 12)
           |      OR (gs.t >= ty.s2 AND gs.t < ty.s2 + 12)
           |      THEN 5 ELSE 1 END) AS c
           |  FROM ty CROSS JOIN bd
           |  CROSS JOIN LATERAL (SELECT unnest(range(0, bd.h1 - bd.h0 + 1))
           |    AS t) gs
           |  LEFT JOIN cn ON cn.event_type = ty.event_type
           |    AND cn.hr = bd.h0 + gs.t),
           |pm AS MATERIALIZED (SELECT event_type, s1, s2, hn, tot,
           |    CAST(round(1000000.0 * (CAST(tot AS DOUBLE)
           |      / CAST(hn AS DOUBLE))) AS BIGINT) AS a0,
           |    5 * CAST(round(1000000.0 * (CAST(tot AS DOUBLE)
           |      / CAST(hn AS DOUBLE))) AS BIGINT) AS a1,
           |    CAST(round(1000000.0 * ln(CAST(tot AS DOUBLE)
           |      / CAST(hn AS DOUBLE))) AS BIGINT) AS lc0,
           |    CAST(round(1000000.0 * ln(5.0 * (CAST(tot AS DOUBLE)
           |      / CAST(hn AS DOUBLE)))) AS BIGINT) AS lc1,
           |    CAST(round(1000000.0 * ln(CAST(hn AS DOUBLE))) AS BIGINT) AS g
           |  FROM (SELECT event_type, max(s1) AS s1, max(s2) AS s2,
           |      CAST(count(*) AS BIGINT) AS hn, CAST(sum(c) AS BIGINT) AS tot
           |    FROM sp GROUP BY 1)),
           |dpr AS (
           |  SELECT event_type, s1, s2, hn, a0, a1, lc0, lc1, g,
           |    CAST(-1 AS BIGINT) AS t,
           |    CAST(0 AS BIGINT) AS d0, g AS d1,
           |    CAST(0 AS BIGINT) AS h0, CAST(0 AS BIGINT) AS e0,
           |    CAST(0 AS BIGINT) AS r0, CAST(0 AS BIGINT) AS l0,
           |    CAST(-1 AS BIGINT) AS f0, CAST(0 AS BIGINT) AS p0,
           |    CAST(0 AS BIGINT) AS h1s, CAST(1 AS BIGINT) AS e1,
           |    CAST(0 AS BIGINT) AS r1, CAST(0 AS BIGINT) AS l1,
           |    CAST(-1 AS BIGINT) AS f1, CAST(0 AS BIGINT) AS p1
           |  FROM pm
           |  UNION ALL
           |  SELECT dp.event_type, dp.s1, dp.s2, dp.hn, dp.a0, dp.a1,
           |    dp.lc0, dp.lc1, dp.g,
           |    dp.t + 1,
           |    (CASE WHEN $c0 THEN dp.d0 ELSE dp.d1 END)
           |      + dp.a0 - sp.c * dp.lc0,
           |    (CASE WHEN $c1 THEN dp.d1 ELSE dp.d0 + dp.g END)
           |      + dp.a1 - sp.c * dp.lc1,
           |    CASE WHEN $c0 THEN dp.h0 ELSE dp.h1s END,
           |    CASE WHEN $c0 THEN dp.e0 ELSE dp.e1 END,
           |    CAST(0 AS BIGINT),
           |    CASE WHEN $c0 THEN dp.l0 ELSE dp.l1 END,
           |    CASE WHEN $c0 THEN dp.f0 ELSE dp.f1 END,
           |    CASE WHEN $c0 THEN dp.p0 ELSE dp.p1 END,
           |    (CASE WHEN $c1 THEN dp.h1s ELSE dp.h0 END) + 1,
           |    CASE WHEN $c1 THEN dp.e1 ELSE dp.e0 + 1 END,
           |    CASE WHEN $c1 THEN dp.r1 + 1 ELSE 1 END,
           |    greatest(CASE WHEN $c1 THEN dp.l1 ELSE dp.l0 END,
           |      CASE WHEN $c1 THEN dp.r1 + 1 ELSE 1 END),
           |    CASE WHEN $c1
           |      THEN (CASE WHEN dp.f1 >= 0 THEN dp.f1 ELSE sp.t END)
           |      ELSE (CASE WHEN dp.f0 >= 0 THEN dp.f0 ELSE sp.t END) END,
           |    (CASE WHEN $c1 THEN dp.p1 ELSE dp.p0 END)
           |      + (CASE WHEN sp.planted THEN 1 ELSE 0 END)
           |  FROM dpr dp JOIN sp ON sp.event_type = dp.event_type
           |    AND sp.t = dp.t + 1
           |  WHERE dp.t + 1 < dp.hn)
           |SELECT event_type, hn AS n_hours, a0 AS lam0_micro,
           |  s1 AS planted_s1, s2 AS planted_s2,
           |  CASE WHEN d0 <= d1 THEN h0 ELSE h1s END AS burst_hours,
           |  CASE WHEN d0 <= d1 THEN e0 ELSE e1 END AS episodes,
           |  CASE WHEN d0 <= d1 THEN l0 ELSE l1 END AS longest,
           |  CASE WHEN d0 <= d1 THEN f0 ELSE f1 END AS first_burst_t,
           |  CASE WHEN d0 <= d1 THEN p0 ELSE p1 END AS planted_hits,
           |  least(d0, d1) AS cost_micro,
           |  (CASE WHEN d0 <= d1 THEN p0 ELSE p1 END)
           |      >= (CASE WHEN d0 <= d1 THEN h0 ELSE h1s END) - 2
           |    AND (CASE WHEN d0 <= d1 THEN h0 ELSE h1s END) >= 12
           |    AND (CASE WHEN d0 <= d1 THEN e0 ELSE e1 END) BETWEEN 2 AND 4
           |    AND (CASE WHEN d0 <= d1 THEN l0 ELSE l1 END) >= 6
           |    AND (CASE WHEN d0 <= d1 THEN f0 ELSE f1 END)
           |      BETWEEN s1 AND s1 + 4 AS recovered
           |FROM dpr WHERE t = hn - 1 ORDER BY event_type""".stripMargin
      }),

    // q264: SPRT EARLY-STOPPING AUDIT (Wald's sequential probability ratio
    // test) — the sequential complement to q161's fixed-horizon z-test:
    // "on which DAY could this experiment have stopped?" H0: conversion
    // p = 0.35 vs H1: p = 0.50 at α = β = 0.05. The four test constants
    // are PRECOMPUTED INTEGER MICRO-NAT LITERALS (derivations in-line), so
    // the entire test is exact int64 arithmetic — no runtime ln anywhere:
    // per conversion +round(10⁶·ln(0.50/0.35)) = +356675, per
    // non-conversion +round(10⁶·ln(0.50/0.65)) = −262364, boundaries
    // ±round(10⁶·ln(0.95/0.05)) = ±2944439. Observations are users
    // (q161's np ≥ 14 conversion) arriving at their first-event day;
    // the LLR walk is evaluated at DAY granularity (documented — the
    // decision day is the first day whose closing LLR crosses a
    // boundary), so everything after the user reduce lives on the
    // ~30-row calendar table. The fixture converts at ~0.47: sf0.001's
    // 15 users honestly CONTINUE (no early stop), sf0.01+ accept H1 —
    // the sequential story is the deliverable (1500-user horizon vs the
    // day the test actually needed). Plan: ONE user-keyed exchange, one
    // tiny day rollup, windows only over the bounded day table.
    Entry(
      "q264_sprt",
      (s, d) => {
        val u = Tables.events(s, d)
          .select(col("user_id"), expr("ts div 1000").as("us"),
            col("event_type"))
          .groupBy(col("user_id"))
          .agg(min(col("us")).as("t0"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("np"))
        val dayTbl = u
          .select(expr("t0 div 86400000000").as("day"),
            (col("np") >= 14L).as("conv"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("trials"),
            sum(when(col("conv"), 1L).otherwise(0L)).as("convs"))
        val wCum = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val aug = dayTbl
          .withColumn("cum_llr",
            sum(col("convs") * 356675L +
              (col("trials") - col("convs")) * -262364L).over(wCum))
          .withColumn("ctr", sum(col("trials")).over(wCum))
          .withColumn("crossed",
            col("cum_llr") >= 2944439L || col("cum_llr") <= -2944439L)
        aug.agg(
          count(lit(1)).as("n_days"),
          sum(col("trials")).as("n_trials"),
          sum(col("convs")).as("n_convs"),
          min(when(col("crossed"),
            struct(col("day"), col("cum_llr"), col("ctr")))).as("x"),
          max(struct(col("day"), col("cum_llr"))).as("e"))
          .select(
            lit(350000L).as("p0_ppm"), lit(500000L).as("p1_ppm"),
            col("n_days"), col("n_trials"), col("n_convs"),
            expr("""CASE WHEN x IS NULL THEN 'continue'
              WHEN x.cum_llr >= 2944439L THEN 'accept_h1'
              ELSE 'accept_h0' END""").as("decision"),
            expr("x.day").as("decision_day"),
            expr("x.ctr").as("trials_at_decision"),
            expr("coalesce(x.cum_llr, e.cum_llr)").as("llr_final_micro"))
      },
      Some("""WITH u AS (SELECT user_id,
             |    min(epoch_ns(ts) // 1000) AS t0,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS np
             |  FROM events GROUP BY 1),
             |dt AS (SELECT t0 // 86400000000 AS day,
             |    CAST(count(*) AS BIGINT) AS trials,
             |    CAST(sum(CASE WHEN np >= 14 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS convs
             |  FROM u GROUP BY 1),
             |ag AS (SELECT day, trials, convs,
             |    CAST(sum(convs * 356675 + (trials - convs) * -262364)
             |      OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |      AS cum_llr,
             |    CAST(sum(trials) OVER (ORDER BY day ROWS UNBOUNDED
             |      PRECEDING) AS BIGINT) AS ctr
             |  FROM dt),
             |cx AS (SELECT min_by(struct_pack(day := day,
             |      cum_llr := cum_llr, ctr := ctr), day)
             |      FILTER (cum_llr >= 2944439 OR cum_llr <= -2944439) AS x,
             |    max_by(cum_llr, day) AS llr_end,
             |    CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(sum(trials) AS BIGINT) AS n_trials,
             |    CAST(sum(convs) AS BIGINT) AS n_convs
             |  FROM ag)
             |SELECT CAST(350000 AS BIGINT) AS p0_ppm,
             |  CAST(500000 AS BIGINT) AS p1_ppm,
             |  n_days, n_trials, n_convs,
             |  CASE WHEN x IS NULL THEN 'continue'
             |    WHEN x.cum_llr >= 2944439 THEN 'accept_h1'
             |    ELSE 'accept_h0' END AS decision,
             |  x.day AS decision_day,
             |  x.ctr AS trials_at_decision,
             |  coalesce(x.cum_llr, llr_end) AS llr_final_micro
             |FROM cx""".stripMargin)),

    // q269: DISTRIBUTION-FREE MEDIAN CONFIDENCE INTERVAL — the
    // nonparametric companion to q253's bootstrap mean CI: the classic
    // ORDER-STATISTIC interval (binomial argument, normal approximation):
    // with probability ≈95% the true median lies between the order
    // statistics at ranks ⌊n/2 − 1.96·√n/2⌋ and ⌈n/2 + 1.96·√n/2⌉ + 1 —
    // no resampling, no distributional assumption, exact coverage
    // guarantees from Binomial(n, ½) alone. Ranks come from one
    // correctly-rounded IEEE sqrt (identical expression both engines,
    // floor/ceil on values nowhere near integers); everything else is the
    // q135/q189 count-based order-statistic discipline — value(r) = min
    // cents with cum ≥ r over the per-type VALUE-DOMAIN count table,
    // never a sort. Median is the exact lower median at rank (n+1) div 2.
    // Plan: ONE (type, cents) count exchange; per-type windows over the
    // value axis only; ranks join back as a 5-row broadcast.
    Entry(
      "q269_median_ci",
      (s, d) => {
        val vc = Tables.events(s, d)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("cents"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint() // consumers: per-type totals + the cum table
        val wV = Window.partitionBy(col("event_type")).orderBy(col("cents"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = vc.withColumn("cum", sum(col("cnt")).over(wV))
        val ranks = vc.groupBy(col("event_type"))
          .agg(sum(col("cnt")).as("n"))
          .select(col("event_type"), col("n"),
            expr("(n + 1) div 2").as("med_rank"),
            expr("""greatest(CAST(floor(CAST(n AS DOUBLE) / 2.0D
              - 0.98D * sqrt(CAST(n AS DOUBLE))) AS BIGINT), 1L)""")
              .as("lo_rank"),
            expr("""least(CAST(ceil(CAST(n AS DOUBLE) / 2.0D
              + 0.98D * sqrt(CAST(n AS DOUBLE))) AS BIGINT) + 1L, n)""")
              .as("hi_rank"))
        cum.join(broadcast(ranks), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n"),
            max(col("med_rank")).as("med_rank"),
            max(col("lo_rank")).as("lo_rank"),
            max(col("hi_rank")).as("hi_rank"),
            min(when(col("cum") >= col("med_rank"), col("cents")))
              .as("median_cents"),
            min(when(col("cum") >= col("lo_rank"), col("cents")))
              .as("lo_cents"),
            min(when(col("cum") >= col("hi_rank"), col("cents")))
              .as("hi_cents"))
          .withColumn("ci_width_cents", col("hi_cents") - col("lo_cents"))
          .orderBy(col("event_type"))
      },
      Some("""WITH vc AS MATERIALIZED (SELECT event_type,
             |    CAST(round(value * 100) AS BIGINT) AS cents,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |cm AS (SELECT event_type, cents,
             |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM vc),
             |rk AS (SELECT event_type, n,
             |    (n + 1) // 2 AS med_rank,
             |    greatest(CAST(floor(CAST(n AS DOUBLE) / 2.0
             |      - 0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT), 1)
             |      AS lo_rank,
             |    least(CAST(ceil(CAST(n AS DOUBLE) / 2.0
             |      + 0.98 * sqrt(CAST(n AS DOUBLE))) AS BIGINT) + 1, n)
             |      AS hi_rank
             |  FROM (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
             |    FROM vc GROUP BY 1))
             |SELECT cm.event_type,
             |  CAST(max(rk.n) AS BIGINT) AS n,
             |  CAST(max(rk.med_rank) AS BIGINT) AS med_rank,
             |  CAST(max(rk.lo_rank) AS BIGINT) AS lo_rank,
             |  CAST(max(rk.hi_rank) AS BIGINT) AS hi_rank,
             |  CAST(min(CASE WHEN cum >= rk.med_rank THEN cents END)
             |    AS BIGINT) AS median_cents,
             |  CAST(min(CASE WHEN cum >= rk.lo_rank THEN cents END)
             |    AS BIGINT) AS lo_cents,
             |  CAST(min(CASE WHEN cum >= rk.hi_rank THEN cents END)
             |    AS BIGINT) AS hi_cents,
             |  CAST(min(CASE WHEN cum >= rk.hi_rank THEN cents END)
             |    AS BIGINT) - CAST(min(CASE WHEN cum >= rk.lo_rank
             |    THEN cents END) AS BIGINT) AS ci_width_cents
             |FROM cm JOIN rk USING (event_type)
             |GROUP BY cm.event_type ORDER BY cm.event_type""".stripMargin)),

    // q271: CUPED VARIANCE-REDUCED A/B TEST (Deng et al. WSDM'13) — the
    // industry-standard experiment readout: adjust each user's outcome by
    // their PRE-EXPERIMENT covariate, Yadj = Y − θ(X − X̄), θ =
    // cov(X,Y)/var(X), shrinking metric variance by corr²(X,Y) without
    // biasing the treatment difference (the covariate predates
    // assignment). Here X = a user's event count in the first half of the
    // timeline, Y = purchases in the second half, arms = q161's seeded
    // split. The whole test reduces to MOMENTS: per-arm exact int64 sums
    // (n, ΣX, ΣY, ΣXY, ΣX², ΣY²) from ONE user-keyed exchange — the
    // adjusted means and variances are closed forms over those sums
    // (mean Yadj = Ȳ_arm − θ(X̄_arm − X̄); var Yadj = var(Y) − 2θcov +
    // θ²var(X) per arm), so no per-row float pass exists at all. Both
    // z-statistics (raw and CUPED) are identically-parenthesized IEEE
    // expressions over exact longs (q150/q161 discipline), reported 6dp
    // with decisions on the unrounded values; the deliverable is
    // var_reduction_ppm — how much experiment-runtime the covariate buys —
    // WITH corr_xy beside it explaining the number. The fixture's users
    // are memoryless (pre-period activity does not predict post-period
    // purchases, corr ≈ −0.02), so CUPED honestly reports ~0 ppm
    // reduction — the method working correctly on a covariate that is
    // worthless, which is exactly the readout that stops a team from
    // shipping a broken adjustment; the cross-engine-exact moment
    // machinery is what's under test.
    // Plan: one user-keyed exchange + a 1-row moment aggregate; the
    // midpoint is a 1-row broadcast.
    Entry(
      "q271_cuped",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), expr("ts div 1000").as("us"),
            col("event_type"))
        val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("t_mid"))
        val u = ev.crossJoin(broadcast(mid))
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("us") < col("t_mid"), 1L).otherwise(0L)).as("x"),
            sum(when(col("us") >= col("t_mid") &&
              col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
          .withColumn("arm_a",
            CorpusOps.md5Bucket(
              concat(lit("ab:v1:"), col("user_id").cast("string")), 2) === 0)
        val m = u.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
          sum(when(col("arm_a"), col("x")).otherwise(0L)).as("sxa"),
          sum(when(col("arm_a"), col("y")).otherwise(0L)).as("sya"),
          sum(when(col("arm_a"), col("x") * col("y")).otherwise(0L)).as("sxya"),
          sum(when(col("arm_a"), col("x") * col("x")).otherwise(0L)).as("sxxa"),
          sum(when(col("arm_a"), col("y") * col("y")).otherwise(0L)).as("syya"),
          sum(when(!col("arm_a"), 1L).otherwise(0L)).as("nb"),
          sum(when(!col("arm_a"), col("x")).otherwise(0L)).as("sxb"),
          sum(when(!col("arm_a"), col("y")).otherwise(0L)).as("syb"),
          sum(when(!col("arm_a"), col("x") * col("y")).otherwise(0L)).as("sxyb"),
          sum(when(!col("arm_a"), col("x") * col("x")).otherwise(0L)).as("sxxb"),
          sum(when(!col("arm_a"), col("y") * col("y")).otherwise(0L)).as("syyb"),
          sum(col("y") * col("y")).as("syy_all"))
        // closed-form doubles over exact longs; D() = CAST(x AS DOUBLE)
        def D(c: String) = s"CAST($c AS DOUBLE)"
        val theta = s"((${D("n")} * ${D("sxy")} - ${D("sx")} * ${D("sy")}) " +
          s"/ (${D("n")} * ${D("sxx")} - ${D("sx")} * ${D("sx")}))"
        def mean(sc: String, nc: String) = s"(${D(sc)} / ${D(nc)})"
        // per-arm population variance of Y, X, and cov(X,Y)
        def vr(syy: String, sy: String, nc: String) =
          s"(${D(syy)} / ${D(nc)} - ${mean(sy, nc)} * ${mean(sy, nc)})"
        def cv(sxy: String, sx: String, sy: String, nc: String) =
          s"(${D(sxy)} / ${D(nc)} - ${mean(sx, nc)} * ${mean(sy, nc)})"
        def vadj(syy: String, sy: String, sxy: String, sx: String,
                 sxx: String, nc: String) =
          s"(${vr(syy, sy, nc)} - 2.0D * $theta * " +
            s"${cv(sxy, sx, sy, nc)} + $theta * $theta * " +
            s"${vr(sxx, sx, nc)})"
        val madjA = s"(${mean("sya", "na")} - $theta * " +
          s"(${mean("sxa", "na")} - ${mean("sx", "n")}))"
        val madjB = s"(${mean("syb", "nb")} - $theta * " +
          s"(${mean("sxb", "nb")} - ${mean("sx", "n")}))"
        val vA = vadj("syya", "sya", "sxya", "sxa", "sxxa", "na")
        val vB = vadj("syyb", "syb", "sxyb", "sxb", "sxxb", "nb")
        val zC = s"(($madjA - $madjB) / sqrt($vA / ${D("na")} " +
          s"+ $vB / ${D("nb")}))"
        val zR = s"((${mean("sya", "na")} - ${mean("syb", "nb")}) " +
          s"/ sqrt(${vr("syya", "sya", "na")} / ${D("na")} " +
          s"+ ${vr("syyb", "syb", "nb")} / ${D("nb")}))"
        val vredn = s"(1.0D - ($vA + $vB) / " +
          s"(${vr("syya", "sya", "na")} + ${vr("syyb", "syb", "nb")}))"
        val corrXY = s"(${cv("sxy", "sx", "sy", "n")} / " +
          s"sqrt(${vr("sxx", "sx", "n")} * ${vr("syy_all", "sy", "n")}))"
        m.select(
          col("na").as("n_a"), col("nb").as("n_b"),
          expr(s"round($theta, 6)").as("theta"),
          expr(s"round($corrXY, 6)").as("corr_xy"),
          expr(s"round(${mean("sya", "na")} - ${mean("syb", "nb")}, 6)")
            .as("diff_raw"),
          expr(s"round($madjA - $madjB, 6)").as("diff_cuped"),
          expr(s"round($zR, 6)").as("z_raw"),
          expr(s"round($zC, 6)").as("z_cuped"),
          expr(s"CAST(round(1000000.0D * $vredn) AS BIGINT)")
            .as("var_reduction_ppm"),
          expr(s"abs($zR) >= 1.96D").as("sig_raw"),
          expr(s"abs($zC) >= 1.96D").as("sig_cuped"))
      },
      Some {
        def D(c: String) = s"CAST($c AS DOUBLE)"
        val theta = s"((${D("n")} * ${D("sxy")} - ${D("sx")} * ${D("sy")}) " +
          s"/ (${D("n")} * ${D("sxx")} - ${D("sx")} * ${D("sx")}))"
        def mean(sc: String, nc: String) = s"(${D(sc)} / ${D(nc)})"
        def vr(syy: String, sy: String, nc: String) =
          s"(${D(syy)} / ${D(nc)} - ${mean(sy, nc)} * ${mean(sy, nc)})"
        def cv(sxy: String, sx: String, sy: String, nc: String) =
          s"(${D(sxy)} / ${D(nc)} - ${mean(sx, nc)} * ${mean(sy, nc)})"
        def vadj(syy: String, sy: String, sxy: String, sx: String,
                 sxx: String, nc: String) =
          s"(${vr(syy, sy, nc)} - 2.0 * $theta * " +
            s"${cv(sxy, sx, sy, nc)} + $theta * $theta * " +
            s"${vr(sxx, sx, nc)})"
        val madjA = s"(${mean("sya", "na")} - $theta * " +
          s"(${mean("sxa", "na")} - ${mean("sx", "n")}))"
        val madjB = s"(${mean("syb", "nb")} - $theta * " +
          s"(${mean("sxb", "nb")} - ${mean("sx", "n")}))"
        val vA = vadj("syya", "sya", "sxya", "sxa", "sxxa", "na")
        val vB = vadj("syyb", "syb", "sxyb", "sxb", "sxxb", "nb")
        val zC = s"(($madjA - $madjB) / sqrt($vA / ${D("na")} " +
          s"+ $vB / ${D("nb")}))"
        val zR = s"((${mean("sya", "na")} - ${mean("syb", "nb")}) " +
          s"/ sqrt(${vr("syya", "sya", "na")} / ${D("na")} " +
          s"+ ${vr("syyb", "syb", "nb")} / ${D("nb")}))"
        val vredn = s"(1.0 - ($vA + $vB) / " +
          s"(${vr("syya", "sya", "na")} + ${vr("syyb", "syb", "nb")}))"
        val corrXY = s"(${cv("sxy", "sx", "sy", "n")} / " +
          s"sqrt(${vr("sxx", "sx", "n")} * ${vr("syy_all", "sy", "n")}))"
        s"""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type
           |  FROM events),
           |md AS (SELECT (min(us) + max(us)) // 2 AS t_mid FROM e),
           |u AS (SELECT user_id,
           |    CAST(sum(CASE WHEN us < t_mid THEN 1 ELSE 0 END) AS BIGINT)
           |      AS x,
           |    CAST(sum(CASE WHEN us >= t_mid AND event_type = 'purchase'
           |      THEN 1 ELSE 0 END) AS BIGINT) AS y,
           |    CAST(('0x' || substr(md5('ab:v1:' ||
           |      user_id::VARCHAR), 1, 8)) AS BIGINT) % 2 = 0 AS arm_a
           |  FROM e CROSS JOIN md GROUP BY user_id),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x*y) AS BIGINT) AS sxy,
           |    CAST(sum(x*x) AS BIGINT) AS sxx,
           |    CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
           |    CAST(sum(CASE WHEN arm_a THEN x ELSE 0 END) AS BIGINT) AS sxa,
           |    CAST(sum(CASE WHEN arm_a THEN y ELSE 0 END) AS BIGINT) AS sya,
           |    CAST(sum(CASE WHEN arm_a THEN x*y ELSE 0 END) AS BIGINT)
           |      AS sxya,
           |    CAST(sum(CASE WHEN arm_a THEN x*x ELSE 0 END) AS BIGINT)
           |      AS sxxa,
           |    CAST(sum(CASE WHEN arm_a THEN y*y ELSE 0 END) AS BIGINT)
           |      AS syya,
           |    CAST(sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT)
           |      AS nb,
           |    CAST(sum(CASE WHEN NOT arm_a THEN x ELSE 0 END) AS BIGINT)
           |      AS sxb,
           |    CAST(sum(CASE WHEN NOT arm_a THEN y ELSE 0 END) AS BIGINT)
           |      AS syb,
           |    CAST(sum(CASE WHEN NOT arm_a THEN x*y ELSE 0 END) AS BIGINT)
           |      AS sxyb,
           |    CAST(sum(CASE WHEN NOT arm_a THEN x*x ELSE 0 END) AS BIGINT)
           |      AS sxxb,
           |    CAST(sum(CASE WHEN NOT arm_a THEN y*y ELSE 0 END) AS BIGINT)
           |      AS syyb,
           |    CAST(sum(y*y) AS BIGINT) AS syy_all
           |  FROM u)
           |SELECT na AS n_a, nb AS n_b,
           |  round($theta, 6) AS theta,
           |  round($corrXY, 6) AS corr_xy,
           |  round(${mean("sya", "na")} - ${mean("syb", "nb")}, 6)
           |    AS diff_raw,
           |  round($madjA - $madjB, 6) AS diff_cuped,
           |  round($zR, 6) AS z_raw,
           |  round($zC, 6) AS z_cuped,
           |  CAST(round(1000000.0 * $vredn) AS BIGINT)
           |    AS var_reduction_ppm,
           |  abs($zR) >= 1.96 AS sig_raw,
           |  abs($zC) >= 1.96 AS sig_cuped
           |FROM m""".stripMargin
      }),

    // q272: INDEX-OF-DISPERSION POISSONITY TEST — the premise check for
    // q261's burst detector (whose null model is homogeneous Poisson) and
    // the standard over/under-dispersion diagnostic: D = (n−1)·s²/x̄ over
    // the hourly count series is χ²(n−1) under Poisson; D far above means
    // clustering/bursts, far below means regularity. The statistic is an
    // EXACT INTEGER RATIO — (n−1)s²/x̄ simplifies to (n·Σc² − S²)/S, no
    // float variance anywhere — reported in millis, and the acceptance
    // band is the χ² normal approximation df ± 1.96·√(2·df) quantized to
    // millis (one correctly-rounded sqrt; the milli quantization is part
    // of the registered spec). The fixture verdict: every type
    // poisson_ok — the in-engine proof of q261's "correctly nothing to
    // find" claim. Plan: one (type, hour) count exchange + dense-spine
    // completion (q261's), then a 5-row aggregate.
    Entry(
      "q272_dispersion_test",
      (s, d) => {
        val cnts = Tables.events(s, d)
          .select(col("event_type"),
            expr("(ts div 1000) div 3600000000").as("hr"))
          .groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("c_raw"))
          .localCheckpoint() // consumers: bounds + type dim + spine join
        val bounds = cnts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        val types = cnts.select(col("event_type")).distinct()
        val spine = types.crossJoin(broadcast(bounds))
          .select(col("event_type"), col("h0"),
            explode(expr("sequence(0L, h1 - h0)")).as("t"))
          .withColumn("hr", col("h0") + col("t"))
          .join(cnts, Seq("event_type", "hr"), "left_outer")
          .withColumn("c", expr("coalesce(c_raw, 0L)"))
        spine.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_hours"),
            sum(col("c")).as("total"),
            sum(col("c") * col("c")).as("q2"))
          .withColumn("disp_num",
            col("n_hours") * col("q2") - col("total") * col("total"))
          .select(col("event_type"), col("n_hours"), col("total"),
            expr("disp_num * 1000L div total").as("disp_milli"),
            expr("""CAST(round(1000.0D * (CAST(n_hours - 1 AS DOUBLE)
              - 1.96D * sqrt(2.0D * CAST(n_hours - 1 AS DOUBLE))))
              AS BIGINT)""").as("lo_milli"),
            expr("""CAST(round(1000.0D * (CAST(n_hours - 1 AS DOUBLE)
              + 1.96D * sqrt(2.0D * CAST(n_hours - 1 AS DOUBLE))))
              AS BIGINT)""").as("hi_milli"),
            expr("""disp_num * 1000L
              >= CAST(round(1000.0D * (CAST(n_hours - 1 AS DOUBLE)
                - 1.96D * sqrt(2.0D * CAST(n_hours - 1 AS DOUBLE))))
                AS BIGINT) * total
              AND disp_num * 1000L
              <= CAST(round(1000.0D * (CAST(n_hours - 1 AS DOUBLE)
                + 1.96D * sqrt(2.0D * CAST(n_hours - 1 AS DOUBLE))))
                AS BIGINT) * total""").as("poisson_ok"))
          .orderBy(col("event_type"))
      },
      Some("""WITH cn AS MATERIALIZED (SELECT event_type,
             |    (epoch_ns(ts) // 1000) // 3600000000 AS hr,
             |    CAST(count(*) AS BIGINT) AS c_raw
             |  FROM events GROUP BY 1, 2),
             |bd AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM cn),
             |ty AS (SELECT DISTINCT event_type FROM cn),
             |sp AS (SELECT ty.event_type,
             |    coalesce(cn.c_raw, 0) AS c
             |  FROM ty CROSS JOIN bd
             |  CROSS JOIN LATERAL (SELECT unnest(range(0, bd.h1 - bd.h0 + 1))
             |    AS t) gs
             |  LEFT JOIN cn ON cn.event_type = ty.event_type
             |    AND cn.hr = bd.h0 + gs.t),
             |ag AS (SELECT event_type,
             |    CAST(count(*) AS BIGINT) AS n_hours,
             |    CAST(sum(c) AS BIGINT) AS total,
             |    CAST(sum(c * c) AS BIGINT) AS q2
             |  FROM sp GROUP BY 1),
             |dm AS (SELECT event_type, n_hours, total,
             |    n_hours * q2 - total * total AS disp_num,
             |    CAST(round(1000.0 * (CAST(n_hours - 1 AS DOUBLE)
             |      - 1.96 * sqrt(2.0 * CAST(n_hours - 1 AS DOUBLE))))
             |      AS BIGINT) AS lo_milli,
             |    CAST(round(1000.0 * (CAST(n_hours - 1 AS DOUBLE)
             |      + 1.96 * sqrt(2.0 * CAST(n_hours - 1 AS DOUBLE))))
             |      AS BIGINT) AS hi_milli
             |  FROM ag)
             |SELECT event_type, n_hours, total,
             |  disp_num * 1000 // total AS disp_milli,
             |  lo_milli, hi_milli,
             |  disp_num * 1000 >= lo_milli * total
             |    AND disp_num * 1000 <= hi_milli * total AS poisson_ok
             |FROM dm ORDER BY event_type""".stripMargin)),

    // q275: DERANDOMIZED RANSAC ROBUST LINE FIT — the robust-regression
    // counterpart to q150's OLS (whose breakdown point is 0: one gross
    // outlier drags the fit arbitrarily): 16 seeded candidate lines, each
    // through two md5-chosen spine points, scored by EXACT-INTEGER inlier
    // tests (the point-to-candidate-line residual cross-multiplied:
    // |(y−yi)(xj−xi) − (yj−yi)(x−xi)| ≤ τ·(xj−xi) — no float geometry
    // anywhere), best model by (inliers, −k), then an OLS refit on its
    // inlier set. The fixture is dressed under the q261 dirty-fixture
    // discipline: a LINEAR trend (+pre-trend-mean/10 cents per hour — SF-invariant
    // signal-to-noise) is added to the pooled
    // hourly revenue and ~1/24 of hours are amplified ×20 (seeded md5) —
    // OLS on all points is provably dragged toward ~(42/24)× the planted
    // slope while RANSAC recovers it within 10% (both reported; recovery flags in-row). τ = 2× the
    // pre-trend mean — ≥ 5σ of hourly noise yet ≪ the ×20 outlier
    // residual at every SF. The
    // two-point slopes stay EXACT RATIONALS inside the integer test; the
    // only doubles are the two final OLS slopes (Σy² never needed — the
    // moment set stays int64-safe even with ×20 outliers). Plan: one
    // hourly rollup + dense spine (calendar-bounded), a 16-row candidate
    // broadcast crossed with the 720-row spine, 1-row combines after.
    Entry(
      "q275_ransac_fit",
      (s, d) => {
        val (ht, bounds) = dressedSpine(s, d)
        val tau = bounds.select(col("tau"), col("hh"))
        val cand = s.range(16).select(col("id").as("k"))
          .crossJoin(broadcast(tau))
          .select(col("k"), col("tau"),
            expr("CAST(conv(substring(md5(concat('ra:v1:', " +
              "CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % hh").as("i"),
            expr("CAST(conv(substring(md5(concat('rb:v1:', " +
              "CAST(k AS STRING))), 1, 8), 16, 10) AS BIGINT) % hh").as("j0"),
            col("hh"))
          .withColumn("j", expr("CASE WHEN j0 = i THEN (j0 + 1) % hh ELSE j0 END"))
          .join(ht.select(col("t").as("i"), col("y").as("yi")), Seq("i"))
          .join(ht.select(col("t").as("j"), col("y").as("yj")), Seq("j"))
          .select(col("k"), col("i"), col("j"), col("yi"), col("yj"), col("tau"))
        val inl = "abs((y - yi) * (j - i) - (yj - yi) * (t - i)) " +
          "<= tau * abs(j - i)"
        val scored = ht.crossJoin(broadcast(cand))
          .filter(expr(inl))
          .groupBy(col("k"), col("i"), col("j"), col("yi"), col("yj"),
            col("tau"))
          .agg(count(lit(1)).as("n_inliers"))
          .orderBy(col("n_inliers").desc, col("k")).limit(1)
          .localCheckpoint() // 1 row; consumers: refit filter + final select
        def slopeExpr(pfx: String) =
          s"round((CAST(n$pfx AS DOUBLE) * CAST(sxy$pfx AS DOUBLE) " +
            s"- CAST(sx$pfx AS DOUBLE) * CAST(sy$pfx AS DOUBLE)) " +
            s"/ (CAST(n$pfx AS DOUBLE) * CAST(sxx$pfx AS DOUBLE) " +
            s"- CAST(sx$pfx AS DOUBLE) * CAST(sx$pfx AS DOUBLE)), 6)"
        val refit = ht.crossJoin(broadcast(scored))
          .filter(expr(inl))
          .agg(count(lit(1)).as("nr"), sum(col("t")).as("sxr"),
            sum(col("y")).as("syr"), sum(col("t") * col("y")).as("sxyr"),
            sum(col("t") * col("t")).as("sxxr"))
        val olsAll = ht.agg(count(lit(1)).as("na"), sum(col("t")).as("sxa"),
          sum(col("y")).as("sya"), sum(col("t") * col("y")).as("sxya"),
          sum(col("t") * col("t")).as("sxxa"),
          sum(when(col("out"), 1L).otherwise(0L)).as("n_out"))
        olsAll.crossJoin(broadcast(scored.select(col("k").as("best_k"),
            col("n_inliers"))))
          .crossJoin(broadcast(refit))
          .crossJoin(broadcast(bounds.select(col("slope_p"))))
          .select(
            col("na").as("n_hours"), col("n_out").as("n_planted_outliers"),
            col("best_k"), col("n_inliers").as("best_inliers"),
            expr(slopeExpr("r")).as("slope_ransac"),
            expr(slopeExpr("a")).as("slope_ols"),
            col("slope_p").as("planted_slope"),
            expr(s"""abs(${slopeExpr("r")} - CAST(slope_p AS DOUBLE)) * 10.0D
                < CAST(slope_p AS DOUBLE)
              AND abs(${slopeExpr("a")} - CAST(slope_p AS DOUBLE))
                > abs(${slopeExpr("r")} - CAST(slope_p AS DOUBLE))""")
              .as("recovered"))
      },
      Some(sql"""WITH cn AS (SELECT (epoch_ns(ts) // 1000) // 3600000000 AS hr,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS y0
             |  FROM events GROUP BY 1),
             |bd AS MATERIALIZED (SELECT h0, h1, h1 - h0 + 1 AS hh,
             |    (ys // (h1 - h0 + 1)) // 10 AS slope_p,
             |    2 * (ys // (h1 - h0 + 1)) AS tau
             |  FROM (SELECT min(hr) AS h0, max(hr) AS h1,
             |      CAST(sum(y0) AS BIGINT) AS ys FROM cn)),
             |ht AS MATERIALIZED (SELECT gs.t,
             |    (coalesce(cn.y0, 0) + bd.slope_p * gs.t) * (CASE WHEN
             |      $RansacLane % 24 = 0 THEN 20 ELSE 1 END) AS y,
             |    $RansacLane % 24 = 0 AS outl
             |  FROM bd
             |  CROSS JOIN LATERAL (SELECT unnest(range(0, bd.hh)) AS t) gs
             |  LEFT JOIN cn ON cn.hr = bd.h0 + gs.t),
             |tu AS (SELECT tau, hh FROM bd),
             |cd AS MATERIALIZED (SELECT k, i,
             |    CASE WHEN j0 = i THEN (j0 + 1) % hh ELSE j0 END AS j,
             |    tau, hh
             |  FROM (SELECT ks.k, tu.tau, tu.hh,
             |      ${md5Lane("'ra:v1:' || ks.k::VARCHAR", castBr = Br(2))} % tu.hh AS i,
             |      ${md5Lane("'rb:v1:' || ks.k::VARCHAR", castBr = Br(2))} % tu.hh AS j0
             |    FROM (SELECT unnest(range(0, 16)) AS k) ks CROSS JOIN tu)),
             |cd2 AS MATERIALIZED (SELECT cd.k, cd.i, cd.j, cd.tau,
             |    hi.y AS yi, hj.y AS yj
             |  FROM cd JOIN ht hi ON hi.t = cd.i JOIN ht hj ON hj.t = cd.j),
             |sc AS MATERIALIZED (SELECT k, i, j, yi, yj, tau,
             |    CAST(count(*) AS BIGINT) AS n_inliers
             |  FROM ht CROSS JOIN cd2
             |  WHERE abs((ht.y - cd2.yi) * (cd2.j - cd2.i)
             |    - (cd2.yj - cd2.yi) * (ht.t - cd2.i))
             |    <= cd2.tau * abs(cd2.j - cd2.i)
             |  GROUP BY 1, 2, 3, 4, 5, 6
             |  ORDER BY n_inliers DESC, k LIMIT 1),
             |rf AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS nr,
             |    CAST(sum(ht.t) AS BIGINT) AS sxr,
             |    CAST(sum(ht.y) AS BIGINT) AS syr,
             |    CAST(sum(ht.t * ht.y) AS BIGINT) AS sxyr,
             |    CAST(sum(ht.t * ht.t) AS BIGINT) AS sxxr
             |  FROM ht CROSS JOIN sc
             |  WHERE abs((ht.y - sc.yi) * (sc.j - sc.i)
             |    - (sc.yj - sc.yi) * (ht.t - sc.i))
             |    <= sc.tau * abs(sc.j - sc.i)),
             |oa AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS na,
             |    CAST(sum(t) AS BIGINT) AS sxa, CAST(sum(y) AS BIGINT) AS sya,
             |    CAST(sum(t * y) AS BIGINT) AS sxya,
             |    CAST(sum(t * t) AS BIGINT) AS sxxa,
             |    CAST(sum(CASE WHEN outl THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_out
             |  FROM ht)
             |SELECT na AS n_hours, n_out AS n_planted_outliers,
             |  k AS best_k, n_inliers AS best_inliers,
             |  round((CAST(nr AS DOUBLE) * CAST(sxyr AS DOUBLE)
             |      - CAST(sxr AS DOUBLE) * CAST(syr AS DOUBLE))
             |    / (CAST(nr AS DOUBLE) * CAST(sxxr AS DOUBLE)
             |      - CAST(sxr AS DOUBLE) * CAST(sxr AS DOUBLE)), 6)
             |    AS slope_ransac,
             |  round((CAST(na AS DOUBLE) * CAST(sxya AS DOUBLE)
             |      - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE))
             |    / (CAST(na AS DOUBLE) * CAST(sxxa AS DOUBLE)
             |      - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE)), 6)
             |    AS slope_ols,
             |  bd.slope_p AS planted_slope,
             |  abs((CAST(nr AS DOUBLE) * CAST(sxyr AS DOUBLE)
             |      - CAST(sxr AS DOUBLE) * CAST(syr AS DOUBLE))
             |    / (CAST(nr AS DOUBLE) * CAST(sxxr AS DOUBLE)
             |      - CAST(sxr AS DOUBLE) * CAST(sxr AS DOUBLE))
             |    - CAST(bd.slope_p AS DOUBLE)) * 10.0
             |    < CAST(bd.slope_p AS DOUBLE)
             |    AND abs((CAST(na AS DOUBLE) * CAST(sxya AS DOUBLE)
             |      - CAST(sxa AS DOUBLE) * CAST(sya AS DOUBLE))
             |    / (CAST(na AS DOUBLE) * CAST(sxxa AS DOUBLE)
             |      - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE))
             |    - CAST(bd.slope_p AS DOUBLE))
             |    > abs((CAST(nr AS DOUBLE) * CAST(sxyr AS DOUBLE)
             |      - CAST(sxr AS DOUBLE) * CAST(syr AS DOUBLE))
             |    / (CAST(nr AS DOUBLE) * CAST(sxxr AS DOUBLE)
             |      - CAST(sxr AS DOUBLE) * CAST(sxr AS DOUBLE))
             |    - CAST(bd.slope_p AS DOUBLE))
             |    AS recovered
             |FROM oa CROSS JOIN sc CROSS JOIN rf CROSS JOIN bd""")),

    // q278: THEIL-SEN MEDIAN-SLOPE ESTIMATOR — the third member of the
    // robust-fit family (q150 OLS breaks at one outlier; q275 RANSAC is
    // sampling-based; Theil-Sen is the DETERMINISTIC 29.3%-breakdown
    // estimator: the median of all C(n,2) pairwise slopes). Same dressed
    // spine and planted ground truth as q275 — pairs touching an outlier
    // are ~8% of C(n,2), far under the breakdown point, so the median
    // recovers the planted slope with NO tuning parameter at all (RANSAC
    // needed τ and a candidate budget; that freedom from tuning is the
    // estimator's selling point). Pairwise slopes are QUANTIZED to
    // integer milli-cents/hour ((Δy·1000) div Δt — truncation identical
    // cross-engine on negatives), so the median is count-based and exact:
    // per-slope-value counts, the q190 two-phase block prefix over the
    // VALUE axis, lower median = min slope with 2·cum ≥ n. The C(720,2)
    // ≈ 259k pair set is CALENDAR²-bounded — fixed at any corpus scale —
    // built as a 720-row broadcast inequality join (never corpus-sized).
    // Recovery is a pure integer decision: |median − 1000·planted|·10 <
    // 1000·planted.
    Entry(
      "q278_theil_sen",
      (s, d) => {
        val (ht, bounds) = dressedSpine(s, d)
        val vc = ht.select(col("t").as("t1"), col("y").as("y1"))
          .crossJoin(broadcast(ht.select(col("t").as("t2"), col("y").as("y2"))))
          .filter(col("t1") < col("t2"))
          .select(expr("((y2 - y1) * 1000L) div (t2 - t1)").as("sm"))
          .groupBy(col("sm")).agg(count(lit(1)).as("cnt"))
          .withColumn("blk", expr("sm div 10000000"))
          .localCheckpoint() // consumers: block rollup + within-block window
        val wIn = Window.partitionBy(col("blk")).orderBy(col("sm"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wB = Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val bOff = vc.groupBy(col("blk")).agg(sum(col("cnt")).as("bn"))
          .select(col("blk"),
            coalesce(sum(col("bn")).over(wB), lit(0L)).as("sm_blk"))
        val tot = vc.agg(sum(col("cnt")).as("n_pairs"))
        val med = vc.withColumn("cum_in", sum(col("cnt")).over(wIn))
          .join(broadcast(bOff), Seq("blk"))
          .crossJoin(broadcast(tot))
          .agg(min(when((col("sm_blk") + col("cum_in")) * 2 >= col("n_pairs"),
            col("sm"))).as("ts_slope_milli"))
        med.crossJoin(broadcast(tot))
          .crossJoin(broadcast(bounds.select(col("slope_p"), col("hh"))))
          .select(col("hh").as("n_hours"), col("n_pairs"),
            col("ts_slope_milli"), col("slope_p").as("planted_slope"),
            (abs(col("ts_slope_milli") - col("slope_p") * 1000L) * 10L <
              col("slope_p") * 1000L).as("recovered"))
      },
      Some(sql"""$PlantedTrend,
             |pr AS (SELECT ((h2.y - h1.y) * 1000) // (h2.t - h1.t) AS sm
             |  FROM ht h1 JOIN ht h2 ON h1.t < h2.t),
             |vc AS MATERIALIZED (SELECT sm, CAST(count(*) AS BIGINT) AS cnt
             |  FROM pr GROUP BY 1),
             |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs FROM vc),
             |cm AS (SELECT sm,
             |    CAST(sum(cnt) OVER (ORDER BY sm ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS cum
             |  FROM vc)
             |SELECT bd.hh AS n_hours, tt.n_pairs,
             |  (SELECT CAST(min(CASE WHEN cum * 2 >= tt.n_pairs THEN sm END)
             |    AS BIGINT) FROM cm) AS ts_slope_milli,
             |  bd.slope_p AS planted_slope,
             |  abs((SELECT min(CASE WHEN cum * 2 >= tt.n_pairs THEN sm END)
             |      FROM cm) - bd.slope_p * 1000) * 10
             |    < bd.slope_p * 1000 AS recovered
             |FROM bd CROSS JOIN tt""")),

    // q279: MANN-KENDALL TREND TEST — the nonparametric "is there a
    // monotone trend AT ALL" significance test the fit family (q150 OLS,
    // q275 RANSAC, q278 Theil-Sen) estimates but never TESTS: S =
    // Σ_{i<j} sgn(y_j − y_i) over the dressed spine, an EXACT INTEGER
    // (pure sign concordance — rank-based, so the planted ×20 outliers
    // barely dent it: each contaminated pair flips at most one sign).
    // Var(S) = (n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5))/18 with the tie
    // correction from the exact per-value counts; z = (S − sgn(S))/√Var
    // is the one IEEE expression (continuity-corrected), decision at
    // ±1.96 on the unrounded value; Kendall's τ rides along in exact
    // milli (2000·S div n(n−1)). The planted trend must be detected as
    // 'increasing' THROUGH the contamination. Same calendar²-bounded
    // 720-row broadcast pair join as q278.
    Entry(
      "q279_mann_kendall",
      (s, d) => {
        val (ht, bounds) = dressedSpine(s, d)
        val sAgg = ht.select(col("t").as("t1"), col("y").as("y1"))
          .crossJoin(broadcast(ht.select(col("t").as("t2"), col("y").as("y2"))))
          .filter(col("t1") < col("t2"))
          .agg(sum(expr("CASE WHEN y2 > y1 THEN 1L WHEN y2 < y1 THEN -1L " +
            "ELSE 0L END")).as("s_stat"))
        val ties = ht.groupBy(col("y")).agg(count(lit(1)).as("tc"))
          .agg(sum(expr("tc * (tc - 1) * (2 * tc + 5)")).as("tie_sum"))
        val z = "((CAST(s_stat AS DOUBLE) - CAST(sign(s_stat) AS DOUBLE)) " +
          "/ sqrt(CAST(hh * (hh - 1) * (2 * hh + 5) - tie_sum AS DOUBLE) " +
          "/ 18.0D))"
        sAgg.crossJoin(broadcast(ties))
          .crossJoin(broadcast(bounds.select(col("hh"))))
          .select(col("hh").as("n_hours"), col("s_stat"),
            expr("hh * (hh - 1) * (2 * hh + 5) - tie_sum").as("var_num18"),
            expr("(2000L * s_stat) div (hh * (hh - 1))").as("kendall_tau_milli"),
            expr(s"round($z, 6)").as("z"),
            expr(s"""CASE WHEN $z >= 1.96D THEN 'increasing'
              WHEN $z <= -1.96D THEN 'decreasing'
              ELSE 'none' END""").as("trend"))
      },
      Some(sql"""$PlantedTrend,
             |sa AS (SELECT CAST(sum(CASE WHEN h2.y > h1.y THEN 1
             |      WHEN h2.y < h1.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
             |  FROM ht h1 JOIN ht h2 ON h1.t < h2.t),
             |tie AS (SELECT CAST(sum(tc * (tc - 1) * (2 * tc + 5))
             |      AS BIGINT) AS tie_sum
             |  FROM (SELECT y, CAST(count(*) AS BIGINT) AS tc
             |    FROM ht GROUP BY 1))
             |SELECT bd.hh AS n_hours, s_stat,
             |  bd.hh * (bd.hh - 1) * (2 * bd.hh + 5) - tie_sum AS var_num18,
             |  (2000 * s_stat) // (bd.hh * (bd.hh - 1)) AS kendall_tau_milli,
             |  round((CAST(s_stat AS DOUBLE) - CAST(sign(s_stat) AS DOUBLE))
             |    / sqrt(CAST(bd.hh * (bd.hh - 1) * (2 * bd.hh + 5) - tie_sum
             |      AS DOUBLE) / 18.0), 6) AS z,
             |  CASE WHEN (CAST(s_stat AS DOUBLE) - CAST(sign(s_stat)
             |      AS DOUBLE))
             |    / sqrt(CAST(bd.hh * (bd.hh - 1) * (2 * bd.hh + 5) - tie_sum
             |      AS DOUBLE) / 18.0) >= 1.96 THEN 'increasing'
             |    WHEN (CAST(s_stat AS DOUBLE) - CAST(sign(s_stat) AS DOUBLE))
             |    / sqrt(CAST(bd.hh * (bd.hh - 1) * (2 * bd.hh + 5) - tie_sum
             |      AS DOUBLE) / 18.0) <= -1.96 THEN 'decreasing'
             |    ELSE 'none' END AS trend
             |FROM sa CROSS JOIN tie CROSS JOIN bd""")),

    // q281: SPLIT CONFORMAL PREDICTION INTERVALS — distribution-free
    // forecast bands with a FINITE-SAMPLE coverage guarantee (Vovk;
    // Lei et al. JASA'18): fit on the first 80% of each type's hourly
    // spine (q150's exact-moment OLS), take q̂ = the ⌈0.9·(n_cal+1)⌉-th
    // smallest |residual| on the next 10% (calibration), and the band
    // ŷ ± q̂ covers a fresh point with probability ≥ 90% REGARDLESS of
    // the residual distribution — the guarantee every Gaussian ±1.96σ
    // band only pretends to have. The last 10% is the holdout where
    // coverage is AUDITED in-row. Determinism: the fit is IEEE doubles
    // over exact int64 moments (q150 discipline), residuals are
    // quantized to integer MICROS before ranking (q243's quantize-first
    // discipline — the rank decision can never flip cross-engine), and
    // q̂ is a count-based order statistic over the 72-row-per-type
    // calibration table (q135 discipline, windows bounded per type).
    // Plan: one (type, hour) rollup + dense spine; per-type 1-row moment
    // aggregates broadcast back; everything after lives on
    // calendar-bounded tables.
    Entry(
      "q281_conformal",
      (s, d) => {
        val cnts = Tables.events(s, d)
          .select(col("event_type"),
            expr("(ts div 1000) div 3600000000").as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(col("cents")).as("y0"))
          .localCheckpoint() // consumers: bounds + type dim + spine join
        val bounds = cnts.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        val types = cnts.select(col("event_type")).distinct()
        val spine = types.crossJoin(broadcast(bounds))
          .select(col("event_type"), col("h0"),
            expr("h1 - h0 + 1").as("hh"),
            explode(expr("sequence(0L, h1 - h0)")).as("t"))
          .withColumn("hr", col("h0") + col("t"))
          .join(cnts, Seq("event_type", "hr"), "left_outer")
          .select(col("event_type"), col("t"), col("hh"),
            expr("coalesce(y0, 0L)").as("y"),
            expr("""CASE WHEN t * 10 < hh * 8 THEN 'train'
              WHEN t * 10 < hh * 9 THEN 'cal' ELSE 'test' END""").as("split"))
          .localCheckpoint() // consumers: fit + residual pass
        val fit = spine.filter(col("split") === "train")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("nt"), sum(col("t")).as("sx"),
            sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sxy"),
            sum(col("t") * col("t")).as("sxx"))
          .select(col("event_type"), col("nt"),
            expr("""(CAST(nt AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(nt AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))""").as("b"),
            expr("""(CAST(sy AS DOUBLE) - (CAST(nt AS DOUBLE)
              * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
              * CAST(sy AS DOUBLE)) / (CAST(nt AS DOUBLE)
              * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
              * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
              / CAST(nt AS DOUBLE)""").as("a"))
        val resid = spine.join(broadcast(fit), Seq("event_type"))
          .withColumn("r_micro", expr(
            """abs(CAST(round(1000000.0D * (CAST(y AS DOUBLE)
              - (a + b * CAST(t AS DOUBLE)))) AS BIGINT))"""))
          .localCheckpoint() // consumers: calibration rank + holdout audit
        val wCal = Window.partitionBy(col("event_type")).orderBy(col("r_micro"))
        // k = ceil(0.9·(n_cal+1)) kept integer: (9·(n+1) + 9) div 10
        val qhat = resid.filter(col("split") === "cal")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_cal"))
          .select(col("event_type"), col("n_cal"),
            expr("(9L * (n_cal + 1) + 9L) div 10L").as("k"))
        val qv = resid.filter(col("split") === "cal")
          .withColumn("rn", row_number().over(wCal))
          .join(broadcast(qhat), Seq("event_type"))
          .filter(col("rn") === col("k"))
          .select(col("event_type"), col("n_cal"), col("k"),
            col("r_micro").as("q_hat_micro"))
        resid.filter(col("split") === "test")
          .join(broadcast(qv), Seq("event_type"))
          .groupBy(col("event_type"), col("n_cal"), col("k"),
            col("q_hat_micro"))
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("r_micro") <= col("q_hat_micro"), 1L).otherwise(0L))
              .as("n_covered"))
          .select(col("event_type"), col("n_cal"), col("k"),
            col("q_hat_micro"), col("n_test"), col("n_covered"),
            expr("n_covered * 1000000L div n_test").as("coverage_ppm"),
            expr("n_covered * 1000000L div n_test >= 750000L")
              .as("guarantee_ok"))
          .orderBy(col("event_type"))
      },
      Some("""WITH cn AS (SELECT event_type,
             |    (epoch_ns(ts) // 1000) // 3600000000 AS hr,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |      AS y0
             |  FROM events GROUP BY 1, 2),
             |bd AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM cn),
             |ty AS (SELECT DISTINCT event_type FROM cn),
             |sp AS MATERIALIZED (SELECT ty.event_type, gs.t,
             |    bd.h1 - bd.h0 + 1 AS hh,
             |    coalesce(cn.y0, 0) AS y,
             |    CASE WHEN gs.t * 10 < (bd.h1 - bd.h0 + 1) * 8 THEN 'train'
             |      WHEN gs.t * 10 < (bd.h1 - bd.h0 + 1) * 9 THEN 'cal'
             |      ELSE 'test' END AS split
             |  FROM ty CROSS JOIN bd
             |  CROSS JOIN LATERAL (SELECT unnest(range(0, bd.h1 - bd.h0 + 1))
             |    AS t) gs
             |  LEFT JOIN cn ON cn.event_type = ty.event_type
             |    AND cn.hr = bd.h0 + gs.t),
             |ft AS MATERIALIZED (SELECT event_type,
             |    (CAST(nt AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (CAST(nt AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
             |    (CAST(sy AS DOUBLE) - (CAST(nt AS DOUBLE)
             |      * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sy AS DOUBLE)) / (CAST(nt AS DOUBLE)
             |      * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
             |      * CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             |      / CAST(nt AS DOUBLE) AS a
             |  FROM (SELECT event_type, CAST(count(*) AS BIGINT) AS nt,
             |      CAST(sum(t) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |      CAST(sum(t * y) AS BIGINT) AS sxy,
             |      CAST(sum(t * t) AS BIGINT) AS sxx
             |    FROM sp WHERE split = 'train' GROUP BY 1)),
             |rs AS MATERIALIZED (SELECT sp.event_type, sp.t, sp.split,
             |    abs(CAST(round(1000000.0 * (CAST(sp.y AS DOUBLE)
             |      - (ft.a + ft.b * CAST(sp.t AS DOUBLE)))) AS BIGINT))
             |      AS r_micro
             |  FROM sp JOIN ft USING (event_type)),
             |ca AS MATERIALIZED (SELECT event_type, r_micro,
             |    row_number() OVER (PARTITION BY event_type ORDER BY r_micro)
             |      AS rn
             |  FROM rs WHERE split = 'cal'),
             |kq AS MATERIALIZED (SELECT event_type,
             |    CAST(count(*) AS BIGINT) AS n_cal,
             |    (9 * (CAST(count(*) AS BIGINT) + 1) + 9) // 10 AS k
             |  FROM ca GROUP BY 1),
             |qv AS MATERIALIZED (SELECT ca.event_type, kq.n_cal, kq.k,
             |    CAST(ca.r_micro AS BIGINT) AS q_hat_micro
             |  FROM ca JOIN kq ON kq.event_type = ca.event_type
             |    AND ca.rn = kq.k)
             |SELECT rs.event_type, qv.n_cal, qv.k, qv.q_hat_micro,
             |  CAST(count(*) AS BIGINT) AS n_test,
             |  CAST(sum(CASE WHEN rs.r_micro <= qv.q_hat_micro
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
             |  CAST(sum(CASE WHEN rs.r_micro <= qv.q_hat_micro
             |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             |    // CAST(count(*) AS BIGINT) AS coverage_ppm,
             |  CAST(sum(CASE WHEN rs.r_micro <= qv.q_hat_micro
             |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             |    // CAST(count(*) AS BIGINT) >= 750000 AS guarantee_ok
             |FROM rs JOIN qv USING (event_type)
             |WHERE rs.split = 'test'
             |GROUP BY 1, 2, 3, 4 ORDER BY rs.event_type""".stripMargin))
  )
}
