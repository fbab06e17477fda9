package graft.operators

import graft.Tables
import graft.mr.MRRunner
import graft.queries.Entry
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third tranche: window frames/distribution functions, pivot via the
  * dedicated API, unpivot, and the MR combiner path.
  */
object Relational3 {

  private val T = Tables

  /** Word count through [[MRRunner.reduceByKeyDF]]: a map function plus a
    * merge, run as a [[graft.mr.Combinable]] job, so the map-side combiner
    * (the partial aggregation the reference never had) cuts the shuffle to
    * about one row per (map task, key) instead of one per token. Same result
    * as q30, verified by the shared oracle.
    */
  private def countMap(line: String): IterableOnce[(String, String)] =
    line.split(' ').iterator.filter(_.nonEmpty).map(_ -> "1")

  val entries: Seq[Entry] = Seq(
    // q59: MR wordcount from a bare (map, merge) pair via reduceByKeyDF —
    // the combiner path, with one hash exchange on word plus the orderBy's
    // range exchange; oracle shared with q30.
    Entry(
      "q59_mr_combiner",
      (s, d) => {
        import s.implicits._
        val lines = T.documents(s, d).select(col("text")).as[String]
        MRRunner
          .reduceByKeyDF(s, lines, countMap, (a, b) => (a.toLong + b.toLong).toString, 32)
          .toDF("word", "cnt_str")
          .select(col("word"), col("cnt_str").cast("long").as("cnt"))
          .orderBy(col("word"))
      },
      Some("""SELECT word, count(*) AS cnt FROM (
             | SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
             |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin)),

    // q73: inverted index through the MR surface (registry user_id
    // "invertedindex") — the second canonical MapReduce job: full
    // scan → flatMap(word, doc) → hash shuffle → key-sorted grouped reduce
    // emitting sorted distinct posting lists.
    Entry(
      "q73_mr_inverted_index",
      (s, d) => {
        import s.implicits._
        val lines = T.documents(s, d)
          .select(concat(col("doc_id"), lit(":"), col("text")))
          .as[String]
        MRRunner
          .transform(s, lines, graft.mr.JobRegistry.get("invertedindex"), 32)
          .toDF("word", "doc_ids")
          .orderBy(col("word"))
      },
      Some("""WITH t AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS word, doc_id
             |  FROM documents)
             |SELECT word,
             | string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
             |FROM t WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin)),

    // q60: window frames + distribution functions — running revenue (rows
    // frame), ntile quartile, cumulative distribution per customer's orders.
    Entry(
      "q60_window_frames",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T.orders(s, d)
          .select(
            col("o_custkey"), col("o_orderkey"),
            round(sum(col("o_totalprice")).over(wf), 2).as("running_spend"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(cume_dist().over(w), 4).as("cd"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |   ORDER BY o_orderdate, o_orderkey
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
             | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             | round(cume_dist() OVER w, 4) AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // q61: pivot through the dedicated RelationalGroupedDataset.pivot API
    // with a declared value list (no extra pass to discover values — the
    // scale-correct form); one conditional-agg pass underneath.
    Entry(
      "q61_pivot_api",
      (s, d) =>
        T.orders(s, d)
          .groupBy(col("o_orderstatus"))
          .pivot("o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .select(
            col("o_orderstatus"),
            col("1-URGENT").as("urgent"),
            col("2-HIGH").as("high"),
            col("3-MEDIUM").as("medium"),
            col("4-NOT SPECIFIED").as("notspec"),
            col("5-LOW").as("low"))
          .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus,
             | count(*) FILTER (o_orderpriority='1-URGENT') AS urgent,
             | count(*) FILTER (o_orderpriority='2-HIGH') AS high,
             | count(*) FILTER (o_orderpriority='3-MEDIUM') AS medium,
             | count(*) FILTER (o_orderpriority='4-NOT SPECIFIED') AS notspec,
             | count(*) FILTER (o_orderpriority='5-LOW') AS low
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // q62: unpivot (wide→long) via the dedicated Dataset.unpivot API over a
    // per-segment aggregate; oracle as UNION ALL for portability.
    Entry(
      "q62_unpivot",
      (s, d) =>
        T.customer(s, d)
          .groupBy(col("c_mktsegment"))
          .agg(
            round(sum(col("c_acctbal")), 2).as("total_bal"),
            round(avg(col("c_acctbal")), 2).as("avg_bal"),
            count(lit(1)).cast("double").as("n_cust"))
          .unpivot(
            Array(col("c_mktsegment")),
            Array(col("total_bal"), col("avg_bal"), col("n_cust")),
            "metric",
            "value")
          .orderBy(col("c_mktsegment"), col("metric")),
      Some("""WITH a AS (SELECT c_mktsegment,
             |  round(sum(c_acctbal),2) AS total_bal,
             |  round(avg(c_acctbal),2) AS avg_bal,
             |  CAST(count(*) AS DOUBLE) AS n_cust
             | FROM customer GROUP BY c_mktsegment)
             |SELECT c_mktsegment, 'total_bal' AS metric, total_bal AS value FROM a
             |UNION ALL SELECT c_mktsegment, 'avg_bal', avg_bal FROM a
             |UNION ALL SELECT c_mktsegment, 'n_cust', n_cust FROM a
             |ORDER BY c_mktsegment, metric""".stripMargin)),

    // q117: DATA-QUALITY CONSTRAINT AUDIT (the Deequ/dbt-test shape): run a
    // batch of declared constraints over a table and emit per-check
    // violation counts. The audited input is the orders snapshot polluted
    // with deterministic bad rows (q98's fixture-fabrication pattern —
    // null keys, duplicate keys, rejected status, negative price, orphaned
    // custkey — one of each per key ≡ 1 mod 1000), so every check is
    // exercised against real violations, not vacuously green. Scale shape:
    // the four column checks are conditional aggregates in ONE scan (one
    // 1-row agg, no shuffle of the table); uniqueness adds the one
    // unavoidable key-grouped exchange; referential integrity is a
    // broadcast LEFT ANTI against the dim keys — the audit costs one pass
    // + one keyed exchange no matter how many checks are declared.
    Entry(
      "q117_data_quality",
      (s, d) => {
        val base = T.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
        val seed = base.filter(col("o_orderkey") % 1000 === 1)
        val polluted = base
          .unionByName(seed.select(lit(null).cast("long").as("o_orderkey"),
            col("o_custkey"), col("o_orderstatus"), col("o_totalprice")))
          .unionByName(seed)
          .unionByName(seed.select((col("o_orderkey") + 7000000L).as("o_orderkey"), col("o_custkey"),
            lit("X").as("o_orderstatus"), col("o_totalprice")))
          .unionByName(seed.select((col("o_orderkey") + 8000000L).as("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), lit(-1.0).as("o_totalprice")))
          .unionByName(seed.select((col("o_orderkey") + 9000000L).as("o_orderkey"),
            (col("o_custkey") + 10000000L).as("o_custkey"),
            col("o_orderstatus"), col("o_totalprice")))
        val colChecks = polluted.agg(
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("null_key"),
          (count(col("o_orderkey")) - countDistinct(col("o_orderkey")))
            .as("dup_key"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
            .as("bad_status"),
          sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1L)
            .otherwise(0L)).as("bad_price"))
        val orphans = polluted
          .join(broadcast(T.customer(s, d).select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_custkey"))
        colChecks.crossJoin(broadcast(orphans))
          .select(
            explode(array(
              struct(lit("o_custkey_ref_integrity").as("check_name"),
                col("orphan_custkey").as("n_violations")),
              struct(lit("o_orderkey_not_null").as("check_name"),
                col("null_key").as("n_violations")),
              struct(lit("o_orderkey_unique").as("check_name"),
                col("dup_key").as("n_violations")),
              struct(lit("o_orderstatus_accepted").as("check_name"),
                col("bad_status").as("n_violations")),
              struct(lit("o_totalprice_positive").as("check_name"),
                col("bad_price").as("n_violations")))).as("c"))
          .select(col("c.check_name").as("check_name"),
            col("c.n_violations").as("n_violations"),
            (col("c.n_violations") === 0L).as("pass"))
          .orderBy(col("check_name"))
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             |    FROM orders),
             |seed AS (SELECT * FROM base WHERE o_orderkey % 1000 = 1),
             |p AS (
             |  SELECT * FROM base
             |  UNION ALL SELECT NULL, o_custkey, o_orderstatus, o_totalprice FROM seed
             |  UNION ALL SELECT * FROM seed
             |  UNION ALL SELECT o_orderkey + 7000000, o_custkey, 'X', o_totalprice
             |    FROM seed
             |  UNION ALL SELECT o_orderkey + 8000000, o_custkey, o_orderstatus, -1.0
             |    FROM seed
             |  UNION ALL SELECT o_orderkey + 9000000, o_custkey + 10000000,
             |    o_orderstatus, o_totalprice FROM seed),
             |v AS (
             |  SELECT 'o_custkey_ref_integrity' AS check_name, count(*) AS n_violations
             |    FROM p WHERE NOT EXISTS
             |      (SELECT 1 FROM customer c WHERE c.c_custkey = p.o_custkey)
             |  UNION ALL SELECT 'o_orderkey_not_null', count(*) FROM p
             |    WHERE o_orderkey IS NULL
             |  UNION ALL SELECT 'o_orderkey_unique',
             |    count(o_orderkey) - count(DISTINCT o_orderkey) FROM p
             |  UNION ALL SELECT 'o_orderstatus_accepted', count(*) FROM p
             |    WHERE o_orderstatus NOT IN ('O', 'F', 'P')
             |  UNION ALL SELECT 'o_totalprice_positive', count(*) FROM p
             |    WHERE o_totalprice IS NULL OR o_totalprice <= 0)
             |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
             |  n_violations = 0 AS pass
             |FROM v ORDER BY check_name""".stripMargin)),

    // q118: INCREMENTAL AGGREGATE MAINTENANCE (materialized-view delta
    // application — the IVM identity sum/count are self-maintainable
    // under): maintain the per-status (count, sum(price)) rollup under
    // q115's fabricated change stream by folding ONLY the deltas into the
    // stored aggregate — deletes contribute (-1, -old), updates
    // (0, new-old), inserts (+1, +new) — never rescanning the base. At
    // 100 TB this is the difference between touching the change stream
    // (MBs) and the fact table (TBs) on every refresh. The query emits the
    // maintained rollup NEXT TO a from-scratch recompute of the applied
    // state plus a per-status consistency flag (|maintained − scratch|
    // < 0.01, evaluated within-engine so fp summation-order noise can't
    // flip it) — a pass proves the delta algebra, not just the arithmetic.
    Entry(
      "q118_incremental_agg",
      (s, d) => {
        val snap = T.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
            col("o_totalprice").as("p"))
        // change stream with before/after images (q115's classes)
        val dels = snap.filter(col("k") % 97 === 0)
          .select(col("st"), lit(-1L).as("dn"), (-col("p")).as("dp"))
        val upds = snap.filter(col("k") % 97 =!= 0 && col("k") % 10 === 0)
          .select(col("st"), lit(0L).as("dn"), lit(1.0).as("dp"))
        val ins = snap.filter(col("k") % 50 === 0)
          .select(col("st"), lit(1L).as("dn"), col("p").as("dp"))
        val deltaAgg = dels.unionByName(upds).unionByName(ins)
          .groupBy(col("st"))
          .agg(sum(col("dn")).as("dn"), sum(col("dp")).as("dp"))
        val baseAgg = snap.groupBy(col("st"))
          .agg(count(lit(1)).as("bn"), sum(col("p")).as("bp"))
        val maintained = baseAgg
          .join(deltaAgg, Seq("st"), "left_outer")
          .select(col("st"),
            (col("bn") + coalesce(col("dn"), lit(0L))).as("n_maintained"),
            (col("bp") + coalesce(col("dp"), lit(0.0))).as("mp"))
        // from-scratch recompute over the applied state (q115's apply)
        val applied = snap
          .filter(col("k") % 97 =!= 0)
          .select(col("st"),
            when(col("k") % 10 === 0, col("p") + 1.0).otherwise(col("p")).as("p"))
          .unionByName(snap.filter(col("k") % 50 === 0).select(col("st"), col("p")))
        val scratch = applied.groupBy(col("st"))
          .agg(count(lit(1)).as("n_scratch"), sum(col("p")).as("sp"))
        // full_outer, not inner: a status whose rows vanish ENTIRELY from
        // one side (e.g. the delta algebra drives its applied count to
        // zero, so the from-scratch recompute has no group) must surface
        // as a row — consistent iff the other side also reads 0 — not be
        // silently dropped. The one case where maintenance goes maximally
        // wrong would otherwise be the one case the check can't see.
        maintained.join(scratch, Seq("st"), "full_outer")
          .select(col("st").as("o_orderstatus"),
            coalesce(col("n_maintained"), lit(0L)).as("n_maintained"),
            coalesce(col("n_scratch"), lit(0L)).as("n_scratch"),
            round(coalesce(col("mp"), lit(0.0)), 2).as("total_maintained"),
            (coalesce(col("n_maintained"), lit(0L)) ===
              coalesce(col("n_scratch"), lit(0L)) &&
              abs(coalesce(col("mp"), lit(0.0)) -
                coalesce(col("sp"), lit(0.0))) < 0.01).as("consistent"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH snap AS (SELECT o_orderkey AS k, o_orderstatus AS st,
             |    o_totalprice AS p FROM orders),
             |delta AS (
             |  SELECT st, -1 AS dn, -p AS dp FROM snap WHERE k % 97 = 0
             |  UNION ALL SELECT st, 0, 1.0 FROM snap WHERE k % 97 <> 0 AND k % 10 = 0
             |  UNION ALL SELECT st, 1, p FROM snap WHERE k % 50 = 0),
             |da AS (SELECT st, sum(dn) AS dn, sum(dp) AS dp FROM delta GROUP BY st),
             |ba AS (SELECT st, count(*) AS bn, sum(p) AS bp FROM snap GROUP BY st),
             |m AS (SELECT ba.st, bn + coalesce(dn, 0) AS n_maintained,
             |    bp + coalesce(dp, 0.0) AS mp
             |  FROM ba LEFT JOIN da ON ba.st = da.st),
             |ap AS (
             |  SELECT st, CASE WHEN k % 10 = 0 THEN p + 1.0 ELSE p END AS p
             |    FROM snap WHERE k % 97 <> 0
             |  UNION ALL SELECT st, p FROM snap WHERE k % 50 = 0),
             |sc AS (SELECT st, count(*) AS n_scratch, sum(p) AS sp
             |  FROM ap GROUP BY st)
             |SELECT coalesce(m.st, sc.st) AS o_orderstatus,
             |  CAST(coalesce(n_maintained, 0) AS BIGINT) AS n_maintained,
             |  CAST(coalesce(n_scratch, 0) AS BIGINT) AS n_scratch,
             |  round(coalesce(mp, 0.0), 2) AS total_maintained,
             |  (coalesce(n_maintained, 0) = coalesce(n_scratch, 0)
             |    AND abs(coalesce(mp, 0.0) - coalesce(sp, 0.0)) < 0.01) AS consistent
             |FROM m FULL JOIN sc ON m.st = sc.st ORDER BY o_orderstatus""".stripMargin)),

    // q177: DISTRIBUTED GREP through the MR surface — the OTHER canonical
    // job from the MapReduce paper (Dean & Ghemawat §2.3, beside word
    // count and inverted index, completing the paper's example set in the
    // registry). Registry user_id "grep", pattern "scan": map emits one
    // record per substring occurrence (most lines emit nothing — the
    // map-selective regime where the shuffle is nearly free, the OPPOSITE
    // profile from word count's fan-out), reduce sums per doc. Oracle
    // counts occurrences by exact length arithmetic — the engine-agnostic
    // `grep -o | wc -l` identity.
    Entry(
      "q177_mr_grep",
      (s, d) => {
        import s.implicits._
        val lines = T.documents(s, d)
          .select(concat(col("doc_id"), lit(":"), col("text")))
          .as[String]
        MRRunner
          .transform(s, lines, graft.mr.JobRegistry.get("grep"), 32)
          .toDF("doc_id_str", "n_str")
          .select(
            col("doc_id_str").cast("long").as("doc_id"),
            col("n_str").cast("long").as("n_matches"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH c AS (SELECT doc_id,
             |    (length(text) - length(replace(text, 'scan', ''))) // 4
             |      AS n_matches
             |  FROM documents)
             |SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches
             |FROM c WHERE n_matches > 0 ORDER BY doc_id""".stripMargin)),

    // q178: VALUE-RANGE WINDOW FRAME — rolling 24-hour revenue per series
    // via RANGE BETWEEN 23 PRECEDING AND CURRENT ROW on the integer hour
    // key: the frame is defined by VALUE distance, so calendar gaps are
    // handled by the frame semantics themselves — no q148/q163 spine, no
    // explode, no per-hour zero rows; the engine's range-frame machinery
    // finds each row's frame start by value (binary search over the
    // sorted partition). The complementary idiom to q163: RANGE frames
    // when the aggregate is a plain sum over a value window, the
    // spine+lag form when weights vary per calendar bucket (a RANGE
    // frame cannot weight by distance). Integer cents; per-series
    // partitions sorted once.
    Entry(
      "q178_range_frame",
      (s, d) => {
        val hourly = T.events(s, d)
          .select(
            col("event_type"),
            expr("ts div 3600000000000").as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rangeBetween(-23, 0)
        hourly
          .select(
            col("event_type"), col("hr"), col("n"),
            (col("cents") / 100.0).as("sum_value"),
            sum(col("cents")).over(w).as("win24_cents"),
            count(lit(1)).over(w).as("win24_hours"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr,
             |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
             |h AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(cents) AS BIGINT) AS cents FROM e GROUP BY 1, 2)
             |SELECT event_type, hr, n, CAST(cents / 100.0 AS DOUBLE) AS sum_value,
             |  CAST(sum(cents) OVER w AS BIGINT) AS win24_cents,
             |  CAST(count(*) OVER w AS BIGINT) AS win24_hours
             |FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr
             |  RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
             |ORDER BY event_type, hr""".stripMargin)),

    // q180: ONE-PASS SCHEMA PROFILE — the data-profiler every ingest
    // pipeline runs on arrival (the `summarize`/dbt-docs shape): per
    // column, rows/nulls/exact-distinct/min/max, computed in ONE corpus
    // scan — a profiler that scans once per column is unusable at 100 TB.
    // All 4 columns' metrics live in a single aggregate (Catalyst plans
    // the multiple DISTINCT aggregates via one expand — still one scan,
    // one exchange, at the cost of a 4x row expansion through the
    // shuffle; at 100 TB swap the exact countDistinct for
    // approx_count_distinct and the expand disappears — HLL partials are
    // plain-aggregatable, which is why every production profiler reports
    // approximate distincts), then the 1-row wide result melts to long
    // format via stack (map-side, the q171 expand). Profiled columns are integer- or
    // string-typed so min/max stringify identically cross-engine (a
    // double column's string form is engine-formatting-dependent — cast
    // to exact cents first if you need it profiled).
    Entry(
      "q180_schema_profile",
      (s, d) => {
        val wide = T.orders(s, d).agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn1"),
          countDistinct(col("o_orderkey")).as("nd1"),
          min(col("o_orderkey")).cast("string").as("mn1"),
          max(col("o_orderkey")).cast("string").as("mx1"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn2"),
          countDistinct(col("o_custkey")).as("nd2"),
          min(col("o_custkey")).cast("string").as("mn2"),
          max(col("o_custkey")).cast("string").as("mx2"),
          sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn3"),
          countDistinct(col("o_orderstatus")).as("nd3"),
          min(col("o_orderstatus")).cast("string").as("mn3"),
          max(col("o_orderstatus")).cast("string").as("mx3"),
          sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn4"),
          countDistinct(col("o_orderpriority")).as("nd4"),
          min(col("o_orderpriority")).cast("string").as("mn4"),
          max(col("o_orderpriority")).cast("string").as("mx4"))
        wide.selectExpr(
          "n_rows",
          """stack(4,
             'o_orderkey', nn1, nd1, mn1, mx1,
             'o_custkey', nn2, nd2, mn2, mx2,
             'o_orderstatus', nn3, nd3, mn3, mx3,
             'o_orderpriority', nn4, nd4, mn4, mx4)
             AS (column_name, n_nulls, n_distinct, min_str, max_str)""")
          .select(
            col("column_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_str"), col("max_str"))
          .orderBy(col("column_name"))
      },
      Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
             |p AS (
             |  SELECT 'o_orderkey' AS column_name,
             |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             |    CAST(min(o_orderkey) AS VARCHAR) AS min_str,
             |    CAST(max(o_orderkey) AS VARCHAR) AS max_str FROM orders
             |  UNION ALL
             |  SELECT 'o_custkey',
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(count(DISTINCT o_custkey) AS BIGINT),
             |    CAST(min(o_custkey) AS VARCHAR),
             |    CAST(max(o_custkey) AS VARCHAR) FROM orders
             |  UNION ALL
             |  SELECT 'o_orderstatus',
             |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(count(DISTINCT o_orderstatus) AS BIGINT),
             |    min(o_orderstatus), max(o_orderstatus) FROM orders
             |  UNION ALL
             |  SELECT 'o_orderpriority',
             |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
             |    min(o_orderpriority), max(o_orderpriority) FROM orders)
             |SELECT column_name, n.n_rows, n_nulls, n_distinct, min_str, max_str
             |FROM p CROSS JOIN n ORDER BY column_name""".stripMargin)),

    // q195: APPROX SCHEMA PROFILE — q180's production form. Exact
    // multi-column DISTINCT profiling plans an Expand (4× row
    // amplification through the single exchange); at 100 TB you swap
    // countDistinct for approx_count_distinct (HLL++, rsd 2%) and the
    // expand disappears — HLL partials are plain-aggregatable, so the
    // whole profile is ONE scan, ONE 1-row exchange, zero row
    // amplification (suite-pinned: [[approxProfile]]'s executed plan has
    // no Expand node while q180's does). Registered here in the
    // exact-beside-production pairing (the q110/q127 discipline): the
    // exact branch supplies the oracle-comparable n_distinct, and the
    // approx branch is judged in-row by `approx_ok` — |hll − exact| ≤
    // max(10% of exact, 2) per column. HLL++ is deterministic for a
    // given input multiset (no RNG), so this is a stable gate, not a
    // flaky tolerance; with rsd 2% the 10% bound has enormous headroom
    // at every SF, and small cardinalities (o_orderstatus: 3) sit in
    // HLL++'s exact sparse regime.
    Entry(
      "q195_schema_profile_approx",
      (s, d) => {
        val prod = approxProfile(T.orders(s, d)) // the no-expand pass
        val exact = T.orders(s, d).agg(
          countDistinct(col("o_orderkey")).as("xd1"),
          countDistinct(col("o_custkey")).as("xd2"),
          countDistinct(col("o_orderstatus")).as("xd3"),
          countDistinct(col("o_orderpriority")).as("xd4"))
        val ok = (a: String, x: String) =>
          (abs(col(a) - col(x)) <= greatest(
            ceil(col(x).cast("double") * 0.10).cast("long"), lit(2L))).as("ok_" + x)
        prod
          .crossJoin(broadcast(exact))
          .select(
            col("*"),
            ok("ad1", "xd1"), ok("ad2", "xd2"), ok("ad3", "xd3"), ok("ad4", "xd4"))
          .selectExpr(
            "n_rows",
            """stack(4,
               'o_orderkey', nn1, xd1, mn1, mx1, ok_xd1,
               'o_custkey', nn2, xd2, mn2, mx2, ok_xd2,
               'o_orderstatus', nn3, xd3, mn3, mx3, ok_xd3,
               'o_orderpriority', nn4, xd4, mn4, mx4, ok_xd4)
               AS (column_name, n_nulls, n_distinct, min_str, max_str, approx_ok)""")
          .select(
            col("column_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_str"), col("max_str"), col("approx_ok"))
          .orderBy(col("column_name"))
      },
      Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
             |p AS (
             |  SELECT 'o_orderkey' AS column_name,
             |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
             |    CAST(min(o_orderkey) AS VARCHAR) AS min_str,
             |    CAST(max(o_orderkey) AS VARCHAR) AS max_str FROM orders
             |  UNION ALL
             |  SELECT 'o_custkey',
             |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(count(DISTINCT o_custkey) AS BIGINT),
             |    CAST(min(o_custkey) AS VARCHAR),
             |    CAST(max(o_custkey) AS VARCHAR) FROM orders
             |  UNION ALL
             |  SELECT 'o_orderstatus',
             |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(count(DISTINCT o_orderstatus) AS BIGINT),
             |    min(o_orderstatus), max(o_orderstatus) FROM orders
             |  UNION ALL
             |  SELECT 'o_orderpriority',
             |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
             |    min(o_orderpriority), max(o_orderpriority) FROM orders)
             |SELECT column_name, n.n_rows, n_nulls, n_distinct, min_str, max_str,
             |  TRUE AS approx_ok
             |FROM p CROSS JOIN n ORDER BY column_name""".stripMargin)),

    // q206: BENFORD FIRST-DIGIT AUDIT — the fabricated-data detector
    // finance and data-QC teams run on any amount column: the leading
    // significant digit of naturally-occurring multi-magnitude amounts
    // follows P(d) = log10(1+1/d); synthetic or tampered values don't.
    // Implementation is scale-free and log-free: first digit = first
    // char of the exact cents integer's decimal form (identical string
    // cast in both engines — no float log10 anywhere), observed shares in
    // exact ppm, expectations as HARDCODED ppm literals (both engines
    // read the same 9 constants — nothing derived from ln/log10 at run
    // time), and the chi-square statistic over the 9 digit cells rounded
    // to 1e-6 (a 9-term double sum is the one place summation order
    // could flip an ulp — the repo's rounding discipline absorbs it).
    // Plan: one map pass + a 9-row aggregate; the corpus never shuffles
    // on anything wider than the digit.
    Entry(
      "q206_benford_audit",
      (s, d) => benfordAudit(s,
        T.lineitem(s, d).select(col("l_extendedprice").as("amount"))),
      Some("""WITH c AS (SELECT substr(CAST(CAST(round(l_extendedprice * 100)
             |      AS BIGINT) AS VARCHAR), 1, 1) AS digit FROM lineitem),
             |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
             |  FROM c GROUP BY 1),
             |e AS (SELECT CAST(d AS VARCHAR) AS digit, e_ppm FROM (VALUES
             |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
             |  (6, 66947), (7, 57992), (8, 51153), (9, 45757)) t(d, e_ppm)),
             |n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM o),
             |j AS (SELECT e.digit, CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
             |    CAST(e.e_ppm AS BIGINT) AS e_ppm,
             |    n.n, coalesce(o.n_obs, 0) * 1000000 // n.n AS share_ppm
             |  FROM e LEFT JOIN o USING (digit) CROSS JOIN n),
             |x AS (SELECT round(sum(
             |    (CAST(n_obs * 1000000 - n * e_ppm AS DOUBLE)
             |     * CAST(n_obs * 1000000 - n * e_ppm AS DOUBLE))
             |    / CAST(n * e_ppm AS DOUBLE) / 1000000.0), 6) AS chi2 FROM j)
             |SELECT j.digit, j.n_obs, j.share_ppm, j.e_ppm AS expected_ppm,
             |  x.chi2, x.chi2 < 15.51 AS benford_ok
             |FROM j CROSS JOIN x ORDER BY j.digit""".stripMargin))
  )

  /** q223's entries live in [[entries2]] so the primary Seq stays under the
    * JVM method-size comfort zone.
    */
  val entries2: Seq[Entry] = Seq(
    // q223: JOIN-CARDINALITY ESTIMATION BY KEY SAMPLING — the planner-
    // adjacent diagnostic a 100 TB engine runs before committing to a join
    // strategy: estimate |A ⋈ B| from a 1/32 sample. The operator teaches
    // (and the output exhibits) the classic pitfall: sampling KEYS
    // (correlated — both sides keep the same 1/32 key bucket, estimate =
    // 32 × sample-join count, unbiased with per-key-group variance only)
    // vs sampling ROWS independently (each side keeps ~1/32 by unrelated
    // hashes; a pair survives with prob 1/1024, so the scale-up is 1024×
    // and the realized error is catastrophic at moderate cardinalities —
    // the number the output shows). Hash = the engine's integer affine-mod
    // family (no xxhash in the oracle engine), deterministic both sides.
    // Plan: both estimates are filter-then-join — the sample predicate
    // pushes to the scan, so the key-sampled estimate reads ~1/32 of each
    // input; nothing corpus-sized shuffles unsampled.
    Entry(
      "q223_join_card_sample",
      (s, d) => {
        val li = T.lineitem(s, d)
          .filter(col("l_discount") > 0.05)
          .select(col("l_orderkey").as("k"), col("l_linenumber").as("ln"))
        val o = T.orders(s, d)
          .filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey").as("k"))
        def keyB(c: String) =
          s"(($c % 2147483647) * 2654435761 + 12345) % 2147483647 % 32"
        val exact = li.join(o, Seq("k")).agg(count(lit(1)).as("n_exact"))
        val keyEst = li.filter(expr(s"${keyB("k")} = 0"))
          .join(o.filter(expr(s"${keyB("k")} = 0")), Seq("k"))
          .agg((count(lit(1)) * 32L).as("est_key"))
        val rowEst = li
          .filter(expr(s"((k * 131 + ln) % 2147483647 * 40503 + 7) % 2147483647 % 32 = 0"))
          .join(o.filter(expr(s"((k % 2147483647) * 69069 + 77) % 2147483647 % 32 = 0")),
            Seq("k"))
          .agg((count(lit(1)) * 1024L).as("est_row"))
        exact.crossJoin(broadcast(keyEst)).crossJoin(broadcast(rowEst))
          .select(col("n_exact"), col("est_key"), col("est_row"),
            expr("abs(est_key - n_exact) * 1000000L div greatest(n_exact, 1L)")
              .as("err_key_ppm"),
            expr("abs(est_row - n_exact) * 1000000L div greatest(n_exact, 1L)")
              .as("err_row_ppm"))
      },
      Some("""WITH li AS (SELECT l_orderkey AS k, l_linenumber AS ln
             |  FROM lineitem WHERE l_discount > 0.05),
             |o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'O'),
             |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
             |  FROM li JOIN o USING (k)),
             |ke AS (SELECT CAST(count(*) * 32 AS BIGINT) AS est_key
             |  FROM (SELECT k FROM li
             |    WHERE ((k % 2147483647) * 2654435761 + 12345) % 2147483647 % 32 = 0) a
             |  JOIN (SELECT k FROM o
             |    WHERE ((k % 2147483647) * 2654435761 + 12345) % 2147483647 % 32 = 0) b
             |  USING (k)),
             |re AS (SELECT CAST(count(*) * 1024 AS BIGINT) AS est_row
             |  FROM (SELECT k FROM li
             |    WHERE ((k * 131 + ln) % 2147483647 * 40503 + 7) % 2147483647 % 32 = 0) a
             |  JOIN (SELECT k FROM o
             |    WHERE ((k % 2147483647) * 69069 + 77) % 2147483647 % 32 = 0) b
             |  USING (k))
             |SELECT n_exact, est_key, est_row,
             |  abs(est_key - n_exact) * 1000000 // greatest(n_exact, 1)
             |    AS err_key_ppm,
             |  abs(est_row - n_exact) * 1000000 // greatest(n_exact, 1)
             |    AS err_row_ppm
             |FROM ex CROSS JOIN ke CROSS JOIN re""".stripMargin)),

    // q265: SAMPLE-BASED NDV ESTIMATION AUDIT — the cost-based-optimizer
    // statistics problem: estimate each column's number of distinct values
    // from a 10% sample WITHOUT scanning full values, scored against the
    // exact NDV in-row. Estimator is GEE (Charikar-Chaudhuri-Motwani-
    // Narasayya 2000): est = √(n/r)·f1 + Σ_{i≥2} f_i — f1 (sample
    // singletons) is what distinguishes a column whose sample saw
    // everything (f1 = 0 ⇒ est = sample NDV, exact for small domains)
    // from a high-cardinality one; GEE is the estimator with the √(n/r)
    // worst-case ratio guarantee. The sample is the q112 seeded-md5
    // determinism trick on the row identity (any engine, any partitioning,
    // same sample ⇒ the audit itself is oracle-checkable). Measured on the
    // fixture: exact for l_suppkey/l_quantity, ~7% on l_orderkey, ~26%
    // over on l_partkey — the honest GEE profile, reported as err_ppm.
    // Only IEEE op is the single correctly-rounded sqrt. Plan: one exact
    // pass (expand-based 4×countDistinct, q180 posture) + the 10% sample
    // checkpointed once (5 consumers) feeding 4 tiny value-count
    // aggregates; everything joins as 1-row broadcasts.
    Entry(
      "q265_ndv_estimate",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
        // r22: native md5_lane — identical value to the former
        // CAST(conv(substring(md5(...), 1, 8), 16, 10) AS BIGINT) spelling
        val smp = li.filter(expr(
          "md5_lane(concat('ndv:v1:', CAST(ok AS STRING), " +
            "':', CAST(ln AS STRING), ':', CAST(pk AS STRING)), 1, 8) " +
            "% 10 = 0"))
          .localCheckpoint() // consumers: r + the 4 value-count aggregates
        val ex = li.agg(count(lit(1)).as("n"),
          countDistinct(col("pk")).as("d_pk"),
          countDistinct(col("sk")).as("d_sk"),
          countDistinct(col("ok")).as("d_ok"),
          countDistinct(col("qty")).as("d_qty"))
        val rr = smp.agg(count(lit(1)).as("r"))
        def fTab(c: String) = smp.groupBy(col(c))
          .agg(count(lit(1)).as("cnt"))
          .agg(sum(when(col("cnt") === 1, 1L).otherwise(0L)).as(s"f1_$c"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as(s"f2_$c"))
        val row = ex.crossJoin(broadcast(rr))
          .crossJoin(broadcast(fTab("pk"))).crossJoin(broadcast(fTab("sk")))
          .crossJoin(broadcast(fTab("ok"))).crossJoin(broadcast(fTab("qty")))
        def est(c: String) =
          s"(CAST(round(sqrt(CAST(n AS DOUBLE) / CAST(r AS DOUBLE)) " +
            s"* CAST(f1_$c AS DOUBLE)) AS BIGINT) + f2_$c)"
        def st(name: String, c: String) =
          s"""named_struct('column', '$name', 'n_rows', n, 'sample_rows', r,
            'ndv_exact', d_$c, 'f1', f1_$c, 'f2plus', f2_$c,
            'ndv_est', ${est(c)},
            'err_ppm', abs(${est(c)} - d_$c) * 1000000L div d_$c)"""
        row.select(explode(expr(s"""array(
            ${st("l_orderkey", "ok")}, ${st("l_partkey", "pk")},
            ${st("l_quantity", "qty")}, ${st("l_suppkey", "sk")})"""))
          .as("x"))
          .select(col("x.*")).orderBy(col("column"))
      },
      Some {
        def est(c: String) =
          s"(CAST(round(sqrt(CAST(n AS DOUBLE) / CAST(r AS DOUBLE)) " +
            s"* CAST(f1_$c AS DOUBLE)) AS BIGINT) + f2_$c)"
        def row(name: String, c: String) =
          s"""SELECT '$name' AS "column", n AS n_rows, r AS sample_rows,
             |  d_$c AS ndv_exact, f1_$c AS f1, f2_$c AS f2plus,
             |  ${est(c)} AS ndv_est,
             |  abs(${est(c)} - d_$c) * 1000000 // d_$c AS err_ppm
             |FROM j""".stripMargin
        def fcte(c: String) =
          s"""f_$c AS (SELECT
             |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS f1_$c,
             |    CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS f2_$c
             |  FROM (SELECT $c, count(*) AS cnt FROM smp GROUP BY 1))"""
            .stripMargin
        s"""WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
           |    l_partkey AS pk, l_suppkey AS sk,
           |    CAST(round(l_quantity) AS BIGINT) AS qty
           |  FROM lineitem),
           |smp AS MATERIALIZED (SELECT * FROM li
           |  WHERE CAST(('0x' || substr(md5('ndv:v1:' || ok::VARCHAR
           |    || ':' || ln::VARCHAR || ':' || pk::VARCHAR), 1, 8))
           |    AS BIGINT) % 10 = 0),
           |ex AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(DISTINCT pk) AS BIGINT) AS d_pk,
           |    CAST(count(DISTINCT sk) AS BIGINT) AS d_sk,
           |    CAST(count(DISTINCT ok) AS BIGINT) AS d_ok,
           |    CAST(count(DISTINCT qty) AS BIGINT) AS d_qty
           |  FROM li),
           |rr AS (SELECT CAST(count(*) AS BIGINT) AS r FROM smp),
           |${fcte("pk")},
           |${fcte("sk")},
           |${fcte("ok")},
           |${fcte("qty")},
           |j AS MATERIALIZED (SELECT * FROM ex CROSS JOIN rr
           |  CROSS JOIN f_pk CROSS JOIN f_sk CROSS JOIN f_ok CROSS JOIN f_qty)
           |SELECT * FROM (
           |${row("l_orderkey", "ok")}
           |UNION ALL
           |${row("l_partkey", "pk")}
           |UNION ALL
           |${row("l_quantity", "qty")}
           |UNION ALL
           |${row("l_suppkey", "sk")}
           |) ORDER BY "column"""".stripMargin
      }),

    // q274: THE DECIMAL(38) ESCAPE HATCH, REGISTERED — a dozen operators
    // document "int64-safe to ~N rows; Decimal(38) past" (q237, q243,
    // q259, q241…); this makes the promise load-bearing instead of a
    // comment. Per event type, the second moment of hourly revenue is
    // computed TWICE: the int64 path on exact cents, and the wide path on
    // cents×10⁶ (micro-scaled values whose SQUARES overflow int64 at
    // ~2.5·10²¹ — genuinely beyond the long range, so the wide arithmetic
    // is actually exercised, not simulated) as Spark Decimal(38,0) /
    // DuckDB HUGEINT. The algebraic identity Σ(10⁶y)² = 10¹²·Σy² is the
    // in-row proof both paths agree exactly — and because the two engines
    // use DIFFERENT wide-arithmetic implementations (java BigDecimal vs
    // int128), a hash-match here certifies the escape hatch is portable.
    // Wide values travel as canonical digit STRINGS (cross-engine decimal
    // parquet metadata differs; digits don't). Plan: one (type, hour)
    // rollup + per-type aggregate — the moment shape every "Decimal past"
    // comment refers to.
    Entry(
      "q274_decimal_moments",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(col("event_type"), expr("ts div 3600000000000").as("hr"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(col("cents")).as("y"))
        hourly.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("y") * col("y")).as("sum_y2_int64"),
            sum(expr("(CAST(y AS DECIMAL(19,0)) * 1000000) " +
              "* (CAST(y AS DECIMAL(19,0)) * 1000000)")).as("dec"))
          .select(col("event_type"), col("n"), col("sum_y2_int64"),
            expr("CAST(dec AS STRING)").as("sum_y2_scaled"),
            expr("""dec = CAST(sum_y2_int64 AS DECIMAL(38,0))
              * CAST(1000000000000 AS DECIMAL(38,0))""").as("identity_ok"))
          .orderBy(col("event_type"))
      },
      Some("""WITH h AS (SELECT event_type, epoch_ns(ts) // 3600000000000
             |      AS hr,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(y * y) AS BIGINT) AS sum_y2_int64,
             |  CAST(sum((CAST(y AS HUGEINT) * 1000000)
             |    * (CAST(y AS HUGEINT) * 1000000)) AS VARCHAR)
             |    AS sum_y2_scaled,
             |  sum((CAST(y AS HUGEINT) * 1000000)
             |      * (CAST(y AS HUGEINT) * 1000000))
             |    = CAST(sum(y * y) AS HUGEINT) * 1000000000000
             |    AS identity_ok
             |FROM h GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // q276: INCREMENTAL JOIN-VIEW MAINTENANCE — the delta algebra q118
    // covers only for single-table aggregates, completed for the JOIN
    // view every warehouse actually materializes (per-status revenue over
    // orders ⋈ lineitem): with signed-multiplicity deltas on BOTH sides,
    // δ(A ⋈ B) = ΔA ⋈ B ∪ A ⋈ ΔB ∪ ΔA ⋈ ΔB — three DELTA-PROPORTIONAL
    // keyed joins (|ΔA|·fanout + |ΔB| + |ΔA||ΔB|-bounded; the base ⋈ base
    // join never reruns, which is the whole point at 100 TB). The change
    // batch is seeded fabrication (q115/q118 discipline): ~1% lineitem
    // deletes, ~1% inserts at +1000 cents, ~2% order-status flips to a
    // NEW status 'X' (delete + insert in delta form — the full-outer
    // apply must create a group no base row has). Deliverable: the
    // maintained view beside a from-scratch recompute on the post-change
    // tables with per-group consistency flags — the q118 proof shape on
    // the join algebra. All integer cents.
    Entry(
      "q276_incremental_join_view",
      (s, d) => {
        // r22: the seeded digests are computed ONCE per row by the native
        // md5_lane kernel and carried through the checkpoints as plain
        // longs (hd/hi on b, hf on a) — the former expression form
        // re-derived each digest (hex render + substring + conv) at every
        // one of its 4-5 filter/CASE consumers of the same checkpointed
        // row. Identical predicate values; the fabricated change batch is
        // byte-identical.
        def h(seed: String, keyExpr: String) =
          s"md5_lane(concat('$seed', $keyExpr), 1, 8)"
        val a = T.orders(s, d)
          .select(col("o_orderkey").as("ok"), col("o_orderstatus").as("st"))
          .withColumn("hf",
            expr(h("ivmo:v1:", "CAST(ok AS STRING)") + " % 50"))
          .localCheckpoint() // consumers: view, flips, A⋈ΔB, A_new
        val b = T.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
          .withColumn("hd", expr(
            h("ivmd:v1:", "CAST(ok AS STRING), ':', CAST(ln AS STRING)") +
              " % 100"))
          .withColumn("hi", expr(
            h("ivmi:v1:", "CAST(ok AS STRING), ':', CAST(ln AS STRING)") +
              " % 100"))
          .localCheckpoint() // consumers: view, both delta filters, ΔA⋈B, B_new
        val delPred = "hd = 0"
        val insPred = "hi = 0"
        val flipPred = "hf = 0"
        val dB = b.filter(expr(delPred))
          .select(col("ok"), col("cents"), lit(-1L).as("sgn"))
          .unionByName(b.filter(expr(insPred))
            .select(col("ok"), (col("cents") + 1000L).as("cents"),
              lit(1L).as("sgn")))
          .localCheckpoint() // consumers: A⋈ΔB, ΔA⋈ΔB
        val flips = a.filter(expr(flipPred))
          .localCheckpoint() // consumers: both ΔA signs
        val dA = flips.select(col("ok"), col("st"), lit(-1L).as("sgn"))
          .unionByName(flips.select(col("ok"), lit("X").as("st"),
            lit(1L).as("sgn")))
          .localCheckpoint() // consumers: ΔA⋈B, ΔA⋈ΔB
        val d1 = dA.join(b.select(col("ok"), col("cents")), Seq("ok"))
          .select(col("st"), col("sgn"), col("cents"))
        val d2 = a.join(dB, Seq("ok"))
          .select(col("st"), col("sgn"), col("cents"))
        val d3 = dA.select(col("ok"), col("st"), col("sgn").as("sa"))
          .join(dB.select(col("ok"), col("cents"), col("sgn").as("sb")),
            Seq("ok"))
          .select(col("st"), (col("sa") * col("sb")).as("sgn"), col("cents"))
        val dV = d1.unionByName(d2).unionByName(d3)
          .groupBy(col("st"))
          .agg(sum(col("sgn")).as("dn"),
            sum(col("sgn") * col("cents")).as("dc"))
        val vOld = a.join(b, Seq("ok")).groupBy(col("st"))
          .agg(count(lit(1)).as("n0"), sum(col("cents")).as("c0"))
        val vInc = vOld.join(dV, Seq("st"), "full_outer")
          .select(col("st"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_inc"),
            (coalesce(col("c0"), lit(0L)) + coalesce(col("dc"), lit(0L)))
              .as("cents_inc"))
        val aNew = a.select(col("ok"),
          expr(s"CASE WHEN $flipPred THEN 'X' ELSE st END").as("st"))
        val bNew = b.filter(s"NOT ($delPred)")
          .select(col("ok"), col("cents"))
          .unionByName(b.filter(expr(insPred))
            .select(col("ok"), (col("cents") + 1000L).as("cents")))
        val vFull = aNew.join(bNew, Seq("ok")).groupBy(col("st"))
          .agg(count(lit(1)).as("n_full"), sum(col("cents")).as("cents_full"))
        vInc.join(vFull, Seq("st"), "full_outer")
          .select(col("st"),
            coalesce(col("n_inc"), lit(0L)).as("n_inc"),
            coalesce(col("cents_inc"), lit(0L)).as("cents_inc"),
            coalesce(col("n_full"), lit(0L)).as("n_full"),
            coalesce(col("cents_full"), lit(0L)).as("cents_full"),
            (coalesce(col("n_inc"), lit(0L)) ===
              coalesce(col("n_full"), lit(0L)) &&
              coalesce(col("cents_inc"), lit(0L)) ===
                coalesce(col("cents_full"), lit(0L))).as("consistent"))
          .filter(col("n_inc") =!= 0L || col("n_full") =!= 0L)
          .orderBy(col("st"))
      },
      Some("""WITH a AS (SELECT o_orderkey AS ok, o_orderstatus AS st
             |  FROM orders),
             |b AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem),
             |db AS MATERIALIZED (
             |  SELECT ok, cents, CAST(-1 AS BIGINT) AS sgn FROM b
             |  WHERE CAST(('0x' || substr(md5('ivmd:v1:' || ok::VARCHAR
             |    || ':' || ln::VARCHAR), 1, 8)) AS BIGINT) % 100 = 0
             |  UNION ALL
             |  SELECT ok, cents + 1000, CAST(1 AS BIGINT) FROM b
             |  WHERE CAST(('0x' || substr(md5('ivmi:v1:' || ok::VARCHAR
             |    || ':' || ln::VARCHAR), 1, 8)) AS BIGINT) % 100 = 0),
             |fl AS MATERIALIZED (SELECT ok, st FROM a
             |  WHERE CAST(('0x' || substr(md5('ivmo:v1:' || ok::VARCHAR),
             |    1, 8)) AS BIGINT) % 50 = 0),
             |da AS MATERIALIZED (
             |  SELECT ok, st, CAST(-1 AS BIGINT) AS sgn FROM fl
             |  UNION ALL
             |  SELECT ok, 'X', CAST(1 AS BIGINT) FROM fl),
             |dv AS (SELECT st, CAST(sum(sgn) AS BIGINT) AS dn,
             |    CAST(sum(sgn * cents) AS BIGINT) AS dc
             |  FROM (
             |    SELECT da.st, da.sgn, b.cents FROM da JOIN b USING (ok)
             |    UNION ALL
             |    SELECT a.st, db.sgn, db.cents FROM a JOIN db USING (ok)
             |    UNION ALL
             |    SELECT da.st, da.sgn * db.sgn AS sgn, db.cents
             |    FROM da JOIN db USING (ok))
             |  GROUP BY 1),
             |v0 AS (SELECT st, CAST(count(*) AS BIGINT) AS n0,
             |    CAST(sum(cents) AS BIGINT) AS c0
             |  FROM a JOIN b USING (ok) GROUP BY 1),
             |vi AS (SELECT coalesce(v0.st, dv.st) AS st,
             |    coalesce(n0, 0) + coalesce(dn, 0) AS n_inc,
             |    coalesce(c0, 0) + coalesce(dc, 0) AS cents_inc
             |  FROM v0 FULL OUTER JOIN dv ON v0.st = dv.st),
             |an AS (SELECT ok, CASE WHEN CAST(('0x' ||
             |    substr(md5('ivmo:v1:' || ok::VARCHAR), 1, 8)) AS BIGINT)
             |    % 50 = 0 THEN 'X' ELSE st END AS st FROM a),
             |bn AS (SELECT ok, cents FROM b
             |  WHERE NOT (CAST(('0x' || substr(md5('ivmd:v1:' || ok::VARCHAR
             |    || ':' || ln::VARCHAR), 1, 8)) AS BIGINT) % 100 = 0)
             |  UNION ALL
             |  SELECT ok, cents + 1000 FROM b
             |  WHERE CAST(('0x' || substr(md5('ivmi:v1:' || ok::VARCHAR
             |    || ':' || ln::VARCHAR), 1, 8)) AS BIGINT) % 100 = 0),
             |vf AS (SELECT st, CAST(count(*) AS BIGINT) AS n_full,
             |    CAST(sum(cents) AS BIGINT) AS cents_full
             |  FROM an JOIN bn USING (ok) GROUP BY 1)
             |SELECT coalesce(vi.st, vf.st) AS st,
             |  coalesce(n_inc, 0) AS n_inc,
             |  coalesce(cents_inc, 0) AS cents_inc,
             |  coalesce(n_full, 0) AS n_full,
             |  coalesce(cents_full, 0) AS cents_full,
             |  coalesce(n_inc, 0) = coalesce(n_full, 0)
             |    AND coalesce(cents_inc, 0) = coalesce(cents_full, 0)
             |    AS consistent
             |FROM vi FULL OUTER JOIN vf ON vi.st = vf.st
             |WHERE coalesce(n_inc, 0) != 0 OR coalesce(n_full, 0) != 0
             |ORDER BY st""".stripMargin))
  )

  /** q206's body over any (amount: double-dollars) table — exposed so the
    * suite can prove the missing-digit path on a fixture: the join is driven
    * FROM the 9-row expected table (LEFT JOIN observed, absent digits
    * coalesced to 0) so a digit class that never occurs still contributes
    * its full expected mass to chi2. An inner join would understate the
    * statistic exactly when the violation is strongest (a missing digit IS
    * the Benford alarm) — and the cross-engine gate can't catch that class
    * of bug because the oracle would share it.
    */
  private[graft] def benfordAudit(
      s: org.apache.spark.sql.SparkSession,
      amounts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // round(log10(1+1/d) * 1e6) for d = 1..9, precomputed offline
    val benfordPpm = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val obs = amounts
      .select(substring(
        round(col("amount") * 100).cast("long").cast("string"),
        1, 1).as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_obs"))
      .localCheckpoint() // ≤9 rows; consumers: join, total-n aggregate
    val exp = benfordPpm.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, ${p}L)" }
      .mkString(", ")
    val expected =
      s.sql(s"SELECT CAST(d AS STRING) AS digit, e_ppm FROM VALUES $exp AS t(d, e_ppm)")
    val joined = expected
      .join(broadcast(obs), Seq("digit"), "left")
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .crossJoin(broadcast(obs.agg(sum(col("n_obs")).as("n"))))
      .withColumn("share_ppm", expr("n_obs * 1000000L div n"))
      .localCheckpoint() // ≤9 rows; consumers: chi2 aggregate, cell output
    val chi2 = joined
      .agg(round(sum(
        ((col("n_obs") * lit(1000000L) - col("n") * col("e_ppm"))
          .cast("double")
          * (col("n_obs") * lit(1000000L) - col("n") * col("e_ppm"))
            .cast("double"))
          / (col("n") * col("e_ppm")).cast("double") / lit(1000000.0)), 6)
        .as("chi2"))
    joined
      .crossJoin(broadcast(chi2))
      .select(
        col("digit"), col("n_obs"), col("share_ppm"),
        col("e_ppm").as("expected_ppm"), col("chi2"),
        // 15.51 = chi-square 95th percentile at 8 dof
        (col("chi2") < 15.51).as("benford_ok"))
      .orderBy(col("digit"))
  }

  /** q195's production pass: full 4-column profile (rows/nulls/min/max +
    * HLL++ approx-distinct, rsd 2%) in ONE aggregate over ONE scan with NO
    * Expand — the plan shape the suite pins. Exposed so the test can plan
    * it standalone.
    */
  def approxProfile(o: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    o.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn1"),
      approx_count_distinct(col("o_orderkey"), 0.02).as("ad1"),
      min(col("o_orderkey")).cast("string").as("mn1"),
      max(col("o_orderkey")).cast("string").as("mx1"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn2"),
      approx_count_distinct(col("o_custkey"), 0.02).as("ad2"),
      min(col("o_custkey")).cast("string").as("mn2"),
      max(col("o_custkey")).cast("string").as("mx2"),
      sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn3"),
      approx_count_distinct(col("o_orderstatus"), 0.02).as("ad3"),
      min(col("o_orderstatus")).cast("string").as("mn3"),
      max(col("o_orderstatus")).cast("string").as("mx3"),
      sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn4"),
      approx_count_distinct(col("o_orderpriority"), 0.02).as("ad4"),
      min(col("o_orderpriority")).cast("string").as("mn4"),
      max(col("o_orderpriority")).cast("string").as("mx4"))
}
