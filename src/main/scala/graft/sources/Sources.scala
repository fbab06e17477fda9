package graft.sources

import graft.Tables
import graft.queries.Entry
import graft.queries.OracleSql._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Source/sink surface beyond the default parquet scans: hive-style
  * partitioned parquet writes with partition-pruned read-back, and CSV/JSON
  * round-trips. Each query WRITES through the sink, reads its own output
  * back, and reduces it to an oracle-checkable aggregate — so a pass proves
  * the full write→read cycle preserved the data, not just that a writer ran.
  *
  * The reference's only sink is R hash-partitioned text files
  * (/root/reference/src/mr_tasks.h:109-121 — covered by the MR surface);
  * everything here is the extended engine's format coverage.
  */
object Sources {

  /** Scratch root: anchored to the repo-independent tmpdir (CWD-independent)
    * with a per-JVM token, so concurrent runs over the same fixture never
    * collide on SaveMode.Overwrite. Best-effort removed at JVM exit — the
    * token otherwise guarantees every run leaks a fresh dataset copy.
    */
  private val runToken =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "_")

  private[graft] lazy val scratchRoot: String = {
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_io_$runToken"
    graft.Tables.deleteOnExit(root)
    root
  }

  private[graft] def scratch(d: String, name: String): String =
    s"$scratchRoot/${d.replaceAll("[^A-Za-z0-9]", "_")}/$name"

  /** Partitioned parquet round-trip: write lineitem partitioned by
    * l_returnflag, read back ONE partition via a filter on the partition
    * column — the read plans a PartitionFilters-pruned scan that never
    * touches the other directories (asserted in SourcesSuite). This is the
    * bread-and-butter 100 TB layout: date/tenant-partitioned tables where
    * pruning turns full scans into targeted reads.
    */
  private def partitionedRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = scratch(d, "lineitem_by_flag")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("l_returnflag")
      .parquet(path)
    s.read.parquet(path)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("total"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  /** ORC round-trip — the second columnar format a 100 TB lakehouse holds
    * (Spark's ORC datasource is as first-class as parquet: vectorized reads,
    * predicate pushdown into stripe/row-group stats, partition pruning).
    * lineitem → zstd ORC partitioned by l_linestatus, read back one
    * partition with a quantity predicate — the plan must show the same
    * PartitionFilters + PushedFilters a parquet scan would (asserted in
    * SourcesSuite), proving format choice doesn't cost the pruning.
    */
  private def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val path = scratch(d, "lineitem_orc")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_linestatus"))
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("l_linestatus")
      .orc(path)
    s.read.orc(path)
      .filter(col("l_linestatus") === "F" && col("l_quantity") > 10)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice")), 2).as("total"),
        round(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_linestatus"))
  }

  /** CDC UPSERT APPLY — incremental dataset maintenance, the write-side
    * counterpart of q98's snapshot diff: apply a change stream
    * (inserts / updates / deletes) to a snapshot in one pass. The change
    * stream is fabricated from the snapshot (q98's fixture-fabrication
    * pattern): deletes every 97th key, updates every 10th surviving key,
    * inserts a shifted copy of every 50th — op classes key-disjoint by
    * construction. The apply is ONE full-outer join keyed on the 8-byte
    * order key (change rows win via coalesce; 'D' rows drop), then the
    * emitted manifest combines the before/changes/after 1-row aggregates by
    * broadcast (the q41 shape). At 100 TB both sides are bucketed on the
    * key (q65's layout), making the apply an exchange-free merge — the
    * plan shape Delta/Iceberg MERGE compiles to under the hood.
    */
  private def cdcUpsert(s: SparkSession, d: String): DataFrame = {
    val snap = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    val dels = snap.filter(col("k") % 97 === 0)
      .select(col("k"), lit(null).cast("double").as("cp"), lit("D").as("op"))
    val upds = snap.filter(col("k") % 97 =!= 0 && col("k") % 10 === 0)
      .select(col("k"), (col("p") + 1.0).as("cp"), lit("U").as("op"))
    val ins = snap.filter(col("k") % 50 === 0)
      .select((col("k") + 10000000L).as("k"), col("p").as("cp"), lit("I").as("op"))
    val changes = dels.unionByName(upds).unionByName(ins)
    val applied = snap
      .join(changes, Seq("k"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("k"), coalesce(col("cp"), col("p")).as("fp"), col("op"))
    val afterAgg = applied.agg(
      count(lit(1)).as("n_after"),
      sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updated"),
      sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_inserted"),
      round(sum(col("fp")), 2).as("total_after"))
    val beforeAgg = snap.agg(count(lit(1)).as("n_before"))
    val changeAgg = changes.agg(
      count(lit(1)).as("n_changes"),
      sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deleted"))
    beforeAgg
      .crossJoin(broadcast(changeAgg))
      .crossJoin(broadcast(afterAgg))
      .select(col("n_before"), col("n_changes"), col("n_after"),
        col("n_inserted"), col("n_updated"), col("n_deleted"),
        col("total_after"))
  }

  /** CSV (with header) and JSON-lines round-trips joined back together:
    * nation → JSON, region → CSV, read both, join, count per region.
    */
  private def csvJsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val jsonPath = scratch(d, "nation_json")
    val csvPath = scratch(d, "region_csv")
    Tables.nation(s, d).write.mode(SaveMode.Overwrite).json(jsonPath)
    Tables.region(s, d).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(csvPath)
    val nation = s.read.json(jsonPath)
    val region = s.read.option("header", "true").option("inferSchema", "true").csv(csvPath)
    nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("first_nation"))
      .orderBy(col("r_name"))
  }

  /** Bucketed co-located join — the 100 TB fact⋈fact layout: both tables
    * written `bucketBy(16, orderkey)` + sorted, so the join reads bucket i
    * against bucket i with NO shuffle and no sort on either side (the
    * SortMergeJoin's exchanges vanish — asserted in SourcesSuite). At scale
    * this is the difference between re-shuffling 100 TB per join and a
    * metadata-only alignment; the bucketed write is paid once at ingest.
    * Uses saveAsTable (bucketing lives in the catalog, not the parquet).
    */
  private def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val lt = s"graft_li_bucketed_$tag"
    val ot = s"graft_ord_bucketed_$tag"
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(16, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(16, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
    // hint("merge"): the point is the bucket-aligned SortMergeJoin — at
    // fixture scale stats would otherwise pick a broadcast and hide the
    // exchange-free join this layout exists for (at 100 TB neither side
    // broadcasts and SMJ is what the planner picks unaided)
    s.table(lt).hint("merge")
      .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** Dynamic partition pruning: fact partitioned on the join key, dim side
    * carries a selective filter — the scan of the fact prunes partitions at
    * RUNTIME from the dim's build-side values (plan shows dynamicpruning;
    * asserted in SourcesSuite). The standard date-dim/fact pattern at scale.
    */
  private def dppJoin(s: SparkSession, d: String): DataFrame = {
    val path = scratch(d, "orders_by_priority")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("o_orderpriority")
      .parquet(path)
    val dimPath = scratch(d, "priority_dim")
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("p_priority")).distinct()
      // equality on a literal is what DPP's selectivity heuristic looks for
      // (a bare boolean attribute is not considered "likely selective")
      .withColumn(
        "p_class",
        when(col("p_priority").startsWith("1"), "urgent").otherwise("normal"))
      .write.mode(SaveMode.Overwrite).parquet(dimPath)
    val fact = s.read.parquet(path)
    val dim = s.read.parquet(dimPath).filter(col("p_class") === "urgent")
    fact.join(dim, col("o_orderpriority") === col("p_priority"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_orderpriority"))
  }

  /** Schema evolution: two parquet file generations in one dataset — the
    * older written without `n_regionkey` — read back with mergeSchema. Rows
    * from the old generation surface the missing column as null; the
    * aggregate accounts for every row of both generations. This is how a
    * 100 TB table ingested over years actually looks; a reader that can't
    * merge schemas can't read it.
    */
  private def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val base = scratch(d, "nation_evolving")
    Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      .write.mode(SaveMode.Overwrite).parquet(s"$base/gen1")
    Tables.nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$base/gen2")
    s.read.option("mergeSchema", "true").parquet(s"$base/gen1", s"$base/gen2")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("n_regionkey").isNull, 1L).otherwise(0L)).as("n_old_gen"),
        sum(coalesce(col("n_regionkey"), lit(0L))).cast("long").as("region_sum"))
  }

  /** q129: the epoch-compaction verb end-to-end — four epochs committed
    * through the exactly-once machinery, compacted to one, read back
    * through the manifest proving no row lost or duplicated.
    */
  private def epochCompaction(s: SparkSession, d: String): DataFrame = {
    val root = scratch(d, "epoch_compact")
    // fresh root per run: the query demonstrates commit→compact from
    // epoch zero (the q123 rationale)
    Artifacts.fresh(s, root)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    (0 until 4).foreach { b =>
      Artifacts.commitEpoch(s, root, ev.filter(pmod(col("event_id"), lit(4)) === b),
        f"epoch-$b%09d")
    }
    val nBefore = Artifacts.committedEpochs(s, root).size
    Artifacts.compactEpochs(s, root, parts = 2)
    val after = Artifacts.committedEpochs(s, root)
    Artifacts.readEpochs(s, root)
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        lit(nBefore.toLong).as("n_epochs_before"),
        lit(after.size.toLong).as("n_epochs_after"),
        lit(Artifacts.listing(s, s"$root/${after.head}").parquetFiles).as("n_files_after"),
        col("n_events"), col("value_cents"))
  }

  /** Small-files compaction: the 64-file write is the pathology (a day of
    * micro-batches), the repartition-to-4 rewrite into a new generation +
    * atomic manifest swap is the cure; the query proves the file counts AND
    * that no row was lost or duplicated, reading back through the manifest.
    * At 100 TB compaction is a standing background job — readers must never
    * observe the half-compacted state, hence [[Artifacts.compactDataset]].
    */
  private def compaction(s: SparkSession, d: String): DataFrame = {
    val root = scratch(d, "orders_generational")
    Artifacts.publish(s, root, "gen-small")(Artifacts.Whole ->
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")).repartition(64))
    Artifacts.compactDataset(s, root, "gen-compact", 4)
    val counts = Artifacts.readCurrent(s, root)
      .agg(count(lit(1)).as("n_rows"), sum(col("o_totalprice")).as("total"))
    counts.select(
      lit(Artifacts.listing(s, s"$root/gen-small").parquetFiles).as("files_before"),
      lit(Artifacts.listing(s, s"$root/gen-compact").parquetFiles).as("files_after"),
      col("n_rows"),
      round(col("total"), 2).as("total"))
  }

  val entries: Seq[Entry] = Seq(
    Entry(
      "q57_partitioned_sink",
      partitionedRoundtrip,
      Some("""SELECT l_returnflag, count(*) AS n,
             | round(sum(l_extendedprice),2) AS total,
             | round(sum(l_quantity),2) AS qty
             |FROM lineitem WHERE l_returnflag='R'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Entry(
      "q58_csv_json_roundtrip",
      csvJsonRoundtrip,
      Some("""SELECT r_name, count(*) AS n_nations, min(n_name) AS first_nation
             |FROM nation JOIN region ON n_regionkey=r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    // q114: ORC columnar round-trip (see orcRoundtrip doc); the oracle
    // computes the same aggregate from the parquet original, so a pass
    // proves the ORC write+partitioned+pushdown read is lossless.
    Entry(
      "q114_orc_roundtrip",
      orcRoundtrip,
      Some("""SELECT l_linestatus, count(*) AS n,
             | round(sum(l_extendedprice),2) AS total,
             | round(sum(l_quantity),2) AS qty
             |FROM lineitem WHERE l_linestatus='F' AND l_quantity > 10
             |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // q115: CDC upsert apply (see cdcUpsert doc); oracle replays the
    // fabricated change stream and the full-outer apply in CTEs.
    Entry(
      "q115_cdc_upsert",
      cdcUpsert,
      Some("""WITH snap AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
             |ch AS (
             |  SELECT k, CAST(NULL AS DOUBLE) AS cp, 'D' AS op FROM snap WHERE k % 97 = 0
             |  UNION ALL
             |  SELECT k, p + 1.0, 'U' FROM snap WHERE k % 97 <> 0 AND k % 10 = 0
             |  UNION ALL
             |  SELECT k + 10000000, p, 'I' FROM snap WHERE k % 50 = 0),
             |ap AS (SELECT coalesce(ch.cp, snap.p) AS fp, ch.op
             |  FROM snap FULL OUTER JOIN ch USING (k)
             |  WHERE coalesce(ch.op, '') <> 'D')
             |SELECT (SELECT count(*) FROM snap) AS n_before,
             |  (SELECT count(*) FROM ch) AS n_changes,
             |  count(*) AS n_after,
             |  CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
             |  CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
             |  (SELECT CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
             |    FROM ch) AS n_deleted,
             |  round(sum(fp), 2) AS total_after
             |FROM ap""".stripMargin)),

    Entry(
      "q65_bucketed_join",
      bucketedJoin,
      Some("""SELECT o_orderstatus, count(*) AS n,
             | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    Entry(
      "q66_dpp_join",
      dppJoin,
      Some("""SELECT o_orderpriority, count(*) AS n,
             | round(sum(o_totalprice),2) AS total
             |FROM orders WHERE o_orderpriority LIKE '1%'
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Entry(
      "q74_schema_evolution",
      schemaEvolution,
      Some("""SELECT 2*count(*) AS n_rows, count(*) AS n_old_gen,
             | CAST(sum(n_regionkey) AS BIGINT) AS region_sum
             |FROM nation""".stripMargin)),
    Entry(
      "q75_compaction",
      compaction,
      Some("""SELECT CAST(64 AS BIGINT) AS files_before,
             | CAST(4 AS BIGINT) AS files_after,
             | count(*) AS n_rows, round(sum(o_totalprice),2) AS total
             |FROM orders""".stripMargin)),

    // q129: epoch-manifest compaction (see compactEpochs/epochCompaction
    // docs) — 4 committed epochs → 1 compacted dir of 2 files, zero rows
    // lost or duplicated (count + integer cents total read back through
    // the swapped manifest equal the batch source).
    Entry(
      "q129_epoch_compaction",
      epochCompaction,
      Some("""SELECT CAST(4 AS BIGINT) AS n_epochs_before,
             | CAST(1 AS BIGINT) AS n_epochs_after,
             | CAST(2 AS BIGINT) AS n_files_after,
             | count(*) AS n_events,
             | CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM events""".stripMargin)),

    // q277: TIME-TRAVEL READ (AS OF generation) — the verb the
    // generational-publish lifecycle (q75 atomic swap, q130/q137 GC) has
    // implied all along but never registered: because a publish NEVER
    // deletes the superseded generation (readers may still be scanning
    // it), any un-GC'd generation is a consistent historical snapshot a
    // reader can address BY NAME — Delta/Iceberg VERSION AS OF, on the
    // manifest scheme this repo already ships. Two generations are
    // published (v2 = seeded updates to every k≡0 mod 3 row + one
    // insert); the AS-OF read of gen-1 and the manifest-resolved current
    // read are both digest-compared against the DIRECTLY-constructed v1
    // and v2 (order-free md5-lane sums) — so the booleans prove the file
    // round-trip byte-faithfully preserved BOTH snapshots, and the
    // changed/added counts prove the reads are genuinely different
    // datasets. The oracle computes the same digests from the base table
    // in closed form (the q57/q58 write→read-back proof shape).
    Entry(
      "q277_time_travel",
      (s, d) => {
        val root = scratch(d, "time_travel")
        val dg = "CAST(conv(substring(md5(concat(CAST(k AS STRING), ':', v))" +
          ", 1, 8), 16, 10) AS BIGINT)"
        val v1 = Tables.nation(s, d)
          .select(col("n_nationkey").cast("long").as("k"),
            col("n_name").as("v"))
          .localCheckpoint() // consumers: gen-1 write, digest, v2 build ×2
        Artifacts.publish(s, root, "gen-1")(Artifacts.Whole -> v1)
        val v2 = v1.select(col("k"),
            expr("CASE WHEN k % 3 = 0 THEN concat(v, '_v2') ELSE v END")
              .as("v"))
          .unionByName(v1.agg(max(col("k")).as("mk"))
            .select((col("mk") + 1L).as("k"), lit("NEWROW").as("v")))
          .localCheckpoint() // consumers: gen-2 write, digest
        Artifacts.publish(s, root, "gen-2")(Artifacts.Whole -> v2)
        def dig(df: DataFrame, n: String, g: String) = df.agg(
          count(lit(1)).as(n), sum(expr(dg)).as(g))
        val asof = s.read.parquet(s"$root/gen-1") // AS OF: named generation
        val cur = Artifacts.readCurrent(s, root) // manifest-resolved latest
        val changed = asof.select(col("k"), col("v").as("v_old"))
          .join(cur, Seq("k"), "full_outer")
          .agg(
            sum(when(col("v_old").isNotNull && col("v").isNotNull &&
              col("v_old") =!= col("v"), 1L).otherwise(0L)).as("n_changed"),
            sum(when(col("v_old").isNull, 1L).otherwise(0L)).as("n_added"))
        dig(asof, "n_asof", "g_asof")
          .crossJoin(broadcast(dig(cur, "n_cur", "g_cur")))
          .crossJoin(broadcast(dig(v1, "n_v1", "g_v1")))
          .crossJoin(broadcast(dig(v2, "n_v2", "g_v2")))
          .crossJoin(broadcast(changed))
          .select(col("n_v1"), col("n_v2"), col("n_changed"), col("n_added"),
            (col("n_asof") === col("n_v1") && col("g_asof") === col("g_v1"))
              .as("asof_matches_v1"),
            (col("n_cur") === col("n_v2") && col("g_cur") === col("g_v2"))
              .as("current_matches_v2"))
      },
      Some("""WITH v1 AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
             |    n_name AS v FROM nation),
             |v2 AS (SELECT k, CASE WHEN k % 3 = 0 THEN v || '_v2' ELSE v END
             |    AS v FROM v1
             |  UNION ALL
             |  SELECT max(k) + 1, 'NEWROW' FROM v1)
             |SELECT
             |  (SELECT CAST(count(*) AS BIGINT) FROM v1) AS n_v1,
             |  (SELECT CAST(count(*) AS BIGINT) FROM v2) AS n_v2,
             |  (SELECT CAST(sum(CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) FROM v1) AS n_changed,
             |  CAST(1 AS BIGINT) AS n_added,
             |  TRUE AS asof_matches_v1,
             |  TRUE AS current_matches_v2""".stripMargin)),

    // q98: SNAPSHOT DIFF — incremental dataset versioning: classify every
    // doc across two corpus snapshots as added/removed/changed/unchanged.
    // The scale form compares 8-byte CONTENT DIGESTS (xxhash64), never the
    // documents themselves: one full-outer hash join on the 8-byte doc_id,
    // 16 bytes of payload per row, so the diff of a 100 TB corpus moves
    // ~16·N bytes — the oracle compares raw text (no xxhash64 in DuckDB),
    // which agrees exactly iff the digest compare does (no fixture
    // collisions; a production run would accept the 2^-64/pair risk or
    // widen to a 128-bit digest). v2 is fabricated from the fixture
    // (dedupExact's pattern): every 20th doc dropped, every (10k+5)th
    // rewritten, every 25th re-added under a fresh id.
    Entry(
      "q98_snapshot_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val v1 = docs.select(col("doc_id"), xxhash64(col("text")).as("h1"))
        val v2 = docs
          .filter(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 5,
              xxhash64(concat(col("text"), lit(" v2"))))
              .otherwise(xxhash64(col("text"))).as("h2"))
          .unionByName(docs.filter(col("doc_id") % 25 === 3)
            .select((col("doc_id") + 1000000000L).as("doc_id"),
              xxhash64(col("text")).as("h2")))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(
            when(col("h1").isNull, "added")
              .when(col("h2").isNull, "removed")
              .when(col("h1") === col("h2"), "unchanged")
              .otherwise("changed").as("status"))
          .groupBy(col("status")).agg(count(lit(1)).as("n"))
          .orderBy(col("status"))
      },
      Some("""WITH v1 AS (SELECT doc_id, text AS t1 FROM documents),
             |v2 AS (SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 5 THEN text || ' v2' ELSE text END AS t2
             |  FROM documents WHERE doc_id % 20 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 25 = 3),
             |j AS (SELECT CASE WHEN t1 IS NULL THEN 'added'
             |    WHEN t2 IS NULL THEN 'removed'
             |    WHEN t1 = t2 THEN 'unchanged' ELSE 'changed' END AS status
             |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
             |SELECT status, count(*) AS n FROM j GROUP BY status ORDER BY status"""
        .stripMargin)),

    // q101: Z-ORDER LAYOUT PRUNING — why multi-dimensional clustering
    // (Delta/Iceberg OPTIMIZE ZORDER) beats single-column sort at 100 TB:
    // quantize (l_orderkey, l_partkey) to 6 bits each against their maxima,
    // Morton-interleave via the classic shift-and-mask bit spreading, and
    // bucket rows into 256 simulated files per layout (morton code div 16
    // vs orderkey-range). Per file, min/max column stats — exactly what
    // parquet footers carry — decide whether a centered 10%×10% box
    // predicate can skip the file. The morton layout prunes on BOTH
    // dimensions; the linear layout only on the sort column: the reported
    // pruned-file/pruned-row counts quantify the gap. All-integer bit
    // math (bitwiseOR/shiftleft here, | and << in the oracle), exact.
    Entry(
      "q101_zorder_pruning",
      (s, d) => {
        def spread6(in: Column): Column = {
          val s1 = in.bitwiseOR(shiftleft(in, 4)).bitwiseAND(lit(3855L))
          val s2 = s1.bitwiseOR(shiftleft(s1, 2)).bitwiseAND(lit(13107L))
          s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(21845L))
        }
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("a"), col("l_partkey").as("b"))
        val mx = li.agg(max(col("a")).as("ma"), max(col("b")).as("mb"))
        val coded = li.crossJoin(broadcast(mx))
          .withColumn("qa", expr("(a * 64) div (ma + 1)"))
          .withColumn("qb", expr("(b * 64) div (mb + 1)"))
          .withColumn("mcode",
            spread6(col("qa")).bitwiseOR(shiftleft(spread6(col("qb")), 1)))
          .withColumn("mf", expr("mcode div 16"))
          .withColumn("lf", expr("(a * 256) div (ma + 1)"))
        val stats = coded
          .select(col("a"), col("b"), col("ma"), col("mb"),
            expr("stack(2, 'morton', mf, 'linear', lf) AS (layout, f)"))
          .groupBy(col("layout"), col("f"))
          .agg(min(col("a")).as("mina"), max(col("a")).as("maxa"),
            min(col("b")).as("minb"), max(col("b")).as("maxb"),
            count(lit(1)).as("cnt"), max(col("ma")).as("ma"), max(col("mb")).as("mb"))
        val pruned = expr("maxa < (ma + 1) * 45 div 100") ||
          expr("mina > (ma + 1) * 55 div 100") ||
          expr("maxb < (mb + 1) * 45 div 100") ||
          expr("minb > (mb + 1) * 55 div 100")
        stats.groupBy(col("layout"))
          .agg(
            count(lit(1)).as("n_files"),
            sum(when(pruned, 1L).otherwise(0L)).as("n_pruned_files"),
            sum(when(pruned, col("cnt")).otherwise(0L)).as("n_pruned_rows"),
            sum(col("cnt")).cast("long").as("n_rows"))
          .orderBy(col("layout"))
      },
      Some("""WITH li AS (SELECT l_orderkey AS a, l_partkey AS b FROM lineitem),
             |mx AS (SELECT max(a) AS ma, max(b) AS mb FROM li),
             |c AS (SELECT a, b, ma, mb,
             |    (a * 64) // (ma + 1) AS qa, (b * 64) // (mb + 1) AS qb,
             |    (a * 256) // (ma + 1) AS lf FROM li, mx),
             |s1 AS (SELECT *, (qa | (qa << 4)) & 3855 AS xa1,
             |    (qb | (qb << 4)) & 3855 AS xb1 FROM c),
             |s2 AS (SELECT *, (xa1 | (xa1 << 2)) & 13107 AS xa2,
             |    (xb1 | (xb1 << 2)) & 13107 AS xb2 FROM s1),
             |s3 AS (SELECT *, (xa2 | (xa2 << 1)) & 21845 AS xa3,
             |    (xb2 | (xb2 << 1)) & 21845 AS xb3 FROM s2),
             |m AS (SELECT a, b, ma, mb, lf,
             |    (xa3 | (xb3 << 1)) // 16 AS mf FROM s3),
             |u AS (SELECT 'morton' AS layout, mf AS f, a, b, ma, mb FROM m
             |  UNION ALL SELECT 'linear', lf, a, b, ma, mb FROM m),
             |st AS (SELECT layout, f, min(a) AS mina, max(a) AS maxa,
             |    min(b) AS minb, max(b) AS maxb, count(*) AS cnt,
             |    max(ma) AS ma, max(mb) AS mb FROM u GROUP BY 1, 2),
             |pr AS (SELECT layout, cnt,
             |    (maxa < (ma + 1) * 45 // 100 OR mina > (ma + 1) * 55 // 100
             |     OR maxb < (mb + 1) * 45 // 100 OR minb > (mb + 1) * 55 // 100)
             |      AS pruned FROM st)
             |SELECT layout, count(*) AS n_files,
             |  CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_pruned_files,
             |  CAST(sum(CASE WHEN pruned THEN cnt ELSE 0 END) AS BIGINT)
             |    AS n_pruned_rows,
             |  CAST(sum(cnt) AS BIGINT) AS n_rows
             |FROM pr GROUP BY layout ORDER BY layout""".stripMargin)),

    // q242: SMALL-FILE COMPACTION PLANNER — the read side of q75's
    // compaction execution: given a manifest of small files (per-partition
    // doc batches: (source, doc_id div 200) with byte mass), emit the
    // file→output-bin assignment a coalescing compactor would execute.
    // Packing is CONTIGUOUS (bin = cumulative-bytes-before div 16 KiB per
    // source) — unlike greedy best-fit it preserves the partition's
    // existing sort/cluster order, which is the property that keeps q101's
    // zone maps tight after compaction; a planner that reorders files to
    // pack tighter destroys the clustering it exists to protect. A file
    // larger than the target still lands in one bin (its start offset
    // decides) — bins can over-fill, fill_ppm reports it honestly; the
    // planner coalesces, it does not split rows. All integer-exact. Plan:
    // one manifest rollup exchange (files « docs), then the cumsum window
    // runs PER SOURCE over the file table (docs/200 rows per source —
    // manifest-sized, never corpus-sized).
    Entry(
      "q242_compaction_plan",
      (s, d) => {
        val files = Tables.documents(s, d)
          .groupBy(col("source"), expr("doc_id div 200").as("bucket"))
          .agg(sum(col("n_chars")).as("bytes"), count(lit(1)).as("n_docs"))
        val wF = Window.partitionBy(col("source")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        files
          .withColumn("cum", sum(col("bytes")).over(wF))
          .withColumn("bin", expr("(cum - bytes) div 16384L"))
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("out_bytes"),
            sum(col("n_docs")).as("n_docs"),
            min(col("bucket")).as("first_bucket"),
            max(col("bucket")).as("last_bucket"))
          .withColumn("fill_ppm", expr("out_bytes * 1000000L div 16384L"))
          .orderBy(col("source"), col("bin"))
      },
      Some("""WITH f AS (SELECT source, doc_id // 200 AS bucket,
             |    CAST(sum(n_chars) AS BIGINT) AS bytes,
             |    CAST(count(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY 1, 2),
             |c AS (SELECT source, bucket, bytes, n_docs,
             |    CAST(sum(bytes) OVER (PARTITION BY source ORDER BY bucket
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM f)
             |SELECT source, (cum - bytes) // 16384 AS bin,
             |  CAST(count(*) AS BIGINT) AS n_files,
             |  CAST(sum(bytes) AS BIGINT) AS out_bytes,
             |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |  CAST(min(bucket) AS BIGINT) AS first_bucket,
             |  CAST(max(bucket) AS BIGINT) AS last_bucket,
             |  CAST(sum(bytes) AS BIGINT) * 1000000 // 16384 AS fill_ppm
             |FROM c GROUP BY 1, 2
             |ORDER BY source, bin""".stripMargin)),

    // q249: ZONE-MAP SKIPPING AUDIT — the quantified version of "why sort
    // (or Z-order) before writing": simulate parquet row-group min/max
    // zone maps on l_shipdate under TWO physical layouts of the SAME
    // lineitem rows — (a) natural insertion order (row group =
    // l_orderkey div 512, TPC-H's generation clustering) and (b) shipdate-
    // sorted equi-depth groups of 512 rows — then replay a 12-probe range
    // workload (equal-width day windows spanning the data) and count, per
    // probe × layout, the groups a reader could skip and the rows it must
    // still scan. This is the decision table behind q101's Z-order writer:
    // the sorted layout's pruned_ppm ≈ 11/12 while natural order prunes
    // ~nothing (every group spans most of the date range). SCALE SHAPE:
    // the sorted layout is built WITHOUT sorting the data — equi-depth
    // group spans come from the day-histogram (value-domain table, q234's
    // blocked-prefix discipline; day div 128 blocks), each day exploding
    // into only the groups it intersects (≤ n_days + n_groups rows
    // total); per-group scanned rows are exact interval overlaps
    // least((g+1)·512, cum0+c) − greatest(g·512, cum0). One narrow 2-col
    // projection of lineitem, checkpointed once (consumers: natural zone
    // maps + day histogram); everything downstream is group- or
    // day-cardinality sized; the 12-row probe dim is a bounded broadcast.
    Entry(
      "q249_zonemap_skipping",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
              .cast("long").as("day"))
          .localCheckpoint() // consumers: natural zone maps + day histogram
        val nat = li.groupBy(expr("l_orderkey div 512").as("g"))
          .agg(min(col("day")).as("gmin"), max(col("day")).as("gmax"),
            count(lit(1)).as("nrows"))
          .select(lit("natural").as("layout"), col("g"), col("gmin"),
            col("gmax"), col("nrows"))
        val dc = li.groupBy(col("day")).agg(count(lit(1)).as("c"))
          .withColumn("blk", expr("day div 128"))
          .localCheckpoint() // consumers: block offsets + ranked days + probes
        val offs = dc.groupBy(col("blk")).agg(sum(col("c")).as("bc"))
          .withColumn("off", coalesce(
            sum(col("bc")).over(Window.orderBy(col("blk"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("blk"), col("off"))
        val wIn = Window.partitionBy(col("blk")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val spans = dc
          .withColumn("in_b", coalesce(sum(col("c")).over(wIn), lit(0L)))
          .join(offs, Seq("blk"))
          .select(col("day"), (col("off") + col("in_b")).as("cum0"), col("c"))
        val srt = spans
          .select(col("day"), col("cum0"), col("c"),
            explode(expr("sequence(cum0 div 512, (cum0 + c - 1) div 512)"))
              .as("g"))
          .groupBy(col("g"))
          .agg(min(col("day")).as("gmin"), max(col("day")).as("gmax"),
            sum(expr("least((g + 1) * 512, cum0 + c) " +
              "- greatest(g * 512, cum0)")).as("nrows"))
          .select(lit("sorted").as("layout"), col("g"), col("gmin"),
            col("gmax"), col("nrows"))
        val bounds = dc.agg(min(col("day")).as("dmin"),
          (max(col("day")) - min(col("day")) + 1).as("span"))
        val probes = s.sql("SELECT explode(sequence(0, 11)) AS probe")
          .crossJoin(broadcast(bounds))
          .select(col("probe").cast("long").as("probe"),
            expr("dmin + (probe * span) div 12").as("lo_day"),
            expr("dmin + ((probe + 1) * span) div 12 - 1").as("hi_day"))
        nat.unionAll(srt)
          .crossJoin(broadcast(probes))
          .groupBy(col("probe"), col("lo_day"), col("hi_day"), col("layout"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("gmax") < col("lo_day") ||
              col("gmin") > col("hi_day"), 1L).otherwise(0L)).as("n_pruned"),
            sum(when(col("gmax") < col("lo_day") ||
              col("gmin") > col("hi_day"), 0L).otherwise(col("nrows")))
              .as("rows_scanned"))
          .withColumn("pruned_ppm", expr("n_pruned * 1000000L div n_groups"))
          .orderBy(col("probe"), col("layout"))
      },
      Some("""WITH li AS (SELECT l_orderkey,
             |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
             |      AS day FROM lineitem),
             |nat AS (SELECT 'natural' AS layout, l_orderkey // 512 AS g,
             |    min(day) AS gmin, max(day) AS gmax,
             |    CAST(count(*) AS BIGINT) AS nrows FROM li GROUP BY 1, 2),
             |dc AS MATERIALIZED (SELECT day, CAST(count(*) AS BIGINT) AS c
             |  FROM li GROUP BY 1),
             |sp AS (SELECT day, c,
             |    CAST(coalesce(sum(c) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS cum0 FROM dc),
             |sg AS (SELECT day, cum0, c,
             |    unnest(range(cum0 // 512, (cum0 + c - 1) // 512 + 1)) AS g
             |  FROM sp),
             |srt AS (SELECT 'sorted' AS layout, g, min(day) AS gmin,
             |    max(day) AS gmax,
             |    CAST(sum(least((g + 1) * 512, cum0 + c)
             |      - greatest(g * 512, cum0)) AS BIGINT) AS nrows
             |  FROM sg GROUP BY 1, 2),
             |z AS (SELECT * FROM nat UNION ALL SELECT * FROM srt),
             |b AS (SELECT min(day) AS dmin, max(day) - min(day) + 1 AS span
             |  FROM dc),
             |pr AS (SELECT CAST(j AS BIGINT) AS probe,
             |    dmin + (j * span) // 12 AS lo_day,
             |    dmin + ((j + 1) * span) // 12 - 1 AS hi_day
             |  FROM (SELECT unnest(range(0, 12)) AS j) CROSS JOIN b)
             |SELECT pr.probe, pr.lo_day, pr.hi_day, z.layout,
             |  CAST(count(*) AS BIGINT) AS n_groups,
             |  CAST(sum(CASE WHEN z.gmax < pr.lo_day OR z.gmin > pr.hi_day
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
             |  CAST(sum(CASE WHEN z.gmax < pr.lo_day OR z.gmin > pr.hi_day
             |    THEN 0 ELSE z.nrows END) AS BIGINT) AS rows_scanned,
             |  CAST(sum(CASE WHEN z.gmax < pr.lo_day OR z.gmin > pr.hi_day
             |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             |    // CAST(count(*) AS BIGINT) AS pruned_ppm
             |FROM z CROSS JOIN pr
             |GROUP BY 1, 2, 3, 4 ORDER BY probe, layout""".stripMargin)),

    // q262: COLUMNAR ENCODING ADVISOR — per-column byte accounting for the
    // four classic parquet/ORC encodings (plain, RLE, dictionary,
    // delta+zigzag-varint) under the table's natural (l_orderkey,
    // l_linenumber) layout, answering "which encoding should this column's
    // pages use" BEFORE paying a rewrite (the write-side sibling of q249's
    // read-side zone-map audit; q166 priced one specific case — posting
    // gaps — this generalizes it to an advisor). Faithful to how columnar
    // formats actually encode: runs and deltas are counted PER ROWGROUP
    // (64-order blocks; each block restarts its runs and stores its first
    // value raw, exactly like parquet pages) — which also makes the
    // operator embarrassingly parallel BY CONSTRUCTION: every window is
    // block-partitioned, no cross-block state, no corpus-sized window
    // anywhere, so the plan is one lag-window exchange + one aggregate at
    // any scale. All byte accounting is exact int64: RLE = per-run
    // (value-width + 4-byte count), dict = entries·width + rows·byte-
    // aligned index (index width from the bin()-length bit trick), delta =
    // 8-byte block head + zigzag varint bodies (7-bit group thresholds,
    // q166 machinery), strings priced at octet_length + 4 prefix. The
    // fixture exercises every verdict: l_returnflag (3 values) → dict,
    // l_orderkey (sorted, ~4-row runs) → delta, l_quantity/l_suppkey →
    // dict/delta duels. The 4 countDistinct run expand-based and exact
    // (q180 posture) in their own aggregate over the pre-window rows
    // (r22 split — see the in-body comment).
    Entry(
      "q262_encoding_advisor",
      (s, d) => {
        def zz(c: String, p: String) =
          s"(CASE WHEN $c - $p >= 0L THEN 2L * ($c - $p) " +
            s"ELSE -2L * ($c - $p) - 1L END)"
        def vb(zzE: String) = "(1L + " + (1 to 8).map(k =>
          s"(CASE WHEN $zzE >= ${1L << (7 * k)}L THEN 1L ELSE 0L END)")
          .mkString(" + ") + ")"
        def deltaBytes(c: String, p: String) =
          s"CASE WHEN $p IS NULL THEN 8L ELSE ${vb(zz(c, p))} END"
        // (ok, ln) is NOT unique in the fixture — ordering by every projected
        // column makes any remaining tie identical in all compared values,
        // so the lag-based run counting is total-order invariant
        val w = Window.partitionBy(col("blk"))
          .orderBy(col("ok"), col("ln"), col("rf"), col("qty"), col("sk"))
        // r22: the distinct/plain metrics never read the lag columns, so
        // they run in their OWN aggregate over the pre-window rows — the
        // former single aggregate pushed the 5× countDistinct Expand over
        // the WINDOW output (21 columns × 5 replicas through the hash agg
        // beside 12 run/delta buffers — a measured ~2 s at sf0.1). One
        // scan, one checkpoint, same window exchange; the expand now sees
        // the 6 base columns only, and the run/delta aggregate is plain
        // partial-aggregated. Values identical: same rows, same per-column
        // expressions, recombined by a 1-row × 1-row cross join.
        val base = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
            col("l_returnflag").as("rf"),
            expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
            col("l_suppkey").as("sk"))
          .withColumn("blk", expr("ok div 64"))
          .localCheckpoint() // consumers: distinct-metrics agg + lag window
        val li = base
          .withColumn("p_rf", lag(col("rf"), 1).over(w))
          .withColumn("p_qty", lag(col("qty"), 1).over(w))
          .withColumn("p_sk", lag(col("sk"), 1).over(w))
          .withColumn("p_ok", lag(col("ok"), 1).over(w))
        val aggDist = base.agg(
          count(lit(1)).as("n"),
          countDistinct(col("rf")).as("d_rf"),
          countDistinct(col("qty")).as("d_qty"),
          countDistinct(col("sk")).as("d_sk"),
          countDistinct(col("ok")).as("d_ok"),
          sum(expr("CAST(octet_length(rf) AS BIGINT) + 4L")).as("pl_rf"),
          max(expr("CAST(octet_length(rf) AS BIGINT)")).as("mx_rf"))
        val aggRuns = li.agg(
          sum(expr("CASE WHEN p_rf IS NULL OR p_rf != rf THEN 1L ELSE 0L END"))
            .as("r_rf"),
          sum(expr("CASE WHEN p_qty IS NULL OR p_qty != qty THEN 1L ELSE 0L END"))
            .as("r_qty"),
          sum(expr("CASE WHEN p_sk IS NULL OR p_sk != sk THEN 1L ELSE 0L END"))
            .as("r_sk"),
          sum(expr("CASE WHEN p_ok IS NULL OR p_ok != ok THEN 1L ELSE 0L END"))
            .as("r_ok"),
          sum(expr("CASE WHEN p_rf IS NULL OR p_rf != rf " +
            "THEN CAST(octet_length(rf) AS BIGINT) + 8L ELSE 0L END"))
            .as("rle_rf"),
          sum(expr(deltaBytes("qty", "p_qty"))).as("db_qty"),
          sum(expr(deltaBytes("sk", "p_sk"))).as("db_sk"),
          sum(expr(deltaBytes("ok", "p_ok"))).as("db_ok"))
        val agg = aggDist.crossJoin(broadcast(aggRuns))
        def idxB(dc: String) =
          s"((CAST(length(bin(greatest($dc - 1L, 1L))) AS BIGINT) + 7L) div 8L)"
        def dictLong(dc: String) = s"($dc * 8L + n * ${idxB(dc)})"
        def bestNum(dk: String, rl: String, db: String, pl: String) =
          s"""CASE WHEN $dk <= $rl AND $dk <= $db AND $dk <= $pl THEN 'dict'
             WHEN $rl <= $db AND $rl <= $pl THEN 'rle'
             WHEN $db <= $pl THEN 'delta' ELSE 'plain' END"""
        def numStruct(name: String, dc: String, rc: String, db: String) =
          s"""named_struct('column', '$name', 'n_rows', n,
            'n_distinct', $dc, 'n_runs', $rc,
            'plain_bytes', 8L * n, 'rle_bytes', 12L * $rc,
            'dict_bytes', ${dictLong(dc)}, 'delta_bytes', $db,
            'best', ${bestNum(dictLong(dc), s"12L * $rc", db, "8L * n")})"""
        agg.select(explode(expr(s"""array(
            named_struct('column', 'l_returnflag', 'n_rows', n,
              'n_distinct', d_rf, 'n_runs', r_rf,
              'plain_bytes', pl_rf, 'rle_bytes', rle_rf,
              'dict_bytes', d_rf * (mx_rf + 4L) + n * ${idxB("d_rf")},
              'delta_bytes', CAST(NULL AS BIGINT),
              'best', CASE WHEN d_rf * (mx_rf + 4L) + n * ${idxB("d_rf")}
                  <= rle_rf AND d_rf * (mx_rf + 4L) + n * ${idxB("d_rf")}
                  <= pl_rf THEN 'dict'
                WHEN rle_rf <= pl_rf THEN 'rle' ELSE 'plain' END),
            ${numStruct("l_orderkey", "d_ok", "r_ok", "db_ok")},
            ${numStruct("l_quantity", "d_qty", "r_qty", "db_qty")},
            ${numStruct("l_suppkey", "d_sk", "r_sk", "db_sk")})"""))
            .as("x"))
          .select(col("x.*"))
          .orderBy(col("column"))
      },

      Some {
        def zz(c: String, p: String) =
          s"(CASE WHEN $c - $p >= 0 THEN 2 * ($c - $p) " +
            s"ELSE -2 * ($c - $p) - 1 END)"
        def vb(zzE: String) = "(1 + " + (1 to 8).map(k =>
          s"(CASE WHEN $zzE >= ${1L << (7 * k)} THEN 1 ELSE 0 END)")
          .mkString(" + ") + ")"
        def deltaBytes(c: String, p: String) =
          s"CASE WHEN $p IS NULL THEN 8 ELSE ${vb(zz(c, p))} END"
        def idxB(dc: String) = s"((length(bin(greatest($dc - 1, 1))) + 7) // 8)"
        def dictLong(dc: String) = s"($dc * 8 + n * ${idxB(dc)})"
        def bestNum(dk: String, rl: String, db: String, pl: String) =
          s"""CASE WHEN $dk <= $rl AND $dk <= $db AND $dk <= $pl THEN 'dict'
             |    WHEN $rl <= $db AND $rl <= $pl THEN 'rle'
             |    WHEN $db <= $pl THEN 'delta' ELSE 'plain' END""".stripMargin
        def numRow(name: String, dc: String, rc: String, db: String) =
          s"""SELECT '$name' AS "column", n AS n_rows, $dc AS n_distinct,
             |  $rc AS n_runs, 8 * n AS plain_bytes, 12 * $rc AS rle_bytes,
             |  ${dictLong(dc)} AS dict_bytes, $db AS delta_bytes,
             |  ${bestNum(dictLong(dc), s"12 * $rc", db, "8 * n")} AS best
             |FROM ag""".stripMargin
        s"""WITH li AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
           |    l_returnflag AS rf,
           |    CAST(round(l_quantity) AS BIGINT) AS qty,
           |    l_suppkey AS sk, l_orderkey // 64 AS blk
           |  FROM lineitem),
           |lg AS (SELECT *,
           |    lag(rf) OVER w AS p_rf, lag(qty) OVER w AS p_qty,
           |    lag(sk) OVER w AS p_sk, lag(ok) OVER w AS p_ok
           |  FROM li WINDOW w AS (PARTITION BY blk ORDER BY ok, ln, rf, qty, sk)),
           |ag AS MATERIALIZED (SELECT
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(DISTINCT rf) AS BIGINT) AS d_rf,
           |    CAST(count(DISTINCT qty) AS BIGINT) AS d_qty,
           |    CAST(count(DISTINCT sk) AS BIGINT) AS d_sk,
           |    CAST(count(DISTINCT ok) AS BIGINT) AS d_ok,
           |    CAST(sum(CASE WHEN p_rf IS NULL OR p_rf != rf
           |      THEN 1 ELSE 0 END) AS BIGINT) AS r_rf,
           |    CAST(sum(CASE WHEN p_qty IS NULL OR p_qty != qty
           |      THEN 1 ELSE 0 END) AS BIGINT) AS r_qty,
           |    CAST(sum(CASE WHEN p_sk IS NULL OR p_sk != sk
           |      THEN 1 ELSE 0 END) AS BIGINT) AS r_sk,
           |    CAST(sum(CASE WHEN p_ok IS NULL OR p_ok != ok
           |      THEN 1 ELSE 0 END) AS BIGINT) AS r_ok,
           |    CAST(sum(CASE WHEN p_rf IS NULL OR p_rf != rf
           |      THEN strlen(rf) + 8 ELSE 0 END) AS BIGINT) AS rle_rf,
           |    CAST(sum(strlen(rf) + 4) AS BIGINT) AS pl_rf,
           |    CAST(max(strlen(rf)) AS BIGINT) AS mx_rf,
           |    CAST(sum(${deltaBytes("qty", "p_qty")}) AS BIGINT) AS db_qty,
           |    CAST(sum(${deltaBytes("sk", "p_sk")}) AS BIGINT) AS db_sk,
           |    CAST(sum(${deltaBytes("ok", "p_ok")}) AS BIGINT) AS db_ok
           |  FROM lg)
           |SELECT * FROM (
           |SELECT 'l_returnflag' AS "column", n AS n_rows, d_rf AS n_distinct,
           |  r_rf AS n_runs, pl_rf AS plain_bytes, rle_rf AS rle_bytes,
           |  d_rf * (mx_rf + 4) + n * ${idxB("d_rf")} AS dict_bytes,
           |  CAST(NULL AS BIGINT) AS delta_bytes,
           |  CASE WHEN d_rf * (mx_rf + 4) + n * ${idxB("d_rf")} <= rle_rf
           |      AND d_rf * (mx_rf + 4) + n * ${idxB("d_rf")} <= pl_rf
           |    THEN 'dict'
           |    WHEN rle_rf <= pl_rf THEN 'rle' ELSE 'plain' END AS best
           |FROM ag
           |UNION ALL
           |${numRow("l_orderkey", "d_ok", "r_ok", "db_ok")}
           |UNION ALL
           |${numRow("l_quantity", "d_qty", "r_qty", "db_qty")}
           |UNION ALL
           |${numRow("l_suppkey", "d_sk", "r_sk", "db_sk")}
           |) ORDER BY "column"""".stripMargin
      }),

    // q266: BLOOM-FILTER SKIPPING AUDIT — the equality-probe counterpart
    // to q249's range-probe zone maps: min/max stats cannot skip a
    // rowgroup for a SCATTERED key (every group's [min,max] covers it);
    // a per-rowgroup Bloom filter can. Per 512-orderkey group, a
    // m=16384-bit k=4 Bloom over l_partkey — bit positions are FOUR
    // UNBIASED 16-bit md5 lanes mod 2¹⁴ (65536 ≡ 0 mod 16384; the q253
    // lane slicing, so both engines set identical bits). The probe
    // workload is corpus-derived (6 present keys: the smallest pk ≡ 0
    // mod 97; 6 planted-absent: max_pk + 1..6), and the audit reports
    // per probe the groups a bloom-equipped reader skips, the FALSE
    // PASSES (the Bloom's honest cost — zero at sf0.001/0.01, a measured
    // ~2% at sf0.1's ~1900 distinct keys/group), and the theoretical
    // (1−e^(−kn̄/m))⁴ rate beside the measured one. All decisions are
    // exact integer set logic (a probe passes a group iff all 4 of its
    // lane bits are set); the only IEEE ops are the theory column's
    // exp/round. Plan: one (grp, pk)-distinct exchange checkpointed once
    // (5 consumers), bits by a 4-lane explode, the probe side a ≤48-row
    // broadcast — never a corpus×probe join.
    Entry(
      "q266_bloom_skipping",
      (s, d) => {
        // r22: the four 16-bit md5 lanes come from ONE digest via the
        // native md5_lanes kernel — identical values to the former
        // array(CAST(conv(substring(md5(concat('bloom:v1:', ...)), 1+4i,
        // 4), 16, 10) AS BIGINT) % 16384, i = 0..3) spelling, which paid a
        // hex render + substring + conv re-parse per lane
        def laneArr(keyExpr: String) =
          s"md5_lanes(concat('bloom:v1:', CAST($keyExpr AS STRING)), 4, 4, 16384)"
        val gp = Tables.lineitem(s, d)
          .select(expr("l_orderkey div 512").as("grp"),
            col("l_partkey").as("pk"))
          .distinct()
          .localCheckpoint() // consumers: bits, truth, probes, stats
        // r22: no distinct here — `bits` is consumed ONLY by the probe
        // join below, whose ≤48-row broadcast filters the exploded lanes
        // to ~0.3% BEFORE any exchange, and whose own
        // (probe_pk, grp, idx) distinct absorbs every duplicate this
        // distinct used to remove (idx is a function of (probe_pk, bit),
        // so dedup at either grain yields the same pass set). The former
        // corpus-sized (grp, bit) dedup exchange disappears (guide §2.4 /
        // §3.2: pre-filter with the broadcast side before shuffling).
        val bits = gp
          .select(col("grp"), explode(expr(laneArr("pk"))).as("bit"))
        val stats = gp.agg(
          countDistinct(col("grp")).as("n_groups"),
          count(lit(1)).as("sum_nd"),
          max(col("pk")).as("max_pk"))
        val present = gp.filter(expr("pk % 97 = 0"))
          .select(col("pk")).distinct()
          .withColumn("rn", row_number().over(Window.orderBy(col("pk"))))
          .filter(col("rn") <= 6)
          .select(col("pk").as("probe_pk"), lit(false).as("absent"))
        val planted = stats.select(
          explode(expr("sequence(max_pk + 1, max_pk + 6)")).as("probe_pk"),
          lit(true).as("absent"))
        val probes = present.unionByName(planted)
        val probeBits = probes.select(col("probe_pk"), col("absent"),
          posexplode(expr(laneArr("probe_pk"))))
          .toDF("probe_pk", "absent", "idx", "bit")
        val passes = bits.join(broadcast(probeBits), Seq("bit"))
          .select(col("probe_pk"), col("grp"), col("idx")).distinct()
          .groupBy(col("probe_pk"), col("grp"))
          .agg(count(lit(1)).as("hits"))
          .filter(col("hits") === 4)
          .groupBy(col("probe_pk")).agg(count(lit(1)).as("groups_pass"))
        val truth = gp.join(broadcast(probes), gp("pk") === probes("probe_pk"))
          .groupBy(col("probe_pk")).agg(count(lit(1)).as("groups_truth"))
        probes
          .join(passes, Seq("probe_pk"), "left_outer")
          .join(truth, Seq("probe_pk"), "left_outer")
          .crossJoin(broadcast(stats))
          .select(col("probe_pk"), col("absent"),
            col("n_groups").as("groups_total"),
            coalesce(col("groups_truth"), lit(0L)).as("groups_truth"),
            coalesce(col("groups_pass"), lit(0L)).as("groups_pass"),
            (coalesce(col("groups_pass"), lit(0L)) -
              coalesce(col("groups_truth"), lit(0L))).as("false_pos"),
            (col("n_groups") - coalesce(col("groups_pass"), lit(0L)))
              .as("groups_skipped"),
            expr("""(coalesce(groups_pass, 0L) - coalesce(groups_truth, 0L))
              * 1000000L div greatest(n_groups - coalesce(groups_truth, 0L),
                1L)""").as("fpr_ppm"),
            expr("""CAST(round(1000000.0D *
              (1.0D - exp(-4.0D * (CAST(sum_nd AS DOUBLE)
                / CAST(n_groups AS DOUBLE)) / 16384.0D))
              * (1.0D - exp(-4.0D * (CAST(sum_nd AS DOUBLE)
                / CAST(n_groups AS DOUBLE)) / 16384.0D))
              * (1.0D - exp(-4.0D * (CAST(sum_nd AS DOUBLE)
                / CAST(n_groups AS DOUBLE)) / 16384.0D))
              * (1.0D - exp(-4.0D * (CAST(sum_nd AS DOUBLE)
                / CAST(n_groups AS DOUBLE)) / 16384.0D))) AS BIGINT)""")
              .as("fpr_theory_ppm"))
          .orderBy(col("probe_pk"))
      },
      Some {
        def lane(keyExpr: String, i: Int) =
          md5Lane(s"'bloom:v1:' || $keyExpr::VARCHAR", 1 + 4 * i, len = 4) + " % 16384"
        def laneList(keyExpr: String) =
          (0 until 4).map(i => lane(keyExpr, i)).mkString("[", ", ", "]")
        val theory = """CAST(round(1000000.0 *
          |    (1.0 - exp(-4.0 * (CAST(sum_nd AS DOUBLE)
          |      / CAST(n_groups AS DOUBLE)) / 16384.0))
          |    * (1.0 - exp(-4.0 * (CAST(sum_nd AS DOUBLE)
          |      / CAST(n_groups AS DOUBLE)) / 16384.0))
          |    * (1.0 - exp(-4.0 * (CAST(sum_nd AS DOUBLE)
          |      / CAST(n_groups AS DOUBLE)) / 16384.0))
          |    * (1.0 - exp(-4.0 * (CAST(sum_nd AS DOUBLE)
          |      / CAST(n_groups AS DOUBLE)) / 16384.0))) AS BIGINT)"""
          .stripMargin
        s"""WITH gp AS MATERIALIZED (SELECT DISTINCT l_orderkey // 512 AS grp,
           |    l_partkey AS pk FROM lineitem),
           |bits AS MATERIALIZED (SELECT DISTINCT grp, b.bit
           |  FROM gp, LATERAL (SELECT unnest(${laneList("pk")}) AS bit) b),
           |st AS MATERIALIZED (SELECT
           |    CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
           |    CAST(count(*) AS BIGINT) AS sum_nd,
           |    CAST(max(pk) AS BIGINT) AS max_pk
           |  FROM gp),
           |pr AS MATERIALIZED (
           |  SELECT pk AS probe_pk, FALSE AS absent
           |  FROM (SELECT DISTINCT pk FROM gp WHERE pk % 97 = 0
           |    ORDER BY pk LIMIT 6)
           |  UNION ALL
           |  SELECT max_pk + u.i, TRUE
           |  FROM st, LATERAL (SELECT unnest(range(1, 7)) AS i) u),
           |pb AS (SELECT probe_pk, absent, b.i AS idx,
           |    CASE b.i
           |      WHEN 0 THEN ${lane("probe_pk", 0)}
           |      WHEN 1 THEN ${lane("probe_pk", 1)}
           |      WHEN 2 THEN ${lane("probe_pk", 2)}
           |      ELSE ${lane("probe_pk", 3)} END AS bit
           |  FROM pr, LATERAL (SELECT unnest(range(0, 4)) AS i) b),
           |ps AS (SELECT probe_pk, CAST(count(*) AS BIGINT) AS groups_pass
           |  FROM (SELECT probe_pk, grp, count(*) AS hits
           |    FROM (SELECT DISTINCT pb.probe_pk, bits.grp, pb.idx
           |      FROM bits JOIN pb ON bits.bit = pb.bit)
           |    GROUP BY 1, 2 HAVING count(*) = 4)
           |  GROUP BY 1),
           |tr AS (SELECT pr.probe_pk, CAST(count(*) AS BIGINT)
           |    AS groups_truth
           |  FROM gp JOIN pr ON gp.pk = pr.probe_pk GROUP BY 1)
           |SELECT pr.probe_pk, pr.absent,
           |  st.n_groups AS groups_total,
           |  coalesce(tr.groups_truth, 0) AS groups_truth,
           |  coalesce(ps.groups_pass, 0) AS groups_pass,
           |  coalesce(ps.groups_pass, 0) - coalesce(tr.groups_truth, 0)
           |    AS false_pos,
           |  st.n_groups - coalesce(ps.groups_pass, 0) AS groups_skipped,
           |  (coalesce(ps.groups_pass, 0) - coalesce(tr.groups_truth, 0))
           |    * 1000000 // greatest(st.n_groups
           |      - coalesce(tr.groups_truth, 0), 1) AS fpr_ppm,
           |  $theory AS fpr_theory_ppm
           |FROM pr
           |LEFT JOIN ps ON ps.probe_pk = pr.probe_pk
           |LEFT JOIN tr ON tr.probe_pk = pr.probe_pk
           |CROSS JOIN st
           |ORDER BY pr.probe_pk""".stripMargin
      })
  )
}
