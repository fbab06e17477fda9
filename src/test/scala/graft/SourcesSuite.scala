package graft

import graft.queries.Registry
import org.apache.spark.sql.functions._

class SourcesSuite extends SparkTestBase {

  test("q57 partition-pruned read-back: scan touches only the filtered partition") {
    // run once to materialize the partitioned table
    Registry.byName("q57_partitioned_sink").q(spark, sf).collect()
    val path = graft.sources.Sources.scratch(sf, "lineitem_by_flag")
    val df = spark.read.parquet(path).filter(col("l_returnflag") === "R")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"),
      s"no partition pruning in plan:\n$plan")
    // directory layout is hive-style
    val dirs = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("l_returnflag="))
    assert(dirs.length >= 2, s"expected hive-style partition dirs, got ${dirs.toSeq}")
  }

  test("q114 ORC read-back plans partition pruning AND predicate pushdown") {
    Registry.byName("q114_orc_roundtrip").q(spark, sf).collect()
    val path = graft.sources.Sources.scratch(sf, "lineitem_orc")
    val df = spark.read.orc(path)
      .filter(col("l_linestatus") === "F" && col("l_quantity") > 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("l_linestatus"),
      s"no partition pruning in ORC plan:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity"),
      s"quantity predicate not pushed into the ORC scan:\n$plan")
    val dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("l_linestatus="))
    assert(dirs.length >= 2, s"expected hive-style partition dirs, got ${dirs.toSeq}")
  }

  test("q115 cdc upsert: manifest identities hold") {
    val r = Registry.byName("q115_cdc_upsert").q(spark, sf).collect().head
    val (before, changes, after) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (ins, upd, del) = (r.getLong(3), r.getLong(4), r.getLong(5))
    assert(changes == ins + upd + del, "change classes don't partition the stream")
    assert(after == before + ins - del, "after != before + inserts - deletes")
    assert(del > 0 && upd > 0 && ins > 0, "a change class is empty — fixture broken")
  }

  test("q58 csv/json round-trip preserves row counts and keys") {
    val out = Registry.byName("q58_csv_json_roundtrip").q(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == Tables.nation(spark, sf).count())
  }

  test("q65 bucketed join: no shuffle reaches the join (bucket-aligned scans)") {
    val df = Registry.byName("q65_bucketed_join").q(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ over bucketed scans:\n$plan")
    assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")
    // the ONLY exchanges allowed are after the join (final agg + order-by);
    // the join inputs must come straight from the bucketed scans
    val joinSubtree = plan.split("SortMergeJoin", 2)(1)
    assert(!joinSubtree.contains("Exchange"),
      s"bucketed join inputs still shuffle:\n$plan")
  }

  test("bucketed table point-lookup reads a single bucket") {
    // q65 leaves the bucketed tables in the catalog; an equality filter on
    // the bucket column must prune the scan to 1 of 16 buckets — the
    // metadata-only point-lookup path a 100 TB bucketed layout buys.
    Registry.byName("q65_bucketed_join").q(spark, sf).collect()
    val tag = sf.replaceAll("[^A-Za-z0-9]", "_")
    val key = spark.table(s"graft_ord_bucketed_$tag").head().getLong(0)
    // the planner auto-disables bucketed scans for filter-only queries
    // (parallelism over pruning); pin the scan bucketed to assert the
    // pruning path a point-lookup workload would configure
    val conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val saved = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, "false")
      val plan = spark.table(s"graft_ord_bucketed_$tag")
        .filter(col("o_orderkey") === key)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 16"),
        s"no bucket pruning:\n$plan")
    } finally saved match {
      case Some(v) => spark.conf.set(conf, v)
      case None    => spark.conf.unset(conf)
    }
  }

  test("q66 join prunes fact partitions dynamically from the dim filter") {
    val df = Registry.byName("q66_dpp_join").q(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$plan")
  }

  test("compaction publish is atomic: readers see old-complete or new-complete") {
    import graft.sources.{Artifacts, Sources}
    val root = Sources.scratch(sf, "atomic_publish_case")
    val base = Tables.nation(spark, sf).select(col("n_nationkey"), col("n_name"))
    val nRows = base.count()

    // generation 1 published: the manifest resolves it, fully readable
    base.repartition(8).write.mode("overwrite").parquet(s"$root/gen-1")
    Artifacts.publish(spark, root, "gen-1")()
    assert(Artifacts.currentGeneration(spark, root).endsWith("/gen-1"))
    assert(Artifacts.readCurrent(spark, root).count() == nRows)

    // a compaction attempt that DIES before publish: a half-written next
    // generation exists on disk, but the manifest still points at gen-1 —
    // readers resolve the old complete dataset, never the partial dir
    val partial = new java.io.File(s"$root/gen-2")
    partial.mkdirs()
    new java.io.File(partial, "part-00000-halfwritten.parquet").createNewFile()
    assert(Artifacts.currentGeneration(spark, root).endsWith("/gen-1"))
    assert(Artifacts.readCurrent(spark, root).count() == nRows)

    // the retried compaction overwrites the orphan and republishes: the
    // manifest swap is one atomic rename — after it, readers
    // resolve the new complete generation (same rows, fewer files)
    Artifacts.compactDataset(spark, root, "gen-2", 2)
    assert(Artifacts.currentGeneration(spark, root).endsWith("/gen-2"))
    val after = Artifacts.readCurrent(spark, root)
    assert(after.count() == nRows)
    assert(after.inputFiles.length == 2, s"expected 2 compacted files, got ${after.inputFiles.length}")
    // no leftover temp manifest: the swap consumed it
    assert(!new java.io.File(root).list().exists(_.endsWith(".tmp")))
    // both generations intact on disk — the publish never deletes data a
    // concurrent reader may still be scanning
    assert(new java.io.File(s"$root/gen-1").list().exists(_.endsWith(".parquet")))
  }

  test("publish GC-sweeps abandoned tmp manifests past the TTL, spares fresh ones") {
    import graft.sources.{Artifacts, Sources}
    import org.apache.hadoop.fs.Path
    val root = Sources.scratch(sf, "tmp_gc_case")
    Tables.nation(spark, sf).select(col("n_nationkey"))
      .write.mode("overwrite").parquet(s"$root/gen-1")
    Artifacts.publish(spark, root, "gen-1")()
    // plant one ABANDONED tmp (hard-killed publisher: mtime past the TTL)
    // and one FRESH tmp (indistinguishable from a live concurrent publish)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = new Path(s"$root/._current.deadbeef.tmp")
    val fresh = new Path(s"$root/._current.cafebabe.tmp")
    Seq(stale, fresh).foreach { p =>
      val o = fs.create(p, false)
      try o.write("gen-x".getBytes("UTF-8")) finally o.close()
    }
    fs.setTimes(stale, System.currentTimeMillis() - 2L * 3600 * 1000, -1)
    Artifacts.publish(spark, root, "gen-1")()
    assert(!fs.exists(stale), "tmp older than the TTL must be swept at publish time")
    assert(fs.exists(fresh), "a fresh tmp may belong to a live publisher — must survive")
    assert(Artifacts.currentGeneration(spark, root).endsWith("/gen-1"))
  }

  test("compactEpochs: rows preserved, idempotent, later commits append on top") {
    assertNoTmpdirLeak {
      import graft.sources.Artifacts
      val root = tempDir("graft_ec").toString + "/tbl"
      val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
      val n = ev.count()
      (0 until 3).foreach { b =>
        Artifacts.commitEpoch(spark, root, ev.filter(pmod(col("event_id"), lit(3)) === b),
          f"epoch-$b%09d")
      }
      assert(Artifacts.committedEpochs(spark, root).size == 3)
      Artifacts.compactEpochs(spark, root, parts = 2)
      val after = Artifacts.committedEpochs(spark, root)
      assert(after.size == 1, s"expected single compacted epoch, got $after")
      assert(Artifacts.readEpochs(spark, root).count() == n, "compaction lost/duplicated rows")
      // idempotent: a second compaction of an already-compact list is a no-op
      // (same manifest content — the single epoch name is unchanged)
      Artifacts.compactEpochs(spark, root, parts = 2)
      assert(Artifacts.committedEpochs(spark, root) == after)
      // the stream keeps running after a compaction: a new epoch appends
      // beside the compacted one and both resolve through one manifest read
      Artifacts.commitEpoch(spark, root, ev.limit(9), "epoch-000000099")
      assert(Artifacts.committedEpochs(spark, root).size == 2)
      assert(Artifacts.readEpochs(spark, root).count() == n + 9)
      // and compacting again folds both into one fresh dir, rows intact
      Artifacts.compactEpochs(spark, root, parts = 1)
      assert(Artifacts.committedEpochs(spark, root).size == 1)
      assert(Artifacts.readEpochs(spark, root).count() == n + 9)
    }
  }

  test("q242 compaction plan equals a sequential per-source packing replay") {
    val rows = graft.queries.Registry.byName("q242_compaction_plan")
      .q(spark, sf).collect()
    val manifest = Tables.documents(spark, sf)
      .groupBy(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.expr("doc_id div 200").as("bucket"))
      .agg(org.apache.spark.sql.functions.sum("n_chars").as("bytes"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = manifest.toSeq.groupBy(_._1).toSeq.flatMap { case (src, fs) =>
      var cum = 0L
      fs.sortBy(_._2).map { case (_, bucket, bytes, nd) =>
        val bin = cum / 16384L
        cum += bytes
        (src, bin, bucket, bytes, nd)
      }
    }
    val expAgg = expected.groupBy(t => (t._1, t._2)).map { case ((src, bin), fs) =>
      (src, bin, fs.size.toLong, fs.map(_._4).sum, fs.map(_._5).sum,
        fs.map(_._3).min, fs.map(_._3).max)
    }
    assert(rows.length == expAgg.size)
    for (r <- rows) {
      val key = (r.getString(0), r.getLong(1))
      val e = expAgg.find(t => (t._1, t._2) == key).get
      assert(r.getLong(2) == e._3, s"$key n_files")
      assert(r.getLong(3) == e._4, s"$key out_bytes")
      assert(r.getLong(4) == e._5, s"$key n_docs")
      assert(r.getLong(5) == e._6, s"$key first_bucket")
      assert(r.getLong(6) == e._7, s"$key last_bucket")
      assert(r.getLong(7) == e._4 * 1000000L / 16384L, s"$key fill_ppm")
    }
    // contiguity: within a source, bins are dense from 0 and bucket ranges
    // never interleave (the property that preserves cluster order)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 0L, s"$src bins must start at 0")
      sorted.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1).getLong(5) > p(0).getLong(6),
          s"$src bins must cover disjoint ascending bucket ranges")
      }
    }
  }

  test("q249 zone-map audit equals a sequential two-layout replay") {
    val rows = graft.queries.Registry.byName("q249_zonemap_skipping")
      .q(spark, sf).collect()
    assert(rows.length == 24)
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"),
        org.apache.spark.sql.functions.datediff(
          to_date(col("l_shipdate")), lit("1970-01-01")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // natural layout: group by l_orderkey div 512
    val nat = li.groupBy(_._1 / 512).map { case (_, xs) =>
      (xs.map(_._2).min, xs.map(_._2).max, xs.length.toLong)
    }.toSeq
    // sorted layout: equi-depth 512-row groups of the day-sorted stream
    val srt = li.map(_._2).sorted.grouped(512).map { g =>
      (g.min, g.max, g.length.toLong)
    }.toSeq
    val dmin = li.map(_._2).min
    val span = li.map(_._2).max - dmin + 1
    for (r <- rows) {
      val (probe, lo, hi, layout) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      assert(lo == dmin + probe * span / 12 && hi == dmin + (probe + 1) * span / 12 - 1)
      val zones = if (layout == "natural") nat else srt
      val pruned = zones.count { case (gmin, gmax, _) => gmax < lo || gmin > hi }
      val scanned = zones.collect {
        case (gmin, gmax, n) if !(gmax < lo || gmin > hi) => n
      }.sum
      assert(r.getLong(4) == zones.size.toLong, s"p$probe $layout n_groups")
      assert(r.getLong(5) == pruned.toLong, s"p$probe $layout n_pruned")
      assert(r.getLong(6) == scanned, s"p$probe $layout rows_scanned")
    }
    // the audit's point: summed over the whole probe workload, the sorted
    // layout scans strictly less than natural order on this fixture
    val byLayout = rows.groupBy(_.getString(3)).view.mapValues(_.map(_.getLong(6)).sum)
    assert(byLayout("sorted") < byLayout("natural"),
      "equi-depth sorted layout must dominate for range probes")
  }

  test("q262 encoding advisor replays from a JVM-side per-rowgroup sweep") {
    val df = Registry.byName("q262_encoding_advisor").q(spark, sf)
    val rows = df.collect()
    assert(rows.length == 4)
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        expr("CAST(round(l_quantity) AS BIGINT)"), col("l_suppkey"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
      // the engine's total order: (blk implicit in ok) ok, ln, rf, qty, sk
      .sortBy(t => (t._1, t._2, t._3, t._4, t._5))
    val n = li.length.toLong
    def varint(zz: Long): Long = 1L + (1 to 8).count(k => zz >= (1L << (7 * k)))
    def zig(d: Long): Long = if (d >= 0) 2 * d else -2 * d - 1
    def idxB(d: Long): Long =
      (java.lang.Long.toBinaryString(math.max(d - 1, 1L)).length + 7L) / 8L
    // per-rowgroup sweep: runs and deltas restart at each 64-order block
    case class St(var runs: Long = 0, var rleStr: Long = 0, var delta: Long = 0)
    val stRf = St(); val stQty = St(); val stSk = St(); val stOk = St()
    var prevBlk = Long.MinValue
    var prev: (Long, Int, String, Long, Long) = null
    for (t <- li) {
      val blk = t._1 / 64
      val first = blk != prevBlk
      if (first || prev._3 != t._3) { stRf.runs += 1; stRf.rleStr += t._3.getBytes("UTF-8").length + 8 }
      if (first || prev._4 != t._4) stQty.runs += 1
      if (first || prev._5 != t._5) stSk.runs += 1
      if (first || prev._1 != t._1) stOk.runs += 1
      stQty.delta += (if (first) 8L else varint(zig(t._4 - prev._4)))
      stSk.delta += (if (first) 8L else varint(zig(t._5 - prev._5)))
      stOk.delta += (if (first) 8L else varint(zig(t._1 - prev._1)))
      prevBlk = blk; prev = t
    }
    val dRf = li.map(_._3).distinct.length.toLong
    val dQty = li.map(_._4).distinct.length.toLong
    val dSk = li.map(_._5).distinct.length.toLong
    val dOk = li.map(_._1).distinct.length.toLong
    val plRf = li.map(_._3.getBytes("UTF-8").length + 4L).sum
    val mxRf = li.map(_._3.getBytes("UTF-8").length.toLong).max
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    def checkNum(name: String, d: Long, st: St): Unit = {
      val r = byCol(name)
      assert(r.getLong(1) == n && r.getLong(2) == d, s"$name n/distinct")
      assert(r.getLong(3) == st.runs, s"$name runs")
      assert(r.getLong(4) == 8 * n, s"$name plain")
      assert(r.getLong(5) == 12 * st.runs, s"$name rle")
      assert(r.getLong(6) == d * 8 + n * idxB(d), s"$name dict")
      assert(r.getLong(7) == st.delta, s"$name delta")
      val best = Seq("dict" -> r.getLong(6), "rle" -> r.getLong(5),
        "delta" -> r.getLong(7), "plain" -> r.getLong(4))
      assert(r.getString(8) == best.minBy(_._2)._1 ||
        best.count(_._2 == best.map(_._2).min) > 1, s"$name best")
    }
    checkNum("l_orderkey", dOk, stOk)
    checkNum("l_quantity", dQty, stQty)
    checkNum("l_suppkey", dSk, stSk)
    val rf = byCol("l_returnflag")
    assert(rf.getLong(2) == dRf && rf.getLong(3) == stRf.runs)
    assert(rf.getLong(4) == plRf && rf.getLong(5) == stRf.rleStr)
    assert(rf.getLong(6) == dRf * (mxRf + 4) + n * idxB(dRf))
    assert(rf.isNullAt(7), "strings carry no delta encoding")
    // the advisor's point: the verdicts differ per column on this fixture —
    // sorted keys go delta, low-cardinality goes dict
    assert(byCol("l_orderkey").getString(8) == "delta")
    // (l_quantity is a close dict-vs-delta duel whose winner flips with SF)
    assert(rf.getString(8) == "dict")
    // delta on the sorted key must crush plain by at least 4x
    assert(stOk.delta * 4 <= 8 * n)
  }

  test("q266 bloom skipping replays from a JVM-side bitset sweep") {
    val rows = Registry.byName("q266_bloom_skipping").q(spark, sf).collect()
    import org.apache.spark.sql.functions._
    def lanes(pk: Long): Seq[Long] = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"bloom:v1:$pk".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (0 until 4).map(i =>
        java.lang.Long.parseLong(h.substring(4 * i, 4 * i + 4), 16) % 16384)
    }
    val gp = Tables.lineitem(spark, sf)
      .select(expr("l_orderkey div 512"), col("l_partkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val groups = gp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val blooms = groups.map { case (g, ps) => g -> ps.flatMap(lanes) }
    val maxPk = gp.map(_._2).max
    val present = gp.map(_._2).distinct.filter(_ % 97 == 0).sorted.take(6)
    val probes = present ++ (1 to 6).map(maxPk + _)
    assert(rows.length == probes.length)
    val byProbe = rows.map(r => r.getLong(0) -> r).toMap
    assert(rows.map(_.getLong(0)).sorted.toSeq == probes.sorted.toSeq)
    for (p <- probes) {
      val r = byProbe(p)
      val pb = lanes(p).toSet // dup lanes collapse: membership is per-bit
      val truth = groups.count(_._2.contains(p)).toLong
      val pass = blooms.count { case (_, bl) => pb.subsetOf(bl) }.toLong
      assert(r.getBoolean(1) == (p > maxPk), s"probe $p absent flag")
      assert(r.getLong(2) == groups.size.toLong, s"probe $p total")
      assert(r.getLong(3) == truth, s"probe $p truth")
      assert(r.getLong(4) == pass, s"probe $p pass")
      assert(r.getLong(5) == pass - truth, s"probe $p false_pos")
      assert(r.getLong(6) == groups.size - pass, s"probe $p skipped")
      // a Bloom filter NEVER false-negatives: every true group passes
      assert(pass >= truth, s"probe $p no false negatives")
    }
    // planted-absent probes have zero truth; their passes are pure FPR
    val absent = probes.drop(present.length)
    assert(absent.forall(p => byProbe(p).getLong(3) == 0L))
    // the audit's point: absent keys skip (nearly) everything
    assert(absent.forall(p =>
      byProbe(p).getLong(6) * 2 >= groups.size), "absent probes skip >= half")
  }

  test("q277 time travel: both generations readable, digests faithful") {
    val r = Registry.byName("q277_time_travel").q(spark, sf).collect().head
    val n = Tables.nation(spark, sf).count()
    assert(r.getLong(0) == n && r.getLong(1) == n + 1, "snapshot sizes")
    val changed = Tables.nation(spark, sf)
      .filter(expr("CAST(n_nationkey AS BIGINT) % 3 = 0")).count()
    assert(r.getLong(2) == changed && r.getLong(3) == 1L, "diff accounting")
    assert(r.getBoolean(4), "AS-OF read must equal the v1 snapshot")
    assert(r.getBoolean(5), "current read must equal the v2 snapshot")
    // both generation dirs remain on disk (publish never deletes), and the
    // manifest resolves gen-2
    val root = graft.sources.Sources.scratch(sf, "time_travel")
    val dirs = new java.io.File(root).listFiles().map(_.getName)
    assert(dirs.contains("gen-1") && dirs.contains("gen-2"))
    assert(graft.sources.Artifacts.currentGeneration(spark, root).endsWith("/gen-2"))
  }

  test("q324 hilbert code is a bijection with grid-adjacent consecutives") {
    // first principles: run the REGISTERED expression chain over the full
    // 64x64 grid; the two defining Hilbert properties must hold exactly
    val grid = spark.range(4096L)
      .select(expr("id div 64").as("qa"), expr("id % 64").as("qb"))
    val cells = graft.sources.LayoutOps.hilbertCode(grid, "qa", "qb")
      .select(col("hd"), col("qa"), col("qb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cells.map(_._1).sorted.sameElements(0L until 4096L),
      "hd must be a bijection onto [0, 4096)")
    val byD = cells.map(c => c._1 -> ((c._2, c._3))).toMap
    for (i <- 0L until 4095L) {
      val (x0, y0) = byD(i); val (x1, y1) = byD(i + 1)
      assert(math.abs(x0 - x1) + math.abs(y0 - y1) == 1L,
        s"positions $i and ${i + 1} must be grid-adjacent (Hilbert property)")
    }
  }

  test("q324 hilbert beats morton on bbox area at non-aligned chunking") {
    val rows = queries.Registry.byName("q324_hilbert_layout").q(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet == Set("hilbert", "morton", "linear"))
    assert(rows("hilbert")._2 == rows("morton")._2, "same row total")
    assert(rows("hilbert")._3 < rows("morton")._3,
      "hilbert files must carry strictly tighter bounding boxes")
    assert(rows("hilbert")._4 >= rows("linear")._4,
      "the 2D box predicate must prune at least as many hilbert files")
  }
}
