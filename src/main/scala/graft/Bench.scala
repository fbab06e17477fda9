package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Benchmark main: headline queries on SPARK_GRAFT_SF_DIR, one JSON line out.
  * Results are fully materialized via the noop sink (no count-style column
  * pruning shortcuts), each query timed end-to-end including planning.
  */
object Bench {

  /** Headline subset: one representative per operator family — scan-agg,
    * top-k join, multiway join, selective scan, window, sessionization,
    * text stats, MinHash LSH, ANN top-k.
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q07_window_top_orders",
    "q25_events_hourly",
    "q26_sessionize",
    "q31_token_stats",
    "q35_dedup_exact",
    "q36_minhash_lsh",
    "q40_cosine_topk",
    "q41_ann_lsh",
    // r22 ADDITIONS (never removed or renamed — the r21 verdict's item 8):
    // the original 12 are all ≤1.3 s at sf0.1 and scheduler-bound, so the
    // driver's core-count scaling block could not see parallelism; these
    // three heavy secondary queries (also still timed under their standing
    // secondary keys) give it real parallel work. Subtract them when
    // comparing the headline total against pre-r22 artifacts.
    "q87_neardup_clusters",
    "q219_containment",
    "q297_byte_bpe_encode")

  /** Secondary timed list: every registered query except the original 12
    * headline names, in Registry order, so a query is timed from the round
    * it is registered in. The three r22 headline additions stay under this
    * key too.
    */
  val secondary: Seq[String] = {
    val original = headline.take(12).toSet
    graft.queries.Registry.entries.map(_.name).filterNot(original)
  }

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // optional: bench an explicit query list instead of headline+secondary;
    // reject unknown names up front rather than crashing mid-run
    val primary = if (args.nonEmpty) args.toSeq else headline
    val extra = if (args.nonEmpty) Seq.empty[String] else secondary
    val names = primary ++ extra
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
    val spark = Tables.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every bench table once (parquet footer reads), then run
    // every headline query once against the smallest fixture — same plans,
    // tiny data — so generated code is compiled and the JIT is warm before
    // anything is timed. Timed runs below still execute end-to-end on the
    // bench SF.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.table(spark, sfDir, t).count())
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // queries whose warm-up failed (they run cold below) — recorded in the
    // JSON as "cold":[...] so a cold timed run is distinguishable post-hoc
    // from the artifact alone, not only from a stderr log nobody kept
    val coldQueries = scala.collection.mutable.ListBuffer.empty[String]
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { name =>
        // NonFatal only — an OOM/interrupt must surface, and a query that
        // fails warm-up gets its name logged instead of silently running cold
        try exec(SparkEntry.queries(name)(spark, warmDir))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
            coldQueries += name
        }
      }
    else coldQueries ++= names

    // MULTI-SAMPLE timing: single-sample-per-query made the per-round perf
    // record one unreplicated draw — r10's gate verdict depended on it
    // (q37: 46.5 s driver vs 97.1 s judge, identical code, same day). Each
    // query now runs `samples` consecutive times; the MEDIAN is the
    // cross-round metric (robust to one JIT-recompile/GC outlier), the MIN
    // is recorded alongside as the machine-capability floor. A run that
    // throws contributes no sample; all-failed → -1 (the driver's existing
    // failure sentinel).
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt
    require(samples >= 1, s"SPARK_GRAFT_BENCH_SAMPLES must be >= 1, got $samples")

    def timeOnce(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { exec(fn(spark, sfDir)); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (ok) sec else -1.0
    }
    // (median, min) over the successful samples of one query
    def time(list: Seq[String]): Seq[(String, (Double, Double))] =
      list.map { name =>
        val ok = Seq.fill(samples)(timeOnce(name)).filter(_ >= 0).sorted
        name -> (if (ok.isEmpty) (-1.0, -1.0) else (ok(ok.size / 2), ok.head))
      }
    def jsonObj(results: Seq[(String, Double)]): String = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    def sumOk(results: Seq[(String, Double)]): Double =
      results.collect { case (_, v) if v >= 0 => v }.sum

    // BOX-CONDITION CANARY: a fixed trivial op — nation scan (25 rows at
    // EVERY SF) + 1-row agg — timed with the same protocol and recorded as
    // "canary_s". The r12 gate read had to cross-reference out-of-band
    // builder artifacts to attribute a uniform 1.3–1.5× elevation of
    // untouched plans to the box; the canary quantifies scheduler/JVM/box
    // drift inside the artifact itself: a round where queries AND canary
    // elevate together is a box condition, queries-only is a code
    // regression. One untimed run first so codegen/JIT warmth matches the
    // timed queries' protocol.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      exec(Tables.table(spark, sfDir, "nation")
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("s")))
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce()
    val canarySamples = Seq.fill(samples)(canaryOnce()).sorted
    val canary = canarySamples(canarySamples.size / 2)

    // headline first (its total is the cross-round metric), then secondary
    val results = time(primary)
    val extraResults = time(extra)
    val medians = results.map { case (k, (med, _)) => k -> med }
    val mins = results.map { case (k, (_, mn)) => k -> mn }
    val total = sumOk(medians)
    val secondaryPart =
      if (extraResults.isEmpty) ""
      else {
        val m = extraResults.map { case (k, (med, _)) => k -> med }
        val n = extraResults.map { case (k, (_, mn)) => k -> mn }
        f""","secondary":${jsonObj(m)},"secondary_min":${jsonObj(n)},"secondary_total":${sumOk(m)}%.3f"""
      }
    // "queries" stays the scalar name→sec map the driver compares across
    // rounds (now the median); "queries_min" is the per-query floor.
    // "schema" versions the measurement protocol for downstream tooling:
    // 1 = single sample per query (pre-r11, implicit), 2 = median-of-samples
    // + queries_min (r11), 3 = + cold list and five more secondary queries
    // (r12), 4 = + canary_s box-drift probe and seven more secondary
    // queries — the four promoted r12 heavies plus the r13 cohort (r13),
    // 5 = secondary is every registered query outside the original 12
    // headline names (98 queries never timed before join it) —
    // a bumped schema means totals are not comparable to prior rounds
    // without adjustment.
    val cold = coldQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Gate-armor (r13 verdict #3): the full line below can run to tens of
    // KB with 80+ secondary queries, and BENCH_r13.json's captured tail
    // began mid-secondary — losing the round's PRIMARY gate fields
    // (headline total, canary). Print a SHORT summary line FIRST so any
    // tail-truncation of the capture still preserves the gate metrics;
    // downstream json-lines readers take the line whose "metric" they
    // want ("total_summary" is gate-sufficient, "total" is complete).
    println(
      f"""{"metric":"total_summary","value":$total%.3f,"unit":"sec","schema":5,"canary_s":$canary%.3f,"sf":"$sfDir"}""")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","schema":5,"samples":$samples,"canary_s":$canary%.3f,"cold":$cold,"queries":${jsonObj(medians)},"queries_min":${jsonObj(mins)}$secondaryPart,"sf":"$sfDir"}"""
    println(fullLine)
    // SELF-ARCHIVE (r18 verdict #8): the driver's stdout capture
    // truncates long tails, which made BENCH_r18.json's per-query map
    // unrecoverable from the artifact alone. Persist the complete line
    // to a file too, so every bench run is self-contained regardless of
    // how much of stdout the harness kept. A targeted run (explicit query
    // names) writes only where SPARK_GRAFT_BENCH_OUT points, so it never
    // overwrites the committed full-sweep BENCH_full_last.json.
    // Best-effort: a read-only cwd must not fail the bench.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(Option.when(args.isEmpty)("BENCH_full_last.json"))
    outPath.foreach { path =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] could not self-archive to $path: " +
            e.getMessage)
      }
    }
    spark.stop()
  }
}
