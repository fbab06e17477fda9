package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.LongType

/** Fixture-table loaders (FIXTURES.md §B).
  *
  * All queries read the driver-generated parquet under a scale-factor dir
  * (`/root/testdata/sf{0.001,0.01,0.1}`). Centralizing the readers keeps the
  * scan declarative so Catalyst pushes filters/projections into the parquet
  * scan (check `.explain`: `PushedFilters`, `ReadSchema`).
  *
  * Scale note: at 100 TB these would be partitioned/bucketed table reads
  * (e.g. lineitem bucketed by l_orderkey); the API surface stays the same —
  * `spark.read.parquet` over a directory of many files splits into
  * `FilePartition`s sized by `spark.sql.files.maxPartitionBytes`.
  */
object Tables {
  /** Session settings every entry point applies. `nanosAsLong` is required:
    * events.ts is parquet INT64 TIMESTAMP(NANOS), which Spark otherwise
    * rejects (PARQUET_TYPE_ILLEGAL). It then reads as epoch-nano Long.
    */
  val sessionConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // Straggler mitigation — the cluster-posture equivalent of the
    // reference master's deadline + requeue + timeout-doubling loop
    // (/root/reference/src/master.h:271-309,338-346): re-launch slow tasks
    // speculatively; harmless no-op under local[n].
    "spark.speculation" -> "true",
    // Dims (region/nation/supplier/part/customer) stay well under this at
    // any SF we test; on a real cluster this is the default 10 MB knob.
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // PIN the task-memory page size. Spark's default scales with the heap
    // (maxMemory/cores/16, capped 64 MB): above ~40 GB of heap every sorter/
    // hash-map page becomes a 64 MB humongous allocation under G1 (region
    // size ≤32 MB), and the pair-join queries (q37/q55: millions of sorter
    // rows through exchanges + distinct) then spend minutes in allocation
    // stalls and back-to-back concurrent mark cycles — measured on this box:
    // q37 at sf0.1 runs ~38 s with an 8 GB driver heap but 95–380 s (high
    // variance) with a 90 GB heap, GC pause total <3 s in both, mutator time
    // eaten by the humongous-allocation slow path. 8 MB pages (the computed
    // default at an 8 GB heap) keep allocations in normal G1 regions at any
    // heap size; sorters just chain more pages. Same reasoning applies to
    // big-heap executors on a real cluster.
    "spark.buffer.pageSize" -> (8L * 1024 * 1024).toString,
    // Stream checkpoints on the local file system are committed with
    // java.nio (temp file + atomic rename), starting no process.
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName,
    // Every session shares the executors' default class loader. With
    // artifact isolation on (Spark's default) each session UUID gets a class
    // loader of its own on the executor, and the codegen cache is keyed by
    // that loader: a streaming query's cloned session, or any new session,
    // recompiles every generated class its tasks run, and each name Janino
    // does not find locally is fetched from the driver over RPC. No graft
    // code adds a session artifact; the price is that an `addArtifact`
    // (a jar, file or class) would be visible to every session.
    "spark.sql.artifact.isolation.enabled" -> "false"
  )

  /** Deletes `f` and everything under it, in this process. */
  def deleteTree(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteTree)
    f.delete(): Unit
  }

  /** Best-effort recursive delete of a per-JVM scratch path at exit; the
    * per-run token in these paths means nothing else ever reclaims them.
    */
  def deleteOnExit(path: String): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try deleteTree(new java.io.File(path))
      catch { case _: Exception => () } // never fail shutdown over tmp cleanup
    }))

  private lazy val warehouseDir: String = {
    val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_warehouse_" +
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName
        .replaceAll("[^A-Za-z0-9]", "_")
    deleteOnExit(dir)
    dir
  }

  def builder(master: String, cores: Int): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .master(master)
      .withExtensions(graft.functions.GraftExtensions.install)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // saveAsTable target (bucketed-table queries): CWD-independent, per-JVM,
      // best-effort removed at JVM exit
      .config("spark.sql.warehouse.dir", warehouseDir)
    sessionConf.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** Session for local entry points: local[cpus], graft extensions, and every
    * sessionConf key applied (Verify/Bench/tests all come through here — see
    * ADVICE.md r1: a session missing nanosAsLong dies on events.parquet).
    */
  def localSession(cpus: Int): SparkSession =
    builder(s"local[$cpus]", cpus).getOrCreate()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))

  /** Pin the event-time contract — `ts` is epoch-NANO Long — in ONE place,
    * regardless of the fixture's physical type. Driver generations have
    * written events.ts two ways: INT64 TIMESTAMP(NANOS) (reads as Long under
    * `nanosAsLong` — already the contract type) and TIMESTAMP(MICROS) (reads
    * as TIMESTAMP_NTZ since the r13 regeneration). Every event-time operator
    * in this repo does exact integer nano math (sessionize gaps, hour
    * buckets, as-of unions), so the accessor converts at the scan: NTZ
    * wall-clock → instant under the session UTC pin, then µs → ns in
    * integer arithmetic. A codegen'd per-row projection fused into the scan
    * stage — no shuffle, no precision loss, and the Long path is untouched.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case _ =>
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
