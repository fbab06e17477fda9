package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared JVM-singleton session for all suites (getOrCreate on the same
  * builder config as every production entry point — Tables.localSession —
  * so tests exercise exactly the session the driver runs).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Tables.localSession(4)
    s.sparkContext.setLogLevel("ERROR")
    // scan locations print in full (not cut at 100 characters), so a plan
    // assertion that looks for an artifact's directory name finds it however
    // long the java.io.tmpdir path above it is
    s.conf.set("spark.sql.maxMetadataStringLength", "10000")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  private def tmpdir = new java.io.File(System.getProperty("java.io.tmpdir"))

  private def scratchDir: java.nio.file.Path =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(graft.sources.Sources.scratchRoot))

  /** Runs once before any listing, so that what the JVM puts in
    * java.io.tmpdir once (the session's dirs, native codec libraries) is
    * there already: a shuffle, and a parquet write and read under the
    * scratch root.
    */
  private lazy val warmed: Unit = {
    val dir = s"${scratchDir}/tmpdir_warmup"
    spark.range(8).repartition(2).write.mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).count() == 8L)
  }
}

trait SparkTestBase extends AnyFunSuite {
  import SparkTestBase.{scratchDir, tmpdir, warmed}

  def spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf

  /** A fresh temp directory under the JVM's scratch root, which
    * `Tables.deleteOnExit` removes at exit: a test's temp paths never
    * outlive the JVM as entries of java.io.tmpdir.
    */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchDir, prefix)

  /** A fresh temp file under the JVM's scratch root (see [[tempDir]]). */
  def tempFile(prefix: String, suffix: String): java.io.File =
    java.nio.file.Files.createTempFile(scratchDir, prefix, suffix).toFile

  /** Runs `body`, then fails if it added an entry to java.io.tmpdir other
    * than the scratch root. build.sbt gives the test JVM a java.io.tmpdir of
    * its own (`target/test-tmpdir`), so no other process adds entries.
    */
  def assertNoTmpdirLeak(body: => Unit): Unit = {
    warmed
    val before = tmpdir.list().toSet
    body
    val added = tmpdir.list().toSet -- before -
      new java.io.File(graft.sources.Sources.scratchRoot).getName
    assert(added.isEmpty, s"new entries in $tmpdir: $added")
  }

  /** Runs `body` under a JFR recording and fails if it started a process.
    * Spark's ArtifactManager removes a session's artifact dir with an
    * `rm -rf` process when the JVM's Cleaner collects the session; earlier
    * sessions (streams' clones among them) reach it at times set by the GC,
    * so those starts are not `body`'s and are not counted.
    */
  def assertNoProcess(body: => Unit): Unit = {
    spark
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val jfr = tempFile("process_starts", ".jfr").toPath
    rec.dump(jfr)
    rec.close()
    def gcCleanup(e: jdk.jfr.consumer.RecordedEvent) = e.getStackTrace.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager"))
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !gcCleanup(e))
      .map(_.getString("command")).toSeq
    val byProgram = commands.groupBy(_.takeWhile(_ != ' ')).map { case (p, cs) => s"${cs.size} $p" }
    assert(commands.isEmpty, s"${commands.size} processes started (${byProgram.mkString(", ")}):\n" +
      commands.mkString("\n"))
  }

  /** Flatten an executed plan across AQE wrappers (AdaptiveSparkPlanExec,
    * query stages, reused stages) into every physical node — the typed
    * counterpart of grepping executedPlan.toString, for pins that need
    * node OUTPUT (e.g. exchange schemas), which the string form omits.
    */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flattenPlan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: flattenPlan(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      r +: flattenPlan(r.child)
    case _ => p +: p.children.flatMap(flattenPlan)
  }

  /** All shuffle exchanges of a FULLY EXECUTED df's final adaptive plan. */
  def shuffleExchanges(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
    flattenPlan(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  /** WindowExec nodes with NO partition spec (global single-partition
    * windows) — the inventory the packing plans must keep at exactly one
    * (the bounded block-prefix cumsum) per plan.
    */
  def unpartitionedWindows(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    flattenPlan(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
}
