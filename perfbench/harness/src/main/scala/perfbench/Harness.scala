package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Tables
import graft.mr.{MRRunner, MRSpec}
import graft.queries.Registry
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Closed-loop benchmark with one client: issues one MR job or one query
  * at a time through the program's public entry points and records what each
  * took. Run by `perfbench/run.py`, which makes the inputs, checks the
  * outputs and prints the metrics; this program writes one JSON result file.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * cores, setups (set-ups per run), data (fixture dir), tables
  * (comma-separated tables to touch in set-up), queries (comma-separated
  * registry names of one pass; none for the MR workload), corpus
  * (comma-separated MR input files), work (scratch dir), result (path of the
  * JSON result file).
  *
  * After each MR job it prints `perfbench-check <op id> <output dir>` on
  * stdout and waits for one line on stdin before it goes on.
  */
object Harness {

  /** The reference configuration's R and the split size of the paper's job. */
  val nOutputFiles = 8
  val mapKilobytes = 4096

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Op(
      id: Int,
      kind: String,
      name: String,
      pass: Int,
      traced: Boolean,
      wallS: Double,
      ok: Boolean,
      error: String,
      output: String)

  /** One timed unit of the loop. `stealFrac` is the share of the machine's
    * busy CPU time the hypervisor gave to other guests while it ran.
    */
  final case class Timed(
      unit: Int,
      traced: Boolean,
      wallS: Double,
      cpuS: Double,
      stealFrac: Double,
      ok: Boolean)

  /** One set-up: its wall time and the steal share while it ran. */
  final case class Round(wallS: Double, stealFrac: Double)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    // set-ups per run: the cold one, then the rest on fresh sessions in the warm JVM
    val setups = arg("setups").toInt
    val data = arg("data")
    val work = arg("work")
    def list(k: String): Seq[String] = args.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val queryMix = list("queries")
    val mrWorkload = queryMix.isEmpty

    val spans = new Spans
    val recorder = new Recorder
    val ops = ArrayBuffer.empty[Op]
    val warm = ArrayBuffer.empty[Op]
    val units = ArrayBuffer.empty[Timed]
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainTicks = cpuTicks()

    var spark: SparkSession = null
    def attach(): Unit = {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
      spark.streams.addListener(recorder.streaming)
    }
    def detach(): Unit = {
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
      spark.streams.removeListener(recorder.streaming)
    }

    // box canary: Bench's nation-scan probe, one untimed run then three samples
    def canary(): Seq[Double] = {
      def once(): Double = spans("canary") {
        Tables.table(spark, data, "nation")
          .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("s"))
          .write.format("noop").mode("overwrite").save()
      }._2
      once()
      Seq.fill(3)(once())
    }

    var nextOp = 0
    def runOp(kind: String, name: String, pass: Int, traced: Boolean, output: String)(
        body: => Unit): Op = {
      val id = nextOp
      nextOp += 1
      val group = s"perfbench-$id"
      if (traced) spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val err =
        try { spans(name, id, group, traced)(body); "" }
        catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) spark.sparkContext.clearJobGroup()
      Op(id, kind, name, pass, traced, wall, err.isEmpty, err, output)
    }

    def query(name: String, pass: Int, traced: Boolean): Op = {
      val entry = Registry.byName(name)
      runOp("query", name, pass, traced, "") {
        val df = spans("build")(entry.q(spark, data))._1
        spans("plan")(df.queryExecution.executedPlan)
        spans("exec")(df.write.format("noop").mode("overwrite").save())
      }
    }

    val corpus = list("corpus")
    def mrJob(pass: Int, traced: Boolean): Op = {
      val out = new File(s"$work/mr/job_$nextOp")
      out.mkdirs()
      val spec = MRSpec(nWorkers = cores, workerAddrs = Seq.fill(cores)("localhost:0"),
        inputFiles = corpus, outputDir = out.getPath, nOutputFiles = nOutputFiles,
        mapKilobytes = mapKilobytes, userId = "wordcount")
      runOp("mr", "mr_wordcount", pass, traced, out.getPath) {
        spans("mr.run")(MRRunner.run(spark, spec))
      }
    }

    // A finished MR job's output goes to the calling process, which checks it
    // and deletes it before the next job starts; this waits for its reply.
    def handOff(done: Iterable[Op]): Unit = done.filter(o => o.kind == "mr" && o.ok).foreach { o =>
      println(s"perfbench-check ${o.id} ${o.output}")
      System.out.flush()
      scala.io.StdIn.readLine()
    }

    // One set-up: a session, the table touch (file listing and parquet footers)
    // and one untimed unit of the workload. For queries that unit is also the
    // checked execution: each result is written as parquet for the oracle check.
    def setUp(round: Int): Seq[Op] = {
      val (s, _) = spans("setup.session") {
        val s = Tables.localSession(cores)
        s.sparkContext.setLogLevel("ERROR")
        s
      }
      spark = s
      spans("setup.touch")(list("tables").foreach(t => Tables.table(spark, data, t).schema))
      spans("setup.warm") {
        if (mrWorkload) Seq(mrJob(-1, traced = false))
        else queryMix.map { name =>
          val out = s"$work/check/$round/$name"
          runOp("check", name, -1, traced = false, out) {
            Registry.byName(name).q(spark, data).coalesce(1).write.mode("overwrite").parquet(out)
          }
        }
      }._1
    }

    // The first set-up is cold and counts from JVM start. Each further one
    // stops the session and sets up a fresh one in this now warm JVM, so that
    // the reported set-up time is a median and not one cold sample; the
    // timed loop then runs on the last session, after every warm-up unit.
    warm ++= setUp(0)
    val setupEndMs = System.currentTimeMillis()
    val cold = Round((setupEndMs - jvmStartMs) / 1e3, stealFrac(mainTicks, cpuTicks()))
    handOff(warm)
    val setupSpans = spans.all
    def setupS(name: String): Double = setupSpans.find(_.name == name).map(_.seconds).getOrElse(0.0)
    val setupRounds = cold +:
      (1 until setups).map { round =>
        spark.stop()
        val ticks0 = cpuTicks()
        val t0 = System.nanoTime()
        val done = setUp(round)
        val r = Round((System.nanoTime() - t0) / 1e9, stealFrac(ticks0, cpuTicks()))
        warm ++= done
        handOff(done)
        r
      }
    System.gc() // every run starts its loop from the same heap state, not the set-ups' garbage
    val canaryStart = canary()

    // timed closed loop of at least three units, so that a median has a middle
    // however slow the units are; traced runs alternate untraced and traced
    // units so the tracing overhead is measured inside one run (unit 0, the
    // least warm, is left out of that comparison)
    val loop0 = System.nanoTime()
    val cpuTicks0 = cpuTicks()
    var unit = 0
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    while (unit < 3 || System.nanoTime() - loop0 < seconds * 1e9) {
      val traced = trace && unit % 2 == 1
      if (traced) attach()
      val cpu0 = os.getProcessCpuTime
      val ticks0 = cpuTicks()
      val (_, wall) = spans(if (mrWorkload) "job" else "pass", traced = traced) {
        if (mrWorkload) ops += mrJob(unit, traced)
        else new Random(seed * 1000003L + unit).shuffle(queryMix)
          .foreach(q => ops += query(q, unit, traced))
      }
      if (traced) detach()
      val mine = ops.filter(_.pass == unit)
      units += Timed(unit, traced, wall, (os.getProcessCpuTime - cpu0) / 1e9,
        stealFrac(ticks0, cpuTicks()), mine.forall(_.ok))
      handOff(mine)
      unit += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val steal = stealFrac(cpuTicks0, cpuTicks())

    val kernels = if (trace) Kernels.run(spark, data) else Map.empty[String, Double]
    val canaryEnd = canary()
    spark.stop() // drains the listener bus: every recorded event is in

    val layers =
      if (trace) Layers.compute(spans.all, recorder, ops.toSeq, cores) ++ kernels ++ Map(
        "Tables.session_s" -> setupS("setup.session"),
        "Tables.warm_s" -> setupS("setup.warm"),
        "box.steal_frac" -> steal,
        "box.canary_s" -> median(canaryStart),
        "box.canary_end_s" -> median(canaryEnd))
      else Map.empty[String, Double]

    val oracleSql: Map[String, String] =
      queryMix.flatMap(n => Registry.byName(n).oracle.map(n -> _)).toMap
    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> cores,
      "setup" -> Map("jvm_start_ms" -> jvmStartMs, "end_ms" -> setupEndMs,
        "session_s" -> setupS("setup.session"), "touch_s" -> setupS("setup.touch"),
        "warm_s" -> setupS("setup.warm"), "rounds" -> setupRounds),
      "loop_s" -> loopS,
      "steal_frac" -> steal,
      "canary_start_s" -> canaryStart,
      "canary_end_s" -> canaryEnd,
      "warm" -> warm,
      "ops" -> ops,
      "units" -> units,
      "oracle_sql" -> oracleSql,
      "layers" -> layers)
    json.writeValue(new File(arg("result")), result)
    if (trace) {
      import scala.jdk.CollectionConverters._
      json.writeValue(new File(arg("result") + ".spans.json"), Map(
        "spans" -> spans.all,
        "jobs" -> recorder.jobs.asScala,
        "stages" -> recorder.stages.asScala,
        "plans" -> recorder.plans.asScala))
    }
  }

  /** The machine's CPU time counters (the `cpu` line of /proc/stat); empty
    * where there is none.
    */
  private def cpuTicks(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq
      finally src.close()
    } catch { case NonFatal(_) => Seq.empty }

  /** Share of the busy CPU time between two readings that the hypervisor gave
    * to other guests (steal): box drift that slows every timing alike. Idle
    * vCPUs accrue none, so it is the share the running threads lost.
    */
  private def stealFrac(a: Seq[Long], b: Seq[Long]): Double =
    if (a.size < 8 || b.size < 8) 0.0
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      val busy = d.sum - d(3) - d(4) // minus idle and iowait
      if (busy > 0) d(7).toDouble / busy else 0.0
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
