package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval recorded by the harness around a public call. Spans of
  * one operation share `op`; `parent` is the enclosing span's id (-1 at the
  * top). `group` is the Spark job group set while the span was open.
  */
final case class Span(
    id: Int,
    parent: Int,
    op: Int,
    name: String,
    group: String,
    traced: Boolean,
    startMs: Long,
    endMs: Long,
    seconds: Double)

/** In-memory span store; written out once, when the run ends. A span opened
  * inside another inherits its operation, job group and traced flag.
  */
final class Spans {
  import Spans.Open
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Open]
  private var nextId = 0

  def all: Seq[Span] = buf.toSeq

  /** Times `body` as a span named `name`; returns its result and seconds. */
  def apply[T](name: String, op: Int = -1, group: String = "", traced: Boolean = false)(
      body: => T): (T, Double) = {
    val outer = open.headOption
    val me = Open(nextId,
      if (op >= 0) op else outer.map(_.op).getOrElse(-1),
      if (group.nonEmpty) group else outer.map(_.group).getOrElse(""),
      traced || outer.exists(_.traced))
    nextId += 1
    open = me :: open
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def record(suffix: String): Double = {
      val sec = (System.nanoTime() - t0) / 1e9
      buf += Span(me.id, outer.map(_.id).getOrElse(-1), me.op, name + suffix, me.group,
        me.traced, ms0, System.currentTimeMillis(), sec)
      sec
    }
    try {
      val out = body
      (out, record(""))
    } catch {
      case e: Throwable => record("!failed"); throw e
    } finally open = open.tail
  }
}

object Spans {
  private final case class Open(id: Int, op: Int, group: String, traced: Boolean)
}

final case class JobRec(jobId: Int, group: String, submitMs: Long, stageIds: Seq[Int])
final case class StageRec(stageId: Int, submitMs: Long, completeMs: Long, numTasks: Int)
final case class TaskRec(
    stageId: Int,
    durationMs: Long,
    runMs: Long,
    cpuNs: Long,
    gcMs: Long,
    peakExecBytes: Long,
    memSpill: Long,
    diskSpill: Long,
    inBytes: Long,
    inRecords: Long,
    outBytes: Long,
    outRecords: Long,
    shWriteBytes: Long,
    shWriteRecords: Long,
    shWriteNs: Long,
    shReadBytes: Long,
    shReadRecords: Long,
    fetchWaitMs: Long)
final case class PlanRec(lastJob: Int, exchanges: Int, sortMs: Long, sortSpill: Long)
final case class ProgressRec(
    startMs: Long,
    triggerMs: Long,
    addBatchMs: Long,
    walCommitMs: Long,
    stateCommitMs: Long,
    stateRows: Long)

/** Counts from the listeners the harness registers: Spark's scheduler
  * listener (jobs, stages, tasks), the session's query-execution listener
  * (executed plans) and its streaming-query listener (micro-batch progress).
  * Events arrive on Spark's listener bus; read the buffers only after the
  * session has stopped, which drains the bus.
  */
final class Recorder extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  // Both listeners sit on Spark's shared listener queue, which delivers events
  // in posting order: when an execution's plan arrives, the last job started
  // is that execution's last job.
  @volatile private var lastJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.add(JobRec(e.jobId, group.getOrElse(""), e.time, e.stageIds))
    lastJob = math.max(lastJob, e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(-1L),
      i.completionTime.getOrElse(-1L), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null) {
      val sw = m.shuffleWriteMetrics
      val sr = m.shuffleReadMetrics
      tasks.add(TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory, m.memoryBytesSpilled,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        sw.bytesWritten, sw.recordsWritten, sw.writeTime,
        sr.totalBytesRead, sr.recordsRead, sr.fetchWaitTime))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) { case x: Exchange => x }.size
    val sorts = collectWithSubqueries(plan) { case s: SortExec => s }
    def metric(s: SortExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    plans.add(PlanRec(lastJob, exchanges, sorts.map(metric(_, "sortTime")).sum,
      sorts.map(metric(_, "spillSize")).sum))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Streaming-query events, registered through `spark.streams.addListener`. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val states = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
      progress.add(ProgressRec(
        Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L),
        d.getOrElse("addBatch", 0L),
        d.getOrElse("walCommit", 0L),
        states.map(_.commitTimeMs).sum,
        states.map(_.numRowsTotal).sum))
    }
  }
}
