package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Every value is taken per traced unit
  * (one MR job, or one full pass of a query workload) and the median over the
  * traced units is reported. Layers are named after the program's modules;
  * README.md beside this harness maps each metric to the end-to-end metric it
  * should move.
  */
object Layers {

  private def median(xs: Seq[Double]): Double = Harness.median(xs)

  def compute(
      spans: Seq[Span],
      rec: Recorder,
      ops: Seq[Harness.Op],
      cores: Int): Map[String, Double] = {
    val units = spans.filter(s => s.traced && s.parent == -1 && (s.name == "pass" || s.name == "job"))
    // the first unit is still warming up: compare traced units with the later untraced ones
    val untracedUnits = spans.filter(s => !s.traced && s.parent == -1 && (s.name == "pass" || s.name == "job"))
      .sortBy(_.startMs).drop(1)
    val opSpans = spans.filter(s => units.exists(_.id == s.parent))
    val children = spans.groupBy(_.parent)
    def phaseOf(op: Span, ms: Long): String =
      children.getOrElse(op.id, Seq.empty)
        .find(c => c.startMs <= ms && ms <= c.endMs).map(_.name).getOrElse("")

    // job → operation: by the job group the harness set, else (jobs that a
    // streaming query runs under its own group) by submission time
    val jobs = rec.jobs.asScala.toSeq
    def opOf(j: JobRec): Option[Span] =
      opSpans.find(_.group == j.group).orElse(
        opSpans.find(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs))
    val jobOp: Map[Int, Span] = jobs.flatMap(j => opOf(j).map(j.jobId -> _)).toMap
    val stageOp: Map[Int, Span] = jobs.sortBy(_.jobId).reverse
      .flatMap(j => jobOp.get(j.jobId).toSeq.flatMap(op => j.stageIds.map(_ -> op))).toMap
    val stages = rec.stages.asScala.toSeq.filter(s => stageOp.contains(s.stageId))
    val tasksByStage = rec.tasks.asScala.toSeq.groupBy(_.stageId)
    val jobById = jobs.map(j => j.jobId -> j).toMap
    // an execution's plan → the operation (and phase) of its last job
    val plans = rec.plans.asScala.toSeq.flatMap(p => jobById.get(p.lastJob).flatMap(j =>
      jobOp.get(j.jobId).map(op => (p, op, phaseOf(op, j.submitMs)))))

    def perUnit(u: Span): Map[String, Double] = {
      val myOps = opSpans.filter(_.parent == u.id)
      val opIds = myOps.map(_.id).toSet
      val myJobs = jobs.filter(j => jobOp.get(j.jobId).exists(o => opIds(o.id)))
      val myStages = stages.filter(s => opIds(stageOp(s.stageId).id))
      val myTasks = myStages.flatMap(s => tasksByStage.getOrElse(s.stageId, Seq.empty))
      def tsum(f: TaskRec => Long): Double = myTasks.map(f).sum.toDouble
      val busy = tsum(_.runMs) / 1e3

      def phaseSum(name: String): Double =
        myOps.flatMap(o => children.getOrElse(o.id, Seq.empty)).filter(_.name == name).map(_.seconds).sum
      val execPlans = plans.collect { case (p, o, "exec") if opIds(o.id) => p }

      val skewed = myStages.map(s => tasksByStage.getOrElse(s.stageId, Seq.empty).map(_.durationMs.toDouble))
        .filter(_.size >= 2)
      val skew = if (skewed.isEmpty) 1.0 else skewed.map(_.max).sum / math.max(1e-9, skewed.map(median).sum)

      // streaming progress, attributed to the operation whose span holds the trigger start
      val progress = rec.progress.asScala.toSeq
        .flatMap(p => myOps.find(o => o.startMs <= p.startMs && p.startMs <= o.endMs).map(_ -> p))
      val streamOps = progress.groupBy(_._1)
      val triggerS = progress.map(_._2.triggerMs).sum / 1e3

      Map(
        "Tables.scan_bytes" -> tsum(_.inBytes),
        "queries.build_s" -> phaseSum("build"),
        "queries.build_jobs" -> myJobs.count(j => phaseOf(jobOp(j.jobId), j.submitMs) == "build").toDouble,
        "queries.plan_s" -> phaseSum("plan"),
        "queries.exec_s" -> phaseSum("exec"),
        "queries.exchanges" -> execPlans.map(_.exchanges).sum.toDouble,
        "operators.jobs" -> myJobs.size.toDouble,
        "operators.stages" -> myStages.size.toDouble,
        "operators.tasks" -> myTasks.size.toDouble,
        "operators.busy_s" -> busy,
        "operators.cpu_s" -> tsum(_.cpuNs) / 1e9,
        "operators.gc_s" -> tsum(_.gcMs) / 1e3,
        "operators.idle_frac" -> (1.0 - busy / (u.seconds * cores)),
        "operators.task_skew" -> skew,
        "operators.shuffle_bytes" -> tsum(_.shWriteBytes),
        "operators.shuffle_records" -> tsum(_.shWriteRecords),
        "operators.fetch_wait_s" -> tsum(_.fetchWaitMs) / 1e3,
        "operators.spill_bytes" -> tsum(_.diskSpill),
        "operators.peak_exec_mb" -> myTasks.map(_.peakExecBytes).maxOption.getOrElse(0L) / 1048576.0,
        "streaming.batches" -> progress.size.toDouble,
        "streaming.trigger_s" -> triggerS,
        "streaming.add_batch_s" -> progress.map(_._2.addBatchMs).sum / 1e3,
        "streaming.wal_commit_s" -> progress.map(_._2.walCommitMs).sum / 1e3,
        "streaming.state_commit_s" -> progress.map(_._2.stateCommitMs).sum / 1e3,
        "streaming.state_rows" -> streamOps.values.map(_.map(_._2.stateRows).max).sum.toDouble,
        "streaming.outside_trigger_s" -> (streamOps.keys.map(_.seconds).sum - triggerS)
      ) ++ mr(myOps, myStages, tasksByStage)
    }

    /** The paper's phases of the MR jobs in a unit: map, shuffle, sort, reduce, write. */
    def mr(
        myOps: Seq[Span],
        myStages: Seq[StageRec],
        tasksByStage: Map[Int, Seq[TaskRec]]): Map[String, Double] = {
      val mrOps = myOps.filter(o => ops.exists(x => x.id == o.op && x.kind == "mr"))
      val mrIds = mrOps.map(_.id).toSet
      val st = myStages.filter(s => mrIds(stageOp(s.stageId).id))
      def tasks(s: StageRec) = tasksByStage.getOrElse(s.stageId, Seq.empty)
      val maps = st.filter(s => tasks(s).exists(t => t.shWriteBytes > 0 && t.inBytes > 0))
      val reduces = st.filter(s => tasks(s).exists(t => t.shReadRecords > 0 && t.outRecords > 0))
      val mt = maps.flatMap(tasks)
      val rt = reduces.flatMap(tasks)
      val shBytes = mt.map(_.shWriteBytes).sum.toDouble
      val shRecords = mt.map(_.shWriteRecords).sum.toDouble
      val mrPlans = plans.collect { case (p, o, _) if mrIds(o.id) => p }
      val rdur = rt.map(_.durationMs.toDouble)
      // share of the job wall time that the map and reduce stages cover
      val intervals = st.filter(s => s.submitMs > 0 && s.completeMs > 0)
        .map(s => (s.submitMs, s.completeMs)).sortBy(_._1)
      val covered = intervals.foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (a >= end) (acc + (b - a), b)
        else if (b > end) (acc + (b - end), b)
        else (acc, end)
      }._1
      val wall = mrOps.map(_.seconds).sum
      // time outside the stages: before the first (spec validation,
      // planning, input listing) and after the last (output commit)
      val firstSubmit = mrOps.map(o => intervals.filter(_._1 >= o.startMs).map(_._1).minOption
        .map(_ - o.startMs).getOrElse(0L)).sum
      val afterLast = mrOps.map(o => intervals.filter(_._2 <= o.endMs).map(_._2).maxOption
        .map(o.endMs - _).getOrElse(0L)).sum
      Map(
        "mr.map.records_in" -> mt.map(_.inRecords).sum.toDouble,
        "mr.map.records_out" -> shRecords,
        "mr.map_stage.busy_s" -> mt.map(_.runMs).sum / 1e3,
        "mr.shuffle.bytes" -> shBytes,
        "mr.shuffle.bytes_per_record" -> (if (shRecords > 0) shBytes / shRecords else 0.0),
        "mr.shuffle.write_s" -> mt.map(_.shWriteNs).sum / 1e9,
        "mr.shuffle.fetch_wait_s" -> rt.map(_.fetchWaitMs).sum / 1e3,
        "mr.sort.s" -> mrPlans.map(_.sortMs).sum / 1e3,
        "mr.sort.spill_bytes" -> mrPlans.map(_.sortSpill).sum.toDouble,
        "mr.reduce.records_out" -> rt.map(_.outRecords).sum.toDouble,
        "mr.reduce_stage.busy_s" -> rt.map(_.runMs).sum / 1e3,
        "mr.reduce_stage.skew" -> (if (rdur.size >= 2) rdur.max / math.max(1.0, median(rdur)) else 1.0),
        "mr.write.bytes" -> rt.map(_.outBytes).sum.toDouble,
        "mr.stage_cover_frac" -> (if (wall > 0) covered / 1e3 / wall else 0.0),
        "mr.plan_s" -> firstSubmit / 1e3,
        "mr.commit_s" -> afterLast / 1e3)
    }

    val per = units.map(perUnit)
    val keys = per.headOption.map(_.keys.toSeq).getOrElse(Seq.empty)
    val traced = median(units.map(_.seconds))
    val untraced = median(untracedUnits.map(_.seconds))
    keys.map(k => k -> median(per.map(_(k)))).toMap ++ Map(
      "trace.traced_wall_s" -> traced,
      "trace.untraced_wall_s" -> untraced,
      "trace.overhead_s" -> (traced - untraced))
  }
}
