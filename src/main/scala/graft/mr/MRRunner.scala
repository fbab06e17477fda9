package graft.mr

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.util.UUID

import org.apache.spark.{JobExecutionStatus, SparkContext, TaskContext}
import org.apache.spark.graft.SparkShim
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The MapReduce pipeline re-expressed as one declarative Spark plan
  * (SURVEY.md §3): scan → flatMap(map) → hash-partition shuffle on key →
  * per-partition key sort → streaming group-runs → reduce → one sorted
  * text file per reduce partition.
  *
  * Everything the reference implements by hand maps to a Spark facility:
  * sharding (file_shard.h) → FilePartition planning via maxPartitionBytes;
  * M×R intermediate files + master routing (mr_tasks.h, master.h:297) →
  * sort-based shuffle; the map/reduce phase barrier (master.h:243,315) → the
  * stage boundary at the exchange; stragglers/faults (master.h:271-309) →
  * speculation + task retry. We author the dataflow, and the output commit
  * (see [[run]]).
  *
  * Scale: the only shuffle is the single hash repartition on key — the
  * minimum any MapReduce requires. Reduce is streaming (one key's values in
  * memory at a time, like the reference's std::map but without holding the
  * whole partition). Skewed keys spill via UnsafeExternalSorter rather than
  * OOM. A job that mixes in [[Combinable]] also gets a map-side combiner
  * (Dean & Ghemawat §4.3), which the reference never had; see [[combine]].
  */
object MRRunner {

  /** A key's combine buffer is collapsed through `reduce` at this many
    * values.
    */
  private val CombineValues = 64

  /** The combine table is sent downstream and cleared at this many keys, so
    * a map task's memory stays bounded whatever its split size.
    */
  private val CombineKeys = 65536

  /** The marker [[run]] writes once all R part files are in place. */
  private val Success = "_SUCCESS"

  /** Groups a key-sorted iterator into (key, values-of-key) runs without
    * materializing more than one key's values — the reduce-side grouping of
    * /root/reference/src/worker.h:125-152 as a streaming iterator.
    */
  def sortedRuns(it: Iterator[(String, String)]): Iterator[(String, Seq[String])] =
    new Iterator[(String, Seq[String])] {
      private val in = it.buffered
      def hasNext: Boolean = in.hasNext
      def next(): (String, Seq[String]) = {
        val key = in.head._1
        val buf = new ArrayBuffer[String]
        while (in.hasNext && in.head._1 == key) buf += in.next()._2
        key -> buf.toSeq
      }
    }

  /** Reduces `values` of `key` to the single value the [[Combinable]]
    * contract promises, failing the task if the job breaks it.
    */
  private def reduceOne(job: MRJob, key: String, values: Seq[String]): String =
    job.reduce(key, values).iterator.toList match {
      case (k, v) :: Nil if k == key => v
      case out => throw new IllegalStateException(
        s"a Combinable reduce must emit exactly one pair with key $key, got $out")
    }

  /** The map-side combiner: partially reduces one map task's pairs in an
    * in-task hash table. A key's values are collapsed through `reduce`
    * whenever they reach [[CombineValues]]; the table is emitted and cleared
    * whenever it holds [[CombineKeys]] keys, and at the end of the input.
    * A key may therefore leave a task more than once, which the
    * [[Combinable]] contract allows.
    */
  def combine(job: MRJob, it: Iterator[(String, String)]): Iterator[(String, String)] =
    new Iterator[(String, String)] {
      private val table = new java.util.HashMap[String, ArrayBuffer[String]]
      private var out: Iterator[(String, String)] = Iterator.empty

      def hasNext: Boolean = out.hasNext || { fill(); out.hasNext }

      def next(): (String, String) =
        if (hasNext) out.next() else throw new NoSuchElementException

      private def fill(): Unit = {
        table.clear()
        while (it.hasNext && table.size < CombineKeys) {
          val (k, v) = it.next()
          var buf = table.get(k)
          if (buf == null) { buf = new ArrayBuffer[String](4); table.put(k, buf) }
          buf += v
          if (buf.length == CombineValues) {
            val collapsed = reduceOne(job, k, buf.toSeq)
            buf.clear()
            buf += collapsed
          }
        }
        out = table.entrySet.iterator.asScala.map { e =>
          val vs = e.getValue
          e.getKey -> (if (vs.length == 1) vs(0) else reduceOne(job, e.getKey, vs.toSeq))
        }
      }
    }

  /** map → shuffle(R, key) → sort-within-partition → grouped reduce.
    * Output keeps the reference's guarantees: R partitions, each key-sorted,
    * every key in exactly one partition (Murmur3 instead of std::hash — see
    * SURVEY.md §7 gotcha 3: parity is at multiset level, not file bytes).
    * A [[Combinable]] job's map output passes through [[combine]] in the
    * same map task; the exchange, sort and reduce are the same for every
    * job, so the combiner changes the shuffle's size, not the output.
    */
  def transform(
      spark: SparkSession,
      lines: Dataset[String],
      job: MRJob,
      nOutput: Int): Dataset[(String, String)] = {
    import spark.implicits._
    val mapped = job match {
      case _: Combinable => lines.mapPartitions(it => combine(job, it.flatMap(job.map)))
      case _             => lines.flatMap(job.map _)
    }
    mapped
      .repartition(nOutput, $"_1")
      .sortWithinPartitions($"_1")
      .mapPartitions(it => sortedRuns(it).flatMap { case (k, vs) => job.reduce(k, vs) })
  }

  /** Full job: spec → text scan → [[transform]] → exactly R files
    * `part-00000` … `part-<R-1>` of `key value` lines in `spec.outputDir`
    * (mr_tasks.h:109-121's `result_part_<r>` shape), then `_SUCCESS`.
    *
    * The commit is the paper's (Dean & Ghemawat §3.3): each reduce task
    * writes a private temp file and atomically renames it onto its final
    * output file. Reduce partition r, the key-hash partition, writes
    * `part-r` through `.part-r.<task attempt id>.tmp`, so every partition
    * gets a file, empty ones included. Under the [[MRJob]] contract a
    * retried or speculative attempt writes the same bytes, so whichever
    * rename lands last leaves the same file. A failed attempt deletes its
    * temp file; after the job, succeeded or failed, no `.part-*.tmp` is
    * left. `_SUCCESS` is written only after all R renames. Before the job
    * the stale `part-*` and `_SUCCESS` files of an earlier job are deleted,
    * and nothing else in the directory is touched (see [[MRSpec]]).
    * Each reduce task reports its bytes and lines written as its task
    * output metrics.
    */
  def run(spark: SparkSession, spec: MRSpec): Unit = {
    val errs = MRSpec.validate(spec)
    require(errs.isEmpty, s"invalid spec: ${errs.mkString("; ")}")
    val job = JobRegistry.get(spec.userId)
    val dir = Paths.get(spec.outputDir)
    deleteFiles(dir, n => n.startsWith("part-") || n == Success)
    // map_kilobytes ↔ input split size (file_shard.h:35's M = ceil(kb/map_kb)).
    // The split size is scoped to THIS job: restore the session's previous
    // value afterwards so later queries don't inherit the MR split size.
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val prevSplit = spark.conf.getOption(splitKey)
    spark.conf.set(splitKey, spec.mapKilobytes * 1024L)
    val sc = spark.sparkContext
    val tag = s"graft-mr-${UUID.randomUUID}"
    sc.addJobTag(tag)
    try {
      val lines = spark.read.textFile(spec.inputFiles: _*)
      val out = spec.outputDir
      try transform(spark, lines, job, spec.nOutputFiles)
        .foreachPartition((rows: Iterator[(String, String)]) => writePart(out, rows))
      catch { case e: Throwable => awaitTasks(sc, tag); throw e }
      Files.createFile(dir.resolve(Success))
    } finally {
      sc.removeJobTag(tag)
      prevSplit match {
        case Some(v) => spark.conf.set(splitKey, v)
        case None    => spark.conf.unset(splitKey)
      }
      deleteFiles(dir, n => n.startsWith(".part-") && n.endsWith(".tmp"))
    }
  }

  /** One reduce task's output: writes its rows to a temp file named for
    * the task attempt, then renames it onto `part-<partition>`.
    */
  private def writePart(dir: String, rows: Iterator[(String, String)]): Unit = {
    val ctx = TaskContext.get()
    val name = f"part-${ctx.partitionId()}%05d"
    val tmp = Paths.get(dir, s".$name.${ctx.taskAttemptId()}.tmp")
    try {
      // an OutputStreamWriter replaces unmappable chars as String.getBytes does
      val w = new BufferedWriter(
        new OutputStreamWriter(Files.newOutputStream(tmp, CREATE_NEW, WRITE), UTF_8), 1 << 16)
      var records = 0L
      try rows.foreach { case (k, v) =>
        w.write(k); w.write(' '); w.write(v); w.write('\n')
        records += 1
      } finally w.close()
      val bytes = Files.size(tmp)
      Files.move(tmp, Paths.get(dir, name), ATOMIC_MOVE, REPLACE_EXISTING)
      SparkShim.reportOutput(ctx, bytes, records)
    } catch {
      case e: Throwable =>
        Files.deleteIfExists(tmp)
        throw e
    }
  }

  /** Deletes the regular files in `dir` whose names `pick` accepts. */
  private def deleteFiles(dir: Path, pick: String => Boolean): Unit =
    Using.resource(Files.list(dir))(_.iterator.asScala.toList)
      .filter(p => pick(p.getFileName.toString) && Files.isRegularFile(p))
      .foreach(Files.deleteIfExists)

  /** Waits, for at most a minute, until no task of the jobs tagged `tag`
    * still runs. When one task fails its job, Spark kills the job's other
    * tasks but returns before they have ended, and a task that has not yet
    * ended can still create its temp file.
    */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    // every job start posted so far reaches the status store
    SparkShim.drainListeners(sc)
    def running: Boolean = st.getJobIdsForTag(tag).exists { id =>
      st.getJobInfo(id).forall { j =>
        j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0))
      }
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Word count-style aggregation without writing a job class: `mapFn`
    * with `merge` as an associative, commutative reduce, run through
    * [[transform]] as a [[Combinable]] job, so it gets the map-side combiner
    * and the single hash exchange.
    *
    * Takes the map function directly (not an MRJob): the caller-supplied
    * `merge` REPLACES the job's reduce here, and taking the whole job would
    * invite the two to drift silently.
    */
  def reduceByKeyDF(
      spark: SparkSession,
      lines: Dataset[String],
      mapFn: String => IterableOnce[(String, String)],
      merge: (String, String) => String,
      nOutput: Int): Dataset[(String, String)] = {
    val job = new Combinable {
      def map(line: String): IterableOnce[(String, String)] = mapFn(line)
      def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
        Iterator(key -> values.reduce(merge))
    }
    transform(spark, lines, job, nOutput)
  }
}
