package graft.mr

import org.apache.spark.sql.{Dataset, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The MapReduce pipeline re-expressed as one declarative Spark plan
  * (SURVEY.md §3): scan → flatMap(map) → hash-partition shuffle on key →
  * per-partition key sort → streaming group-runs → reduce → partitioned
  * sorted text sink.
  *
  * Everything the reference implements by hand maps to a Spark facility:
  * sharding (file_shard.h) → FilePartition planning via maxPartitionBytes;
  * M×R intermediate files + master routing (mr_tasks.h, master.h:297) →
  * sort-based shuffle; the map/reduce phase barrier (master.h:243,315) → the
  * stage boundary at the exchange; stragglers/faults (master.h:271-309) →
  * speculation + task retry. We only author the dataflow.
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

  /** Full job: spec → text scan → transform → `key value` text sink with
    * exactly R files (mr_tasks.h:109-121's `result_part_<r>` shape).
    */
  def run(spark: SparkSession, spec: MRSpec): Unit = {
    val errs = MRSpec.validate(spec)
    require(errs.isEmpty, s"invalid spec: ${errs.mkString("; ")}")
    val job = JobRegistry.get(spec.userId)
    // map_kilobytes ↔ input split size (file_shard.h:35's M = ceil(kb/map_kb)).
    // The split size is scoped to THIS job: restore the session's previous
    // value afterwards so later queries don't inherit the MR split size.
    val splitKey = "spark.sql.files.maxPartitionBytes"
    val prevSplit = spark.conf.getOption(splitKey)
    spark.conf.set(splitKey, spec.mapKilobytes * 1024L)
    try {
      import spark.implicits._
      val lines = spark.read.textFile(spec.inputFiles: _*)
      transform(spark, lines, job, spec.nOutputFiles)
        .map { case (k, v) => s"$k $v" }
        .write
        .mode("overwrite")
        .text(spec.outputDir)
    } finally prevSplit match {
      case Some(v) => spark.conf.set(splitKey, v)
      case None    => spark.conf.unset(splitKey)
    }
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
