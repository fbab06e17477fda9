package graft.mr

/** User job surface — the Spark-native equivalent of the reference's
  * `BaseMapper`/`BaseReducer` pure-virtual pair
  * (/root/reference/src/mr_task_factory.h:14-43). Both key and value are
  * untyped strings, exactly as in the reference; `map` is a line→pairs
  * flatMap (a UDTF shape) and `reduce` sees every value for one key.
  *
  * Semantics preserved from the reference (SURVEY.md §2.1):
  *   - reduce is invoked in ascending key order within each output partition
  *     (std::map iteration, worker.h:150-152)
  *   - value order within a group is unspecified (worker.h:137) — jobs must
  *     be value-order-insensitive
  *   - a key lands in exactly one of R output partitions (hash routing,
  *     mr_tasks.h:110)
  *
  * A job whose reduce can also serve as a combiner mixes in [[Combinable]].
  */
trait MRJob extends Serializable {
  def map(line: String): IterableOnce[(String, String)]
  def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)]
}

/** Opt-in marker for a map-side combiner (Dean & Ghemawat §4.3, "Combiner
  * Function": "typically the same code" as the reduce). It adds no method:
  * mixing it in declares that the job's `reduce`
  *   - is associative and commutative;
  *   - returns exactly one pair, and that pair has the input key;
  *   - returns a value that is itself a valid input value;
  *   - keeps the job correct whether it runs as a combiner zero, one or
  *     more times per key per map task.
  * [[MRRunner.transform]] then partially reduces each map task's output
  * before the shuffle, so the shuffle carries about one record per
  * (map task, key) instead of one per emitted pair. Jobs without the
  * marker shuffle every pair, as the reference does.
  */
trait Combinable extends MRJob

/** Word count — the reference's only shipped job
  * (/root/reference/test/user_tasks.cc:9-35): strtok on delimiters
  * `" ,.\"'"` (empty tokens skipped), emit (word, "1"); reduce sums
  * atoi-parsed values. A sum is combinable: partial sums are valid counts.
  */
object WordCount extends Combinable {
  private def delim(c: Char): Boolean =
    c == ' ' || c == ',' || c == '.' || c == '"' || c == '\''

  def tokenize(line: String): Iterator[String] = new Iterator[String] {
    private var i = 0
    private def skip(): Unit = { while (i < line.length && delim(line.charAt(i))) i += 1 }
    skip()
    def hasNext: Boolean = i < line.length
    def next(): String = {
      val start = i
      while (i < line.length && !delim(line.charAt(i))) i += 1
      val tok = line.substring(start, i)
      skip()
      tok
    }
  }

  override def map(line: String): IterableOnce[(String, String)] =
    tokenize(line).map(_ -> "1")

  override def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
    Iterator(key -> values.iterator.map(_.toLong).sum.toString)
}

/** Inverted index — the other canonical MapReduce job: input lines carry
  * their document id as `docid:text`; map emits (word, docid) per
  * space-separated token; reduce outputs the sorted distinct posting list.
  * Value-order-insensitive (the reduce sorts), exactly as the reference's
  * contract requires. Not [[Combinable]]: its `"1,2,3"` output is not a
  * valid doc-id input value.
  */
object InvertedIndex extends MRJob {
  override def map(line: String): IterableOnce[(String, String)] = {
    val sep = line.indexOf(':')
    if (sep < 0) Iterator.empty
    else {
      val id = line.substring(0, sep)
      line.substring(sep + 1).split(' ').iterator.filter(_.nonEmpty).map(_ -> id)
    }
  }

  override def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] = {
    // numeric ids sort numerically; any non-numeric id falls back to a
    // lexicographic sort instead of crashing the job (both keys and values
    // are untyped strings by the MR contract)
    val ids = values.distinct
    val sorted =
      if (ids.forall(_.toLongOption.isDefined)) ids.sortBy(_.toLong) else ids.sorted
    Iterator(key -> sorted.mkString(","))
  }
}

/** Distributed grep — the OTHER canonical job from the MapReduce paper
  * (Dean & Ghemawat §2.3 lists it right after word count): map emits a
  * match record per pattern occurrence in its line, reduce aggregates per
  * line id. Input lines carry their id as `docid:text` (the InvertedIndex
  * framing); the pattern is a plain substring — matching stays engine-
  * agnostic and the count is exactly what `grep -o pat | wc -l` reports
  * per line. Exercises the map-side-selective job shape (most lines emit
  * NOTHING — the profile where map output ≪ input and the shuffle is
  * nearly free, the opposite regime from word count's fan-out). Combinable
  * for the same reason as [[WordCount]].
  */
final class Grep(pattern: String) extends Combinable {
  override def map(line: String): IterableOnce[(String, String)] = {
    val sep = line.indexOf(':')
    if (sep < 0) Iterator.empty
    else {
      val id = line.substring(0, sep)
      var i = line.indexOf(pattern, sep + 1)
      var n = 0
      while (i >= 0) { n += 1; i = line.indexOf(pattern, i + pattern.length) }
      if (n == 0) Iterator.empty else Iterator.fill(n)(id -> "1")
    }
  }

  override def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
    Iterator(key -> values.iterator.map(_.toLong).sum.toString)
}

/** String-keyed job registry — equivalent of the reference's
  * `register_tasks(user_id, …)` singleton factory map
  * (/root/reference/src/mr_task_factory.cc:28-88). No factory indirection is
  * needed on executors: Spark serializes the job closure itself.
  */
object JobRegistry {
  @volatile private var jobs: Map[String, MRJob] = Map(
    "cs6210" -> WordCount, // the reference test config's user_id
    "wordcount" -> WordCount,
    "invertedindex" -> InvertedIndex,
    "grep" -> new Grep("scan"))

  /** A job registered here takes the map-side combiner only if it mixes in
    * [[Combinable]].
    */
  def register(userId: String, job: MRJob): Unit =
    synchronized { jobs = jobs + (userId -> job) }

  def get(userId: String): MRJob =
    jobs.getOrElse(
      userId,
      throw new NoSuchElementException(s"no job registered for user_id=$userId"))
}
