package graft

import graft.mr.{Combinable, MRJob, MRRunner, WordCount}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Property tests for the MR surface (SURVEY.md §5 item 4): results are
  * invariant under the output-partition count, word counts conserve tokens,
  * and the streaming group-runs iterator is a faithful groupBy on sorted
  * input. Deterministic seeded generation (scalacheck's forAll bridge for
  * scalatest isn't in the offline cache).
  */
class MRPropertySuite extends AnyFunSuite {
  import MRPropertySuite._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")

  /** Corpora where "alpha" is hot: about 45 of it per line, so each of the
    * session's 4 input partitions holds far more than 64 of it.
    */
  private def hotCorpus(rnd: Random): List[String] =
    List.fill(40)(List.fill(rnd.nextInt(150))(
      if (rnd.nextDouble() < 0.6) "alpha" else vocab(rnd.nextInt(vocab.size))).mkString(" "))

  test("WordCount.tokenize equals a regex split on the five delimiters (1000 random cases)") {
    val alphabet = "abcXYZ ,.\"'\t-é"
    val rnd = new Random(7)
    for (_ <- 1 to 1000) {
      val line = Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val want = line.split("[ ,.\"']+").filter(_.nonEmpty).toSeq
      assert(WordCount.tokenize(line).toSeq == want, s"line: [$line]")
    }
  }

  test("sortedRuns groups a sorted iterator exactly (100 random cases)") {
    val rnd = new Random(42)
    for (_ <- 1 to 100) {
      val pairs = List.fill(rnd.nextInt(50))(
        ("k" + rnd.nextInt(10), rnd.nextInt(1000).toString))
      val sorted = pairs.sortBy(_._1)
      val runs = MRRunner.sortedRuns(sorted.iterator).toSeq
      assert(runs.map(_._1) == runs.map(_._1).distinct.sorted)
      val rebuilt = runs.flatMap { case (k, vs) => vs.map(k -> _) }
      assert(rebuilt.sortBy(p => (p._1, p._2)) == sorted.sortBy(p => (p._1, p._2)))
    }
  }

  test("interval-state sessionize == sort-then-gap reference (200 random cases)") {
    import graft.streaming.EventStreams
    import scala.collection.mutable.ArrayBuffer
    val rnd = new Random(13)
    for (_ <- 1 to 200) {
      val gap = 1 + rnd.nextInt(50)
      val n = 1 + rnd.nextInt(60)
      // clustered timestamps with duplicates and arbitrary arrival order
      val ts = List.fill(n)(rnd.nextInt(500).toLong)
      val buf = ArrayBuffer.empty[EventStreams.SessionInterval]
      ts.foreach(t => EventStreams.mergeEvent(buf, t, gap))
      // reference: sort, count gap-exceeding steps
      val sorted = ts.sorted
      val expectedSessions = 1 + sorted.zip(sorted.tail).count { case (a, b) => b - a > gap }
      assert(buf.length == expectedSessions,
        s"gap=$gap ts=$ts: intervals=${buf.toList} expected $expectedSessions")
      assert(buf.iterator.map(_.n).sum == n.toLong)
      // intervals sorted, disjoint, separated by more than the gap
      buf.toList.sliding(2).foreach {
        case List(a, b) => assert(b.start - a.end > gap)
        case _          => ()
      }
    }
  }

  test("inverted index postings: sorted, distinct, complete, R-invariant") {
    import graft.mr.InvertedIndex
    val s = SparkTestBase.spark
    import s.implicits._
    val rnd = new Random(23)
    val corpus = (0 until 40).map { id =>
      val words = List.fill(1 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
      s"$id:${words.mkString(" ")}"
    }
    val ds = s.createDataset(corpus)
    val r4 = MRRunner.transform(s, ds, InvertedIndex, 4).collect().toMap
    val r9 = MRRunner.transform(s, ds, InvertedIndex, 9).collect().toMap
    assert(r4 == r9, "posting lists must not depend on R")
    // independent reference: word → sorted distinct doc ids
    val expected = corpus.flatMap { line =>
      val Array(id, text) = line.split(":", 2)
      text.split(' ').filter(_.nonEmpty).map(_ -> id.toLong)
    }.groupBy(_._1).map { case (w, ps) =>
      w -> ps.map(_._2).distinct.sorted.mkString(",")
    }
    assert(r4 == expected)
  }

  test("MR result is invariant under R and conserves total token count") {
    val s = SparkTestBase.spark
    import s.implicits._
    val rnd = new Random(7)
    for (_ <- 1 to 5) {
      val corpus = List.fill(30)(
        List.fill(rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val ds = s.createDataset(corpus)
      val r4 = MRRunner.transform(s, ds, Count, 4).collect().toMap
      val r7 = MRRunner.transform(s, ds, Count, 7).collect().toMap
      assert(r4 == r7)
      val totalTokens = corpus.iterator.flatMap(_.split(' ')).count(_.nonEmpty)
      assert(r4.values.map(_.toLong).sum == totalTokens)
    }
  }

  test("combinable Count == plain Count for R in {4, 7}, with keys over 64 per map task") {
    val s = SparkTestBase.spark
    import s.implicits._
    val rnd = new Random(31)
    for (_ <- 1 to 5) {
      val corpus = hotCorpus(rnd)
      val ds = s.createDataset(corpus)
      val hotPerTask = ds.mapPartitions(it =>
        Iterator(it.flatMap(_.split(' ')).count(_ == "alpha"))).collect()
      assert(hotPerTask.max > 64, s"no map task holds over 64 of the hot key: ${hotPerTask.toSeq}")
      val expected = corpus.flatMap(_.split(' ')).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => w -> ws.size.toString }
      for (r <- Seq(4, 7)) {
        val plain = MRRunner.transform(s, ds, Count, r).collect().toMap
        val combined = MRRunner.transform(s, ds, CombinableCount, r).collect().toMap
        assert(combined == plain, s"R=$r")
        assert(combined == expected, s"R=$r")
      }
    }
  }

  test("plain Count's reduce sees only raw \"1\" values: the combiner is opt-in") {
    val s = SparkTestBase.spark
    import s.implicits._
    val corpus = hotCorpus(new Random(37))
    val got = MRRunner.transform(s, s.createDataset(corpus), RawValueCount, 4).collect().toMap
    val expected = corpus.flatMap(_.split(' ')).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toString }
    assert(got == expected)
  }

  test("combine collapses a key at 64 values and flushes its table at 65,536 keys") {
    var maxValues = 0
    val job = new Combinable {
      def map(line: String): IterableOnce[(String, String)] = Iterator.empty
      def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] = {
        maxValues = maxValues max values.size
        Iterator(key -> values.map(_.toLong).sum.toString)
      }
    }
    // "hot" first and last, 70,000 one-off keys between: the table fills
    // before the second run of "hot" arrives, so "hot" leaves twice
    val in = Iterator.fill(1000)("hot" -> "1") ++
      Iterator.range(0, 70000).map(i => s"k$i" -> "1") ++
      Iterator.fill(10)("hot" -> "1")
    val out = MRRunner.combine(job, in).toSeq
    assert(maxValues == 64, s"reduce saw up to $maxValues values")
    assert(out.filter(_._1 == "hot").map(_._2).sorted == Seq("10", "1000"))
    assert(out.size == 70002)
    assert(out.filter(_._1 != "hot").forall(_._2 == "1"))
  }

  test("combine rejects a reduce that breaks the one-pair, same-key contract") {
    val twoPairs = new Combinable {
      def map(line: String): IterableOnce[(String, String)] = Iterator.empty
      def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
        Iterator(key -> "1", key -> "1")
    }
    val ex = intercept[IllegalStateException](
      MRRunner.combine(twoPairs, Iterator.fill(3)("k" -> "1")).toList)
    assert(ex.getMessage.contains("exactly one pair"))
  }
}

object MRPropertySuite {

  private def countMap(line: String): IterableOnce[(String, String)] =
    line.split(' ').iterator.filter(_.nonEmpty).map(_ -> "1")

  object Count extends MRJob {
    def map(line: String): IterableOnce[(String, String)] = countMap(line)
    def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
      Iterator(key -> values.map(_.toLong).sum.toString)
  }

  object CombinableCount extends Combinable {
    def map(line: String): IterableOnce[(String, String)] = Count.map(line)
    def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
      Count.reduce(key, values)
  }

  /** Counts by value-list length, and flags any value that is not the map's
    * raw "1" — which only a combiner could have produced.
    */
  object RawValueCount extends MRJob {
    def map(line: String): IterableOnce[(String, String)] = countMap(line)
    def reduce(key: String, values: Seq[String]): IterableOnce[(String, String)] =
      Iterator(key -> (if (values.forall(_ == "1")) values.size.toString else "combined"))
  }
}
