package graft

import graft.queries.Registry

/** q327 WordPiece: the fit (count-thresholded substring vocab + char
  * fallback) and the greedy longest-match walk are replayed sequentially
  * JVM-side from the raw documents and must match every output column
  * bit-for-bit — a single wrong piece boundary anywhere breaks seg_digest.
  */
class WordPieceSuite extends SparkTestBase {

  test("q327 wordpiece fit+encode replays JVM-side bit-exactly") {
    val P = 2147483647L
    val out = Registry.byName("q327_wordpiece_encode").q(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // ORACLE-BOUND PIN (r18 advice): the Spark side now derives its walk
    // round count from max(length(word)), but the static DuckDB oracle
    // unrolls exactly 8 steps and the vocab-candidate piece length caps
    // at 8 — both are sufficient only while the longest fixture word is
    // ≤ 8 chars. Pin that bound so fixture drift breaks HERE, loudly.
    val maxWl = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .map(_.length).max
    assert(maxWl == 8,
      s"fixture max word length changed ($maxWl): re-derive the oracle's " +
        "unrolled step count and the candidate piece-length cap")
    // fit replay
    val wcs = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    val dwc = scala.collection.mutable.Map
      .empty[String, Long].withDefaultValue(0L)
    docs.foreach { case (src, txt) =>
      txt.split(" ").filter(_.nonEmpty).foreach { w =>
        wcs((src, w)) += 1L; dwc(w) += 1L
      }
    }
    val tot = dwc.values.sum
    val vocab = scala.collection.mutable.Set.empty[(String, Boolean)]
    val cfreq = scala.collection.mutable.Map
      .empty[(String, Boolean), Long].withDefaultValue(0L)
    dwc.foreach { case (w, c) =>
      for (p <- 0 until w.length; l <- 1 to math.min(8, w.length - p))
        cfreq((w.substring(p, p + l), p == 0)) += c
    }
    cfreq.foreach { case (k, v) => if (v * 25L >= tot) vocab += k }
    dwc.keys.foreach(_.foreach { ch =>
      vocab += ((ch.toString, true)); vocab += ((ch.toString, false))
    })
    // greedy replay
    def seg(w: String): (Long, Long) = {
      var (pos, np, dg) = (0, 0L, 0L)
      while (pos < w.length) {
        val l = (1 to (w.length - pos)).reverse
          .find(l => vocab.contains((w.substring(pos, pos + l), pos == 0)))
          .getOrElse(1)
        dg = (dg * 131L + (if (pos == 0) 2L else 1L)) % P
        w.substring(pos, pos + l).foreach(ch => dg = (dg * 131L + ch) % P)
        pos += l; np += 1L
      }
      (np, dg)
    }
    val segs = dwc.keys.map(w => w -> seg(w)).toMap
    val bySrc = wcs.groupBy(_._1._1)
    assert(out.length == bySrc.size)
    out.foreach { r =>
      val rows = bySrc(r.getString(0))
      val nt = rows.values.sum
      val np = rows.map { case ((_, w), c) => segs(w)._1 * c }.sum
      val dg = rows.foldLeft(0L) { case (a, ((_, w), c)) =>
        (a + segs(w)._2 * (c % P)) % P
      }
      assert(r.getLong(1) == nt, s"${r.getString(0)} n_tokens")
      assert(r.getLong(2) == np, s"${r.getString(0)} n_pieces")
      assert(r.getLong(3) == np * 1000000L / nt, s"${r.getString(0)} ppt")
      assert(r.getLong(4) == dg, s"${r.getString(0)} seg_digest")
    }
    // the greedy path is REAL on this fixture: words split into subwords
    // (no full word clears the 4% piece threshold), and the position
    // class matters (some piece is vocab in exactly one class)
    assert(out.forall(_.getLong(3) > 2000000L),
      "pieces/token must exceed 2 — word passthrough would be vacuous")
    assert(vocab.exists(v => v._2 && !vocab.contains((v._1, false))) ||
      vocab.exists(v => !v._2 && !vocab.contains((v._1, true))),
      "the start/continuation class distinction must be live")
  }
}
