package graft

import graft.functions.HashKernels
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class HashKernelsSuite extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)

  test("hashes are deterministic across calls") {
    val s = "the quick brown fox jumps over the lazy dog"
    assert(HashKernels.simhash64(u(s)) == HashKernels.simhash64(u(s)))
    assert(HashKernels.fingerprint64(u(s)) == HashKernels.fingerprint64(u(s)))
    assert(HashKernels.minhashSig(u(s), 32, 3).toSeq ==
      HashKernels.minhashSig(u(s), 32, 3).toSeq)
  }

  test("l2sqLong equals the scalar sum-of-squared-diffs on seeded vectors") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(64)
      val a = Array.fill(n)(rnd.nextLong() % 1100000L)
      val b = Array.fill(n)(rnd.nextLong() % 1100000L)
      val expect = a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum
      assert(graft.functions.VectorOps.l2sqLong(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b)) == expect)
    }
    // SQL surface: the codegen expression agrees with the kernel
    val s = SparkTestBase.spark
    import org.apache.spark.sql.functions._
    val row = s.range(1)
      .select(graft.functions.GraftColumns.kernel("l2sq_long",
        expr("array(1L, -3L, 5L)"), expr("array(4L, 0L, 5L)")).as("d"))
      .collect().head
    assert(row.getLong(0) == 9L + 9L)
  }

  test("l2sqLong REJECTS a dimension mismatch instead of truncating") {
    // schema drift between a model and a batch must fail loudly — a
    // min(len) truncation returns a plausible but wrong distance.
    import org.apache.spark.sql.catalyst.util.ArrayData
    val e = intercept[IllegalArgumentException] {
      graft.functions.VectorOps.l2sqLong(
        ArrayData.toArrayData(Array(1L, 2L, 3L)),
        ArrayData.toArrayData(Array(1L, 2L)))
    }
    assert(e.getMessage.contains("dimension mismatch"))
  }

  test("fingerprint64 is position-sensitive; simhash is token-set-ish") {
    val a = "alpha beta gamma delta"
    val b = "beta alpha gamma delta" // same tokens, different order
    assert(HashKernels.fingerprint64(u(a)) != HashKernels.fingerprint64(u(b)))
    // simhash ignores order entirely (token multiset votes)
    assert(HashKernels.simhash64(u(a)) == HashKernels.simhash64(u(b)))
  }

  test("similar docs land at small simhash Hamming distance, dissimilar far") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 58).map(i => s"tok$i").mkString(" ") + " other word"
    val far = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val dNear = HashKernels.hammingDist(
      HashKernels.simhash64(u(base)), HashKernels.simhash64(u(near)))
    val dFar = HashKernels.hammingDist(
      HashKernels.simhash64(u(base)), HashKernels.simhash64(u(far)))
    assert(dNear < 12, s"near docs should be close, got $dNear")
    assert(dFar > 20, s"unrelated docs should be far, got $dFar")
  }

  test("minhash estimates Jaccard within tolerance on overlapping shingle sets") {
    // two docs sharing ~75% of their 1-token shingles
    val a = (1 to 100).map(i => s"w$i").mkString(" ")
    val b = ((26 to 100) ++ (200 to 224)).map(i => s"w$i").mkString(" ")
    val sa = HashKernels.minhashSig(u(a), 128, 1)
    val sb = HashKernels.minhashSig(u(b), 128, 1)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 128
    val trueJ = 75.0 / 125.0
    assert(math.abs(est - trueJ) < 0.15, s"est=$est true=$trueJ")
  }

  test("identical docs share every LSH band; disjoint docs share none") {
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val c = (100 to 150).map(i => s"v$i").mkString(" ")
    val ba = HashKernels.minhashBands(u(a), 32, 3, 4).toLongArray()
    val ba2 = HashKernels.minhashBands(u(a), 32, 3, 4).toLongArray()
    val bc = HashKernels.minhashBands(u(c), 32, 3, 4).toLongArray()
    assert(ba.toSeq == ba2.toSeq)
    assert(ba.length == 8) // k=32 / r=4
    assert(ba.intersect(bc).isEmpty)
  }

  test("minhashSigChars estimates char-trigram Jaccard; set semantics hold") {
    val a = "abcdefghijklmnopqrstuvwxyz" * 4
    val b = "abcdefghijklmnopqrstuvwxyz" * 2 + "0123456789" * 5
    val sa = HashKernels.minhashSigChars(u(a), 128, 3)
    val sb = HashKernels.minhashSigChars(u(b), 128, 3)
    def grams(s: String) = (0 to s.length - 3).map(i => s.substring(i, i + 3)).toSet
    val (ga, gb) = (grams(a), grams(b))
    val trueJ = ga.intersect(gb).size.toDouble / ga.union(gb).size
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 128
    assert(math.abs(est - trueJ) < 0.15, s"est=$est true=$trueJ")
    // duplicate n-grams collapse (set semantics): a periodic string has the
    // same trigram SET at any repeat count, so the signature is unchanged
    assert(HashKernels.minhashSigChars(u("abc" * 10), 32, 3).toSeq ==
      HashKernels.minhashSigChars(u("abc" * 25), 32, 3).toSeq)
    // identical strings: identical bands; disjoint alphabets: no shared band
    val bandsA = HashKernels.bandsFromSig(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(sa), 2).toLongArray()
    val bandsB = HashKernels.bandsFromSig(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(HashKernels.minhashSigChars(u("0123456789" * 6), 128, 3)), 2)
      .toLongArray()
    assert(bandsA.length == 64) // k=128 / r=2
    assert(bandsA.intersect(bandsB).isEmpty)
  }

  test("minhashSigChars windows over codepoints: multibyte text tracks char-trigram Jaccard") {
    // Shared Greek segment (2 bytes/codepoint) + distinct ASCII tails of the
    // same CODEPOINT length. In codepoints the shared segment is half the
    // trigram mass; in bytes it is two thirds (each Greek codepoint yields
    // two byte windows) — so byte-trigram and codepoint-trigram Jaccard
    // genuinely differ here, and the signature must track the codepoint one
    // (the measure q55's substr confirm computes).
    val greek = "αβγδεζηθικλμνξοπρστυφχψω"
    val a = greek + "abcdefghijklmnopqrstuvwx"
    val b = greek + "ABCDEFGHIJKLMNOPQRSTUVWX"
    def cpGrams(s: String) = (0 to s.length - 3).map(i => s.substring(i, i + 3)).toSet
    def byteGrams(s: String) = {
      val bs = s.getBytes("UTF-8")
      (0 to bs.length - 3).map(i => bs.slice(i, i + 3).toSeq).toSet
    }
    def jac[T](x: Set[T], y: Set[T]) =
      x.intersect(y).size.toDouble / x.union(y).size
    val jCp = jac(cpGrams(a), cpGrams(b))
    val jByte = jac(byteGrams(a), byteGrams(b))
    assert(math.abs(jCp - jByte) > 0.10, s"jCp=$jCp jByte=$jByte should differ")
    val k = 512
    val sa = HashKernels.minhashSigChars(u(a), k, 3)
    val sb = HashKernels.minhashSigChars(u(b), k, 3)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / k
    assert(math.abs(est - jCp) < 0.08, s"est=$est should track codepoint jac $jCp")
    assert(math.abs(est - jCp) < math.abs(est - jByte),
      s"est=$est must be closer to codepoint jac $jCp than byte jac $jByte")
    // ASCII degenerates to the byte-window measure: signature of an ASCII
    // string is a pure function of its codepoint windows == byte windows
    assert(HashKernels.minhashSigChars(u("abc" * 10), 32, 3).toSeq ==
      HashKernels.minhashSigChars(u("abc" * 25), 32, 3).toSeq)
  }

  test("sigAgreeFrac rejects mismatched signature lengths") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    intercept[IllegalArgumentException] {
      HashKernels.sigAgreeFrac(arr(1, 2, 3), arr(1, 2))
    }
  }

  test("jaccardSorted equals set Jaccard on sorted hash arrays") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    // {1,3,5,7} vs {3,5,9}: inter 2, union 5
    assert(HashKernels.jaccardSorted(arr(1, 3, 5, 7), arr(3, 5, 9)) == 2.0 / 5.0)
    // identical sets
    assert(HashKernels.jaccardSorted(arr(2, 4, 6), arr(2, 4, 6)) == 1.0)
    // disjoint
    assert(HashKernels.jaccardSorted(arr(1, 2), arr(3, 4)) == 0.0)
    // negative hashes interleave correctly (signed 64-bit order is what
    // array_sort produces and what the merge assumes)
    assert(HashKernels.jaccardSorted(arr(-9, -1, 4), arr(-1, 4, 8)) == 2.0 / 4.0)
    // matches the formulation it replaced: size(intersect)/(|a|+|b|-inter)
    val a = Seq(-5L, 0L, 2L, 9L, 11L)
    val b = Seq(-5L, 2L, 3L, 11L, 12L, 20L)
    val inter = a.toSet.intersect(b.toSet).size
    assert(HashKernels.jaccardSorted(arr(a: _*), arr(b: _*)) ==
      inter.toDouble / (a.size + b.size - inter))
  }

  test("jaccardSorted validates BOTH arrays in full and throws on violation") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    // violation in a TAIL the merge itself never visits: right side [1] is
    // exhausted after one step, but full validation must still reject the
    // unsorted left tail (r10 contract: every adjacent pair is checked)
    intercept[IllegalArgumentException] {
      HashKernels.jaccardSorted(arr(1, 2, 100, 99), arr(1))
    }
    // duplicates violate strict ascent
    intercept[IllegalArgumentException] {
      HashKernels.jaccardSorted(arr(1, 1, 2), arr(3, 4))
    }
    // right side validated too
    intercept[IllegalArgumentException] {
      HashKernels.jaccardSorted(arr(1, 2), arr(5, 4))
    }
  }

  test("jaccardSortedUnchecked agrees with jaccardSorted on valid sorted inputs") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    val cases = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 5L, 9L)),
      (Seq(2L, 4L, 6L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(-9L, -1L, 4L), Seq(-1L, 4L, 8L)),
      (Seq(-5L, 0L, 2L, 9L, 11L), Seq(-5L, 2L, 3L, 11L, 12L, 20L)),
      (Seq.empty[Long], Seq(1L, 2L)))
    cases.foreach { case (a, b) =>
      val checked = HashKernels.jaccardSorted(arr(a: _*), arr(b: _*))
      // UnsafeArrayData fast path (the post-shuffle confirm case)
      assert(HashKernels.jaccardSortedUnchecked(arr(a: _*), arr(b: _*)) == checked)
      // GenericArrayData fallback path must agree with the fast path
      val ga = new GenericArrayData(a.toArray)
      val gb = new GenericArrayData(b.toArray)
      assert(HashKernels.jaccardSortedUnchecked(ga, gb) == checked)
      // mixed kinds take the fallback
      assert(HashKernels.jaccardSortedUnchecked(arr(a: _*), gb) == checked)
    }
  }

  test("sigAgreeFrac fast path and fallback agree") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    val a = Seq(1L, 2L, 3L, 4L, 5L)
    val b = Seq(1L, 9L, 3L, 8L, 5L)
    val fast = HashKernels.sigAgreeFrac(arr(a: _*), arr(b: _*))
    val slow = HashKernels.sigAgreeFrac(
      new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
    assert(fast == slow && fast == 0.6)
    // length check fires on the generic path too
    intercept[IllegalArgumentException] {
      HashKernels.sigAgreeFrac(new GenericArrayData(a.toArray), arr(1, 2))
    }
  }

  test("sigAgreeFrac counts positional matches") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    assert(HashKernels.sigAgreeFrac(arr(1, 2, 3, 4), arr(1, 9, 3, 8)) == 0.5)
    assert(HashKernels.sigAgreeFrac(arr(7, 7), arr(7, 7)) == 1.0)
    assert(HashKernels.sigAgreeFrac(arr(1, 2), arr(2, 1)) == 0.0) // positional, not set
  }

  test("winnowFps: detection guarantee, density, determinism, short-string degenerate") {
    val w = 16
    val t = 8 // guarantee threshold L = w + t - 1 = 23
    def fps(s: String) = HashKernels.winnowFps(u(s), w, t).toLongArray().toSet
    // GUARANTEE: any two strings sharing a common substring of length >= L
    // share at least one selected fingerprint, regardless of its position
    val shared = "the quick brown fox jumps over" // 30 chars > L
    val a = "prefix one " + shared + " tail alpha"
    val b = "a completely different beginning here " + shared + " and end"
    assert(fps(a).intersect(fps(b)).nonEmpty, "shared >=L substring must share a fingerprint")
    // strings with no common w-byte window share nothing
    val c = "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo"
    assert(fps(a).intersect(fps(c)).isEmpty)
    // DENSITY: winnowing selects ~2/(t+1) of positions — assert well under
    // half of the window count on a non-degenerate string
    val long = (1 to 80).map(i => s"tok$i").mkString(" ")
    val nW = long.getBytes("UTF-8").length - w + 1
    val k = fps(long).size
    assert(k < nW / 2, s"density too high: $k of $nW windows selected")
    assert(k > nW / 20, s"density implausibly low: $k of $nW")
    // output is sorted ascending and duplicate-free (merge-kernel ready)
    val arr = HashKernels.winnowFps(u(long), w, t).toLongArray()
    assert(arr.toSeq == arr.toSeq.sorted && arr.distinct.length == arr.length)
    // determinism
    assert(HashKernels.winnowFps(u(a), w, t).toLongArray().toSeq ==
      HashKernels.winnowFps(u(a), w, t).toLongArray().toSeq)
    // <= w bytes degenerates to the single whole-string hash
    val sb = "short".getBytes("UTF-8")
    assert(HashKernels.winnowFps(u("short"), w, t).toLongArray().toSeq ==
      Seq(HashKernels.hashBytes(sb, 0, sb.length)))
    // SQL-registered → misuse must fail loudly, not as an
    // ArrayIndexOutOfBoundsException deep in the selection loop
    intercept[IllegalArgumentException] { HashKernels.winnowFps(u(a), w, 0) }
    intercept[IllegalArgumentException] { HashKernels.winnowFps(u(a), 0, t) }
    intercept[IllegalArgumentException] { HashKernels.winnowFps(u(a), w, -3) }
  }

  test("normalizeText: NFC + casefold + whitespace collapse, incl. multibyte and fast paths") {
    import graft.functions.TextKernels
    def norm(s: String): String = TextKernels.normalizeText(u(s)).toString
    // already-normalized ASCII returns the INPUT OBJECT (zero-copy fast path)
    val clean = u("already clean text")
    assert(TextKernels.normalizeText(clean) eq clean)
    // ASCII repair path: case + padding + runs + non-space whitespace
    assert(norm("\t  Hello   WORLD \r\n") == "hello world")
    assert(norm("AB\fC") == "a b c")
    // NFC: decomposed e + combining acute composes, then lowercases, and
    // the composed form is byte-identical to the precomposed input's output
    assert(norm("CAFÉ") == norm("CAFÉ") && norm("CAFÉ") == "café")
    // multibyte path also collapses whitespace and casefolds non-ASCII
    assert(norm("  ÉTÉ   d'hiver ") == "été d'hiver")
    // idempotence on every path
    Seq("\t MiXeD  caSE \n", "CAFÉ  x", "plain").foreach { s =>
      assert(norm(norm(s)) == norm(s), s"not idempotent on $s")
    }
    // whitespace-only and empty inputs normalize to the empty string
    assert(norm("   \t\n") == "" && norm("") == "")
    // PIN a known JDK-vs-utf8proc divergent mapping (TextKernels header
    // doc): U+0130 İ lowercases to "i" + U+0307 combining dot above under
    // Locale.ROOT, while DuckDB's utf8proc lower() yields plain "i". The
    // fixtures never contain U+0130 — this pin exists so any future oracle
    // alphabet extension trips HERE, with the divergence named, rather than
    // as an unexplained hash mismatch in the driver compare.
    assert(norm("\u0130") == "i\u0307")
  }

  test("intersectCountSorted counts merge intersections; fast path and fallback agree") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Long*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    val cases = Seq(
      (Seq(1L, 3L, 5L, 7L), Seq(3L, 5L, 9L), 2L),
      (Seq(2L, 4L, 6L), Seq(2L, 4L, 6L), 3L),
      (Seq(1L, 2L), Seq(3L, 4L), 0L),
      (Seq(-9L, -1L, 4L), Seq(-1L, 4L, 8L), 2L),
      (Seq.empty[Long], Seq(1L), 0L))
    cases.foreach { case (a, b, want) =>
      assert(HashKernels.intersectCountSorted(arr(a: _*), arr(b: _*)) == want)
      assert(HashKernels.intersectCountSorted(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray)) == want)
      assert(want == a.toSet.intersect(b.toSet).size.toLong)
    }
  }

  test("minWindowFp is invariant under suffix append when window min survives") {
    val base = "abcdefghijklmnopqrstuvwxyz0123456789abcdefghijklmnop"
    val fpBase = HashKernels.minWindowFp(u(base), 16)
    // appending bytes can only add new windows — min can only stay or drop
    val fpMore = HashKernels.minWindowFp(u(base + "zz"), 16)
    assert(fpMore <= fpBase)
    // short string degenerates to whole-string fingerprint
    assert(HashKernels.minWindowFp(u("short"), 16) ==
      HashKernels.fingerprint64(u("short")))
  }
}
