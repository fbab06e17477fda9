package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Char-polynomial hashing kernels, called from generated code — the native
  * form of the house `(a * 131 + codepoint) % (2^31 - 1)` digest family that
  * q216/q229/q283/q287/q290/q291/q292/q299 previously spelled as interpreted
  * HOF chains (`aggregate(filter(split(...)))`). Higher-order functions are
  * CodegenFallback — per-element interpreted evaluation with a boxed
  * single-char string per input character — which made the per-char digest
  * the dominant per-row cost in the span/dedup family (the l2sq_long
  * precedent, r21 optimization round). Each kernel computes the IDENTICAL
  * arithmetic (same fold, same mod, same guards) in one primitive JVM loop;
  * the DuckDB oracles are untouched and keep adjudicating the values.
  *
  * Codepoint semantics match the HOF form exactly: Spark's
  * `split(s, '')`/`ascii(c)` pipeline yields the sequence of Unicode code
  * points (Spark's Ascii takes the first codepoint of its input), and the
  * oracles use DuckDB `unicode(text[i])` — also codepoints. These kernels
  * read codepoints through `Spans.codepoints`/`Spans.cp`: on ASCII input
  * (the fixture corpus alphabet) that is the bytes themselves, with no
  * allocation.
  */
object PolyKernels {

  private val P = 2147483647L // 2^31 - 1, the house digest modulus

  /** Whole-string char-polynomial digest:
    * fold codepoints cp of s: a = (a * 131 + cp) % P, from a = 0.
    * Identical to `aggregate(filter(split(s, ''), ch -> ch != ''), 0L,
    * (a, c) -> (a * 131 + ascii(c)) % 2147483647)`.
    */
  def charPoly(s: UTF8String): Long = fold(s, 0L, 131L, P)

  /** a = (a * mul + cp) % mod over the codepoints cp of s, from `start`:
    * the digest of [[charPoly]] (×131 mod P) and of [[clsScore]]'s features
    * (×31 mod 4096). On ASCII input it reads the bytes and allocates nothing.
    */
  private def fold(s: UTF8String, start: Long, mul: Long, mod: Long): Long = {
    val bytes = s.getBytes
    val cps = Spans.codepoints(s, bytes)
    foldRange(bytes, cps, 0, Spans.cpCount(bytes, cps), start, mul, mod)
  }

  /** [[fold]] over codepoints [from, until), given the `Spans.codepoints`
    * result `cps`.
    */
  private def foldRange(bytes: Array[Byte], cps: Array[Int], from: Int, until: Int,
      start: Long, mul: Long, mod: Long): Long = {
    var a = start
    var i = from
    while (i < until) {
      a = (a * mul + Spans.cp(bytes, cps, i)) % mod
      i += 1
    }
    a
  }

  /** Char-poly digest per single-space-separated token, EMPTY TOKENS KEPT
    * (hash 0) — identical to
    * `transform(split(text, ' '), w -> charPoly(w))` with Spark's split
    * limit -1 semantics: consecutive/leading/trailing spaces produce empty
    * tokens, and an empty token folds to 0L.
    */
  def tokenPolys(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val cps = Spans.codepoints(s, bytes)
    val n = Spans.cpCount(bytes, cps)
    // token count = spaces + 1 (split limit -1 keeps trailing empties)
    var nTok = 1
    var i = 0
    while (i < n) { if (Spans.cp(bytes, cps, i) == ' ') nTok += 1; i += 1 }
    val out = new Array[Long](nTok)
    var j = 0
    var a = 0L
    i = 0
    while (i < n) {
      val c = Spans.cp(bytes, cps, i)
      if (c == ' ') { out(j) = a; j += 1; a = 0L }
      else a = (a * 131L + c) % P
      i += 1
    }
    out(j) = a
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Sliding L-window char-poly fold over a long array, each window hash
    * emitted as `fold * scale + offset`. Identical to
    * `if(size(th) >= L, transform(sequence(1, size(th) - L + 1), i ->
    *   aggregate(slice(th, i, L), 0L, (a, c) -> (a * 131 + c) % P)
    *   * scale + offset), array())`.
    * scale=1, offset=0 is the plain q216 gram hash; q292 packs its ladder
    * key with scale=64, offset=L.
    */
  def polySlide(th: ArrayData, l: Int, scale: Long, offset: Long): ArrayData = {
    val n = th.numElements()
    if (n < l) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val arr = th.toLongArray()
    val out = new Array[Long](n - l + 1)
    var i = 0
    while (i <= n - l) {
      var a = 0L
      var k = 0
      while (k < l) {
        a = (a * 131L + arr(i + k)) % P
        k += 1
      }
      out(i) = a * scale + offset
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Non-overlapping `width`-block char-poly folds over a long array —
    * identical to `if(n div width >= 1, transform(sequence(1L, n div width),
    * i -> aggregate(slice(th, (i-1)*width+1, width), 0L,
    * (a, c) -> (a * 131 + c) % P)), array())` (the q283 BhArrExpr).
    */
  def polyBlocks(th: ArrayData, width: Int): ArrayData = {
    val n = th.numElements()
    val nblk = n / width
    if (nblk < 1) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val arr = th.toLongArray()
    val out = new Array[Long](nblk)
    var b = 0
    while (b < nblk) {
      var a = 0L
      var k = b * width
      val end = k + width
      while (k < end) {
        a = (a * 131L + arr(k)) % P
        k += 1
      }
      out(b) = a
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Hashed unigram+bigram linear classifier score (the q194 model):
    * Σ over features f of ((fold31(f) * 2654435761) % 2003) - 1001, where
    * the features are every token of `u` followed by every adjacent bigram
    * `concat(a, ' ', b)`, and fold31 folds codepoints as
    * (a * 31 + cp) % 4096 from 0. Identical to the former nested-aggregate
    * HOF over `concat(u, zip_with(slice(u, 1, n-1), slice(u, 2, n-1),
    * (a, b) -> concat(a, ' ', b)))`; the bigram fold chains the unigram
    * fold through the space instead of materializing bigram strings.
    */
  def clsScore(u: ArrayData): Long = {
    val n = u.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val t = u.getUTF8String(i)
      val h = fold(t, 0L, 31L, 4096L)
      acc += (h * 2654435761L) % 2003L - 1001L
      if (i + 1 < n) {
        val hb = fold(u.getUTF8String(i + 1), (h * 31L + 32L) % 4096L, 31L, 4096L)
        acc += (hb * 2654435761L) % 2003L - 1001L
      }
      i += 1
    }
    acc
  }

  /** Content-defined chunking (the q229 cut rule) in one native pass:
    * cut after codepoint position i (1-based, i >= 16) when the 16-char
    * rolling char-poly hash ending at i is ≡ 0 (mod 64); per chunk emit
    * (clen, chash) with chash = (charPolyOfChunk * 131 + clen) % P.
    * Identical output to the HOF pipeline in Dedup.cdcChunks (which folds
    * the same 16-codepoint window at every position and the same per-chunk
    * hash over codepoint slices). Empty input yields no chunks (callers
    * filter length > 0 first, matching the HOF form's filter).
    *
    * Returns array<struct<clen: long, chash: long>>.
    */
  def cdcChunks(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val cps = Spans.codepoints(s, bytes)
    val n = Spans.cpCount(bytes, cps)
    if (n == 0)
      return new GenericArrayData(Array.empty[Any])
    // cut positions (1-based end-exclusive boundaries), matching
    // `filter(transform(sequence(16, greatest(n,16)), i -> if(i <= n and
    //   fold16(i) % 64 = 0, i, -1)), x -> x != -1)`
    val cuts = new Array[Int](math.max(n - 15, 0))
    var nCuts = 0
    var i = 16
    while (i <= n) {
      if (foldRange(bytes, cps, i - 16, i, 0L, 131L, P) % 64L == 0L) {
        cuts(nCuts) = i
        nCuts += 1
      }
      i += 1
    }
    // spans: starts = 0 :: cuts, ends = cuts :: n; keep en > st
    val rows = new java.util.ArrayList[InternalRow](nCuts + 1)
    var st = 0
    var ci = 0
    while (ci <= nCuts) {
      val en = if (ci < nCuts) cuts(ci) else n
      if (en > st) {
        val clen = (en - st).toLong
        val chash = (foldRange(bytes, cps, st, en, 0L, 131L, P) * 131L + clen) % P
        rows.add(new GenericInternalRow(Array[Any](clen, chash)))
      }
      st = en
      ci += 1
    }
    new GenericArrayData(rows.toArray(new Array[InternalRow](rows.size)))
  }
}
