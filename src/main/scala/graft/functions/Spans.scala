package graft.functions

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The scans the text, hash and polynomial kernels share, so that each
  * exists once: token bounds over UTF-8 bytes (single-space split, words,
  * the BPE double-space split), codepoint offsets and windows, the ASCII
  * test and codepoint access behind the folds, Spark's seed-42 XXH64 of a
  * byte span, and the sorted-merge intersection count.
  *
  * They keep the kernels' hot-loop rules: primitive arrays and no boxing;
  * no closure or `Function` argument inside a per-element loop; the merge
  * over `UnsafeArrayData` typed to that concrete class; nothing allocated
  * on an ASCII input beyond what the caller returns. An array a scan fills
  * is sized by a count pass over the same bytes first, never grown.
  */
private[functions] object Spans {

  /** True iff no byte has its high bit set, so each byte is one codepoint. */
  def isAscii(bytes: Array[Byte]): Boolean = {
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) return false
      i += 1
    }
    true
  }

  /** The codepoints of `s` (whose bytes are `bytes`), or null when the bytes
    * are ASCII and [[cp]] reads them directly. Malformed UTF-8 decodes as
    * `s.toString` does, one U+FFFD per malformed sequence — the codepoints
    * Spark's `split(s, '')`/`ascii(c)` pipeline sees.
    */
  def codepoints(s: UTF8String, bytes: Array[Byte]): Array[Int] =
    if (isAscii(bytes)) null else s.toString.codePoints().toArray

  /** Number of codepoints, given the [[codepoints]] result `cps`. */
  @inline def cpCount(bytes: Array[Byte], cps: Array[Int]): Int =
    if (cps == null) bytes.length else cps.length

  /** Codepoint i, given the [[codepoints]] result `cps`. */
  @inline def cp(bytes: Array[Byte], cps: Array[Int], i: Int): Int =
    if (cps == null) bytes(i) & 0xff else cps(i)

  /** Token bounds of Spark's `split(s, ' ')` with limit -1 (leading,
    * trailing and repeated spaces give empty tokens): b(0) = -1, b(t) is the
    * offset of the t-th space and b(nTok) = bytes.length, so the array has
    * nTok + 1 entries. Token t is the byte span [b(t) + 1, b(t + 1)), and
    * tokens t until u joined by their single spaces are the one contiguous
    * span [b(t) + 1, b(u)): no token or joined string need materialize.
    */
  def splitBounds(bytes: Array[Byte]): Array[Int] = {
    val n = bytes.length
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val b = new Array[Int](spaces + 2)
    b(0) = -1
    var t = 1
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { b(t) = i; t += 1 }
      i += 1
    }
    b(t) = n
    b
  }

  /** Non-empty single-space-separated tokens (runs of spaces skipped) as
    * (startOffsets, endOffsets) into the bytes.
    */
  def wordSpans(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
    val n = bytes.length
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        nTok += 1
        while (i < n && bytes(i) != ' ') i += 1
      }
    }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var j = 0
    i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        starts(j) = i
        while (i < n && bytes(i) != ' ') i += 1
        ends(j) = i
        j += 1
      }
    }
    (starts, ends)
  }

  /** The non-empty tokens of `filter(split(trim(s), "  "), t -> t != '')`:
    * `trim` drops ASCII 0x20 only, and the split takes leftmost
    * non-overlapping double spaces (limit -1), so a token may keep a single
    * space ("a   b" → "a", " b"). Returns the token count; when `starts` is
    * not null, also writes token k's byte span [starts(k), ends(k)). Space
    * bytes never occur inside a multibyte UTF-8 sequence, so the scan is
    * byte-level.
    */
  def dsTokens(bytes: Array[Byte], starts: Array[Int], ends: Array[Int]): Int = {
    var st = 0
    var en = bytes.length
    while (st < en && bytes(st) == ' ') st += 1
    while (en > st && bytes(en - 1) == ' ') en -= 1
    var k = 0
    var tokStart = st
    var i = st
    while (i <= en) {
      if (i == en || (bytes(i) == ' ' && i + 1 < en && bytes(i + 1) == ' ')) {
        if (i > tokStart) {
          if (starts != null) { starts(k) = tokStart; ends(k) = i }
          k += 1
        }
        i += 2
        tokStart = i
      } else i += 1
    }
    k
  }

  /** Byte start offsets of UTF-8 codepoints: a byte begins a codepoint iff
    * it is not a continuation byte (10xxxxxx). Two primitive passes (count,
    * then fill) — no growable buffer, no boxing: this runs per row in the
    * q55 hot kernel, and a boxed `ArrayBuffer[Int]` append per input byte
    * was a measured 2.4× `graft.Bench` regression (BENCH_r08 q55 36.9 s vs
    * the 15.1 s anchor). Returns null when there is no continuation byte
    * (every byte is a start), so callers skip the offsets entirely.
    */
  def codepointStarts(bytes: Array[Byte]): Array[Int] = {
    val n = bytes.length
    var cont = 0
    var i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) == 0x80) cont += 1
      i += 1
    }
    if (cont == 0) return null
    val starts = new Array[Int](n - cont)
    var j = 0
    i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(j) = i; j += 1 }
      i += 1
    }
    starts
  }

  /** Start offset of the window of codepoints beginning at codepoint t, for
    * `nc` codepoints with [[codepointStarts]] `starts`; 0 when there is no
    * codepoint, so the one window of such input is all of its bytes.
    */
  @inline def windowFrom(starts: Array[Int], nc: Int, t: Int): Int =
    if (nc == 0) 0 else if (starts == null) t else starts(t)

  /** End offset (exclusive) of the window of `n` codepoints beginning at
    * codepoint t: the start of codepoint t + n, or the end of the bytes when
    * the window reaches past the last codepoint.
    */
  @inline def windowUntil(bytes: Array[Byte], starts: Array[Int], nc: Int, t: Int, n: Int): Int =
    if (t + n >= nc) bytes.length else if (starts == null) t + n else starts(t + n)

  /** Spark's `xxhash64` (XXH64, seed 42) of the byte span [from, until):
    * the value `xxhash64` gives the string that span spells.
    */
  def xxh64(bytes: Array[Byte], from: Int, until: Int): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from, until - from, 42L)

  /** Size of the intersection of two strictly ascending duplicate-free
    * arrays, by one merge pass. `getLong` on the concrete `UnsafeArrayData`
    * class is devirtualized, so this is one inlined primitive loop with no
    * copy — the shape the post-shuffle confirm joins need.
    */
  def intersectCount(a: UnsafeArrayData, b: UnsafeArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** [[intersectCount]] over primitive arrays. */
  def intersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }
}
