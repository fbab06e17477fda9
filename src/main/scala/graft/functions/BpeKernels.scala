package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the BPE double-space serialization (" tok  tok  tok "),
  * called from generated code — the r22 counterpart of [[PolyKernels]] for
  * the tokenizer-learn family (q83/q282/q288/q289/q297/q304). The learn loop
  * and every encode rollup previously spelled their token/pair extraction as
  * interpreted HOF chains (`filter(split(trim(s), "  "))` + `zip_with(slice,
  * slice)` + `aggregate(marr, s, replace)` — all CodegenFallback, evaluated
  * per element with boxed intermediate arrays), which profiling showed to be
  * the dominant per-row cost of the BPE family at sf0.1 (q297 7.4 s). Each
  * kernel computes the IDENTICAL value (same split/trim/filter semantics,
  * same replace order) in one primitive JVM pass; the DuckDB oracles are
  * untouched and keep adjudicating the values, and BpeKernelsSuite pins each
  * kernel against the original HOF expression on adversarial inputs.
  *
  * Split semantics replicated exactly: Spark's `split(s, "  ")` is
  * java.util.regex split with limit -1 — non-overlapping leftmost matches of
  * the two-space pattern, trailing empty tokens kept. `trim` removes ASCII
  * 0x20 only (UTF8String.trim). Tokens may legitimately contain SINGLE
  * spaces after an uneven split (e.g. "a   b" → ["a", " b"]), so token
  * boundaries must come from the scan, not from space runs. All separator
  * scanning is byte-level: multi-byte UTF-8 sequences never contain 0x20.
  */
object BpeKernels {

  /** Count of non-empty double-space-separated tokens:
    * `size(filter(split(trim(s), "  "), t -> t != ''))` as a long.
    */
  def dsTokenCount(s: UTF8String): Long = Spans.dsTokens(s.getBytes, null, null).toLong

  /** Adjacent-token pairs "x y" over the non-empty double-space-separated
    * tokens — identical to the learn loop's
    * `zip_with(slice(toks, 1, n1), slice(toks, 2, n1),
    *   (a, b) -> concat(a, ' ', b))`
    * with `toks = filter(split(trim(s), "  "), t -> t != '')` and
    * `n1 = greatest(size(toks) - 1, 0)`.
    */
  def dsPairs(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nTok = Spans.dsTokens(bytes, null, null)
    if (nTok < 2) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    Spans.dsTokens(bytes, starts, ends)
    val out = new Array[Any](nTok - 1)
    var k = 0
    while (k < nTok - 1) {
      val l1 = ends(k) - starts(k)
      val l2 = ends(k + 1) - starts(k + 1)
      val buf = new Array[Byte](l1 + 1 + l2)
      System.arraycopy(bytes, starts(k), buf, 0, l1)
      buf(l1) = ' '
      System.arraycopy(bytes, starts(k + 1), buf, l1 + 1, l2)
      out(k) = UTF8String.fromBytes(buf)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** The q297 byte serialization from a hex string — identical to
    * `concat(' ', concat_ws('  ', regexp_extract_all(h, '..', 0)), ' ')`.
    * The call sites only ever feed `hex(...)` output (ASCII, even length);
    * for fidelity on arbitrary input the kernel mirrors the regex exactly:
    * `.` matches one code point except line terminators (LF, CR, NEL
    * U+0085, LS U+2028, PS U+2029), matches are leftmost non-overlapping.
    */
  def dsFromHex(h: UTF8String): UTF8String = {
    val bytes = h.getBytes
    val n = bytes.length
    if (Spans.isAscii(bytes)) {
      // fast path: no line terminators (the hex alphabet) -> simple pairing
      var clean = true
      var i = 0
      while (i < n && clean) {
        if (bytes(i) == '\n' || bytes(i) == '\r') clean = false
        i += 1
      }
      if (clean) {
        val n2 = n / 2
        if (n2 == 0) return UTF8String.fromString("  ")
        val out = new Array[Byte](2 + n2 * 2 + (n2 - 1) * 2)
        out(0) = ' '
        var p = 1
        i = 0
        while (i < n2) {
          if (i > 0) { out(p) = ' '; out(p + 1) = ' '; p += 2 }
          out(p) = bytes(2 * i)
          out(p + 1) = bytes(2 * i + 1)
          p += 2
          i += 1
        }
        out(p) = ' '
        return UTF8String.fromBytes(out)
      }
    }
    // general path: replicate the regex scan over code points
    val str = h.toString
    def isLT(cp: Int): Boolean =
      cp == '\n' || cp == '\r' || cp == 0x85 || cp == 0x2028 || cp == 0x2029
    val sb = new java.lang.StringBuilder(str.length * 3 + 2)
    sb.append(' ')
    var first = true
    var j = 0
    while (j < str.length) {
      val c1 = str.codePointAt(j)
      val w1 = Character.charCount(c1)
      if (!isLT(c1) && j + w1 < str.length) {
        val c2 = str.codePointAt(j + w1)
        if (!isLT(c2)) {
          if (!first) sb.append("  ")
          first = false
          sb.appendCodePoint(c1).appendCodePoint(c2)
          j += w1 + Character.charCount(c2)
        } else j += w1
      } else j += w1
    }
    sb.append(' ')
    UTF8String.fromString(sb.toString)
  }

  /** Fold-apply an ordered merge array — identical to
    * `aggregate(marr, s, (acc, m) -> replace(acc,
    *   concat(' ', m.x, '  ', m.y, ' '), concat(' ', m.x, m.y, ' ')))`
    * over `marr: array<struct<x, y>>`, including the HOF's null
    * propagation (a null merge element or field nulls the accumulator and
    * therefore the result).
    */
  def bpeApplyMerges(s: UTF8String, marr: ArrayData): UTF8String = {
    val sp = UTF8String.fromString(" ")
    val sp2 = UTF8String.fromString("  ")
    var cur = s
    val n = marr.numElements()
    var i = 0
    while (i < n) {
      if (marr.isNullAt(i)) return null
      val m = marr.getStruct(i, 2)
      if (m.isNullAt(0) || m.isNullAt(1)) return null
      val x = m.getUTF8String(0)
      val y = m.getUTF8String(1)
      val search = UTF8String.concat(sp, x, sp2, y, sp)
      val repl = UTF8String.concat(sp, x, y, sp)
      cur = cur.replace(search, repl)
      i += 1
    }
    cur
  }
}
