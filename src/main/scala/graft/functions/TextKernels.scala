package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Text-normalization kernel called from generated code — the missing first
  * stage of a real corpus pipeline: every tokenizer/shingler in this repo
  * splits on single spaces and assumes case-folded text, which holds on the
  * pre-cleaned fixtures but not on raw crawled corpora. `normalize_text`
  * makes that precondition enforceable: Unicode NFC composition, then
  * locale-independent lowercasing, then whitespace canonicalization
  * (runs of [space \t \n  \f \r] collapse to one space; leading/
  * trailing whitespace drops).
  *
  * The NFC → lowercase → collapse order matches the DuckDB oracle
  * formulation `trim(regexp_replace(lower(nfc_normalize(x)), '[ \t\n\r]+',
  * ' ', 'g'))` operation-for-operation — both sides implement the same
  * Unicode algorithms (JDK `java.text.Normalizer` / utf8proc), so the
  * oracle comparison is exact on the fixture alphabet. The lowercase
  * steps are NOT identical on all of Unicode: JDK
  * `toLowerCase(Locale.ROOT)` and utf8proc `lower()` diverge on
  * expanding / context-sensitive mappings — known code points: U+0130 İ
  * (JDK → "i̇" i + combining dot, utf8proc → "i"), U+00DF ß and U+03A3 Σ
  * final-sigma handling. None appear in the fixtures; the suite pins the
  * JDK behavior for U+0130 so extending the oracle alphabet past ASCII+
  * Latin-1 fails loudly there instead of as a silent hash mismatch.
  *
  * ASCII fast path: one byte scan classifies the input; text that is
  * already normalized (no multibyte sequences, no uppercase ASCII, no
  * leading/trailing/consecutive/non-space whitespace) returns the input
  * UTF8String UNCHANGED — zero allocation. ASCII text needing only
  * case/whitespace work is fixed in byte space (NFC is the identity on
  * ASCII) with a single output allocation. Only genuinely multibyte text
  * pays for the JDK Normalizer round-trip. On a mostly-clean 100 TB English
  * corpus the hot path is therefore a read-only byte scan per document.
  */
object TextKernels {

  private def isAsciiWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Full (non-ASCII) path: JDK NFC, then ROOT-locale lowercase, then
    * whitespace collapse over the resulting chars.
    */
  private def normalizeGeneral(s: String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val lower = nfc.toLowerCase(java.util.Locale.ROOT)
    val n = lower.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var emitted = false
    var i = 0
    while (i < n) {
      val c = lower.charAt(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\u000b' ||
        c == '\f' || c == '\r'
      if (ws) { if (emitted) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        emitted = true
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def normalizeText(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    // classify in one read-only pass
    var hasNonAscii = false
    var hasUpper = false
    var badWs = false
    var prevWs = false
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0x80) != 0) hasNonAscii = true
      else if (b >= 'A' && b <= 'Z') hasUpper = true
      val ws = isAsciiWs(b)
      if (ws && (b != ' ' || prevWs || i == 0 || i == n - 1)) badWs = true
      prevWs = ws
      i += 1
    }
    if (hasNonAscii) return normalizeGeneral(s.toString)
    if (!hasUpper && !badWs) return s // already normalized: zero-copy
    // ASCII repair in byte space (NFC is the identity on ASCII)
    val out = new Array[Byte](n)
    var k = 0
    var pendingSpace = false
    var emitted = false
    i = 0
    while (i < n) {
      val b = bytes(i)
      if (isAsciiWs(b)) { if (emitted) pendingSpace = true }
      else {
        if (pendingSpace) { out(k) = ' '; k += 1; pendingSpace = false }
        out(k) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
        k += 1
        emitted = true
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, k))
  }

  // ---- adjacent-bigram + run-length kernels (r22) ----
  // Native forms of the bigram HOF family:
  //   zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1), <combine>)
  // over t = split(text, ' ') (limit -1, EMPTY TOKENS KEPT, no filter) —
  // every adjacent pair, duplicates preserved. Because the separator is
  // exactly one space, pair i equals the contiguous byte span from the
  // start of token i to the end of token i+1, so no token array and no
  // per-pair concat materialize. PolyKernelsSuite pins each against the
  // original HOF on adversarial inputs + the fixture corpus.

  /** Adjacent-token bigram STRINGS "a b" — identical to the zip_with form
    * with `(a, b) -> concat(a, ' ', b)`.
    */
  def tokenBigrams(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val b = Spans.splitBounds(bytes)
    val nBg = b.length - 2
    val out = new Array[Any](nBg)
    var i = 0
    while (i < nBg) {
      out(i) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, b(i) + 1, b(i + 2)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Adjacent-token bigram STRUCTS (a, b) — identical to the zip_with form
    * with `(a, b) -> struct(a, b)`.
    */
  def tokenBigramStructs(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val b = Spans.splitBounds(bytes)
    val nBg = b.length - 2
    val out = new Array[Any](nBg)
    var i = 0
    while (i < nBg) {
      val x = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, b(i) + 1, b(i + 1)))
      val y = UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, b(i + 1) + 1, b(i + 2)))
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](x, y))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Longest equal-value run over the SORTED copy of a string array —
    * identical to the repetitionCounts/scoredLabeledDocs maxRun HOF:
    * `aggregate(array_sort(arr), struct(null, 0L, 0L), (acc, x) -> ...,
    * acc -> acc.best)` for non-null string elements (split output never
    * contains nulls; array_sort's string order is binary UTF8 order,
    * which UTF8String.compareTo implements). Empty input folds to 0.
    */
  def maxSortedRun(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val a = new Array[UTF8String](n)
    var i = 0
    while (i < n) { a(i) = arr.getUTF8String(i); i += 1 }
    java.util.Arrays.sort(a, (x: UTF8String, y: UTF8String) => x.compareTo(y))
    var best = 1L
    var run = 1L
    i = 1
    while (i < n) {
      if (a(i).equals(a(i - 1))) run += 1 else run = 1L
      if (run > best) best = run
      i += 1
    }
    best
  }
}
