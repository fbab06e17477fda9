package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Text-hashing kernels for dedup/fingerprinting, called from generated code.
  *
  * All hashes are defined here from first principles (FNV-1a + splitmix64
  * finalizer) so results are deterministic, engine-independent, and need no
  * external libs. The reference engine has no hashing surface beyond
  * `std::hash(key) % R` partition routing (/root/reference/src/mr_tasks.h:44);
  * these kernels are the north-star LLM-pipeline extension (SURVEY.md §2.3).
  */
object HashKernels {

  /** splitmix64 finalizer — good avalanche, cheap, public-domain algorithm. */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** FNV-1a 64 over a byte range, then splitmix64 to fix FNV's weak low bits. */
  def hashBytes(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    splitmix64(h)
  }

  /** Tokenize on single spaces without regex; skips empty tokens.
    * Returns (startOffsets, endOffsets) into the byte array. Two primitive
    * passes (count tokens, then fill fixed-size arrays) — same no-boxing
    * rule as [[codepointStarts]]: this runs per row inside the minhash /
    * simhash hot kernels.
    */
  private def tokenSpans(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
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

  /** 64-bit SimHash over space-separated tokens: each token votes its hash's
    * bits up/down; the sign of each bit's tally forms the signature. Documents
    * with similar token multisets land at small Hamming distance.
    */
  def simhash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    val (starts, ends) = tokenSpans(bytes)
    val tally = new Array[Int](64)
    var t = 0
    while (t < starts.length) {
      val h = hashBytes(bytes, starts(t), ends(t))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (tally(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def hammingDist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Hash of the `shingle` consecutive tokens starting at token t. */
  private def shingleHash(
      bytes: Array[Byte],
      starts: Array[Int],
      ends: Array[Int],
      t: Int,
      shingle: Int): Long = {
    // hash the byte span from start of token t to end of token t+shingle-1;
    // single spaces between tokens are included, which is fine (determinism
    // is the contract, and spans are contiguous in this corpus).
    hashBytes(bytes, starts(t), ends(math.min(t + shingle - 1, ends.length - 1)))
  }

  /** Per-JVM cache of the k (a_i, b_i) permutation coefficients — derivation
    * is deterministic, so caching only removes the 2k splitmix64 calls per
    * shingle per row.
    */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def permCoeffs(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, { kk =>
      (Array.tabulate(kk)(i => splitmix64(2L * i + 1) | 1L), // odd multipliers
       Array.tabulate(kk)(i => splitmix64(0x5eed0000L + i)))
    })

  /** MinHash signature (k permutations) over `shingle`-token shingles.
    * Permutation i is the affine rehash `a_i*h + b_i` with splitmix64-derived
    * odd multipliers — the standard cheap family for MinHash.
    */
  def minhashSig(s: UTF8String, k: Int, shingle: Int): Array[Long] = {
    val bytes = s.getBytes
    val (starts, ends) = tokenSpans(bytes)
    val nShingles = math.max(1, starts.length - shingle + 1)
    val (pa, pb) = permCoeffs(k)
    val sig = Array.fill(k)(Long.MaxValue)
    var t = 0
    while (t < nShingles) {
      val h =
        if (starts.isEmpty) hashBytes(bytes, 0, bytes.length)
        else shingleHash(bytes, starts, ends, t, shingle)
      var i = 0
      while (i < k) {
        val p = pa(i) * h + pb(i)
        if (p < sig(i)) sig(i) = p
        i += 1
      }
      t += 1
    }
    sig
  }

  def minhashArray(s: UTF8String, k: Int, shingle: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(minhashSig(s, k, shingle))

  /** Byte start offsets of UTF-8 codepoints: a byte begins a codepoint iff
    * it is not a continuation byte (10xxxxxx). Two primitive passes (count,
    * then fill) — no growable buffer, no boxing: this runs per row in the
    * q55 hot kernel, and a boxed `ArrayBuffer[Int]` append per input byte
    * was a measured 2.4× driver-bench regression (BENCH_r08 q55 36.9 s vs
    * the 15.1 s anchor). Returns null for pure-ASCII input so the caller
    * can skip the offsets entirely (every byte is a start).
    */
  private def codepointStarts(bytes: Array[Byte]): Array[Int] = {
    val n = bytes.length
    var cont = 0
    var i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) == 0x80) cont += 1
      i += 1
    }
    if (cont == 0) return null // ASCII / single-byte: starts(i) == i
    val starts = new Array[Int](n - cont)
    var j = 0
    i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(j) = i; j += 1 }
      i += 1
    }
    starts
  }

  /** MinHash signature over character n-grams instead of token shingles —
    * the similarity measure behind char-n-gram Jaccard (q55). Windows are
    * n UTF-8 CODEPOINTS (hashed over their byte span), never splitting a
    * multibyte character, so the signature estimates the same
    * character-trigram Jaccard the confirm step computes with `substr` on
    * any text — on single-byte encodings this is exactly the byte-window
    * measure. Duplicate windows collapse under min, so this is set
    * semantics, matching `array_distinct` of the substring n-grams.
    *
    * ASCII fast path: when the input has no UTF-8 continuation bytes
    * (`codepointStarts` returns null), window offsets are the byte offsets
    * themselves and the loop runs with zero per-call allocation beyond the
    * signature array — identical output to the general path by definition.
    */
  def minhashSigChars(s: UTF8String, k: Int, n: Int): Array[Long] = {
    val bytes = s.getBytes
    val starts = codepointStarts(bytes)
    val nc = if (starts == null) bytes.length else starts.length
    val (pa, pb) = permCoeffs(k)
    val sig = Array.fill(k)(Long.MaxValue)
    val nGrams = math.max(1, nc - n + 1)
    var t = 0
    while (t < nGrams) {
      val from = if (nc == 0) 0 else if (starts == null) t else starts(t)
      val until =
        if (t + n >= nc) bytes.length
        else if (starts == null) t + n
        else starts(t + n)
      val h = hashBytes(bytes, from, until)
      var i = 0
      while (i < k) {
        val p = pa(i) * h + pb(i)
        if (p < sig(i)) sig(i) = p
        i += 1
      }
      t += 1
    }
    sig
  }

  def minhashCharsArray(s: UTF8String, k: Int, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(minhashSigChars(s, k, n))

  /** LSH band keys from a MinHash signature: k/r bands of r rows each; band
    * key = hash(band values ++ band index). Jaccard-similar docs share at
    * least one band key w.h.p. — the scale path replacing the O(N²) cross
    * join with an equi-join shuffle on a long key.
    */
  def minhashBands(s: UTF8String, k: Int, shingle: Int, r: Int): ArrayData =
    bandKeys(minhashSig(s, k, shingle), r)

  /** Band keys from an ALREADY-COMPUTED signature array — lets a plan that
    * needs both the signature and its bands hash the text once
    * (`bands_from_sig(sig, r)` over the `minhash_sig` column) instead of
    * re-shingling per expression.
    */
  def bandsFromSig(sig: ArrayData, r: Int): ArrayData =
    bandKeys(sig.toLongArray(), r)

  private def bandKeys(sig: Array[Long], r: Int): ArrayData = {
    val nBands = sig.length / r
    val keys = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var h = 0xcbf29ce484222325L ^ b.toLong
      var j = 0
      while (j < r) {
        h = splitmix64(h ^ sig(b * r + j))
        j += 1
      }
      keys(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  /** Polynomial rolling fingerprint of the whole string (Rabin-Karp style):
    * h = h*B + byte, mod 2^64 (natural overflow), then splitmix64-finalized.
    * Position-sensitive, unlike the token-set hashes above.
    */
  def fingerprint64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      i += 1
    }
    splitmix64(h)
  }

  /** The merge itself, over primitive arrays: one monomorphic loop the JIT
    * always inlines and unrolls — no `ArrayData.getLong` virtual dispatch in
    * the loop body. All kernels funnel through the SAME static HashKernels
    * methods from every generated plan, so a per-element `ArrayData` accessor
    * call site accumulates receiver types from every query in the JVM
    * (UnsafeArrayData post-shuffle, GenericArrayData from fresh
    * `array_sort`/`transform` output, ColumnarArray straight off vectorized
    * parquet) and goes MEGAMORPHIC — whether the JIT's early profile window
    * happens to be monomorphic decides between an inlined loop and a
    * virtual-dispatch-per-element one, which is run-to-run bimodal. Copying
    * once per call via the specialized bulk `toLongArray` (Platform.copyMemory
    * on unsafe rows) then merging primitives is profile-independent.
    */
  private def mergeJaccard(a: Array[Long], b: Array[Long]): Double = {
    val na = a.length
    val nb = b.length
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a(i)
      val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** Copy-free merge over the CONCRETE `UnsafeArrayData` class — the
    * dominant case in every confirm join, whose inputs arrive off a shuffle
    * as unsafe rows. `getLong` on a statically-typed `UnsafeArrayData`
    * receiver is a concrete-class call (devirtualized by CHA, unlike the
    * megamorphic `ArrayData` accessor [[mergeJaccard]]'s doc describes), so
    * this runs one inlined primitive loop with ZERO per-pair allocation —
    * the r10 `toLongArray`-per-call form allocated two multi-KB long arrays
    * per candidate pair × millions of pairs, and q36/q55/q76 regressed
    * 1.5-5× for it.
    */
  private def mergeJaccardUnsafe(a: UnsafeArrayData, b: UnsafeArrayData): Double = {
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
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** UNCHECKED internal entry point — exact Jaccard over two strictly-
    * ascending duplicate-free long arrays, no precondition verification.
    * For ENGINE-CONSTRUCTED inputs only: every internal confirm
    * (Dedup.clusteredNeardup, Dedup.decontaminate) feeds this from
    * `array_sort` over a distinct hash set by plan shape, so re-proving
    * sortedness per pair in the single hottest measured loop buys nothing.
    * Deliberately NOT registered in the SQL namespace (unsorted input would
    * return a silently wrong Jaccard) — internal plans construct the
    * `jaccard_sorted_unchecked` row of [[Kernel.specs]] directly via
    * [[GraftColumns.kernel]]; the SQL surface gets the checked
    * [[jaccardSorted]].
    *
    * Dispatch: one `isInstanceOf` test per CALL (bimorphic, JIT-predictable)
    * selects the zero-allocation [[mergeJaccardUnsafe]] when both sides are
    * post-shuffle `UnsafeArrayData` — the always case in the confirm joins —
    * and falls back to bulk-copy + primitive merge for any other ArrayData
    * kind. This replaces `size(array_intersect(a,b)) / (|a|+|b|-inter)` in
    * the near-dup confirm joins: the built-in intersect builds a hash set
    * PER PAIR through generic per-element type dispatch and closure calls —
    * measured as the dominant (and JIT-unstable: 15×+ run-to-run swings at a
    * 90 GB heap) CPU sink of the pair queries at sf0.1. Division follows
    * IEEE double semantics exactly like the Column formulation it replaces.
    */
  def jaccardSortedUnchecked(a: ArrayData, b: ArrayData): Double =
    if (a.isInstanceOf[UnsafeArrayData] && b.isInstanceOf[UnsafeArrayData])
      mergeJaccardUnsafe(
        a.asInstanceOf[UnsafeArrayData],
        b.asInstanceOf[UnsafeArrayData])
    else mergeJaccard(a.toLongArray(), b.toLongArray())

  /** Exact Jaccard over two SORTED long arrays (each strictly ascending —
    * the caller sorts `array_sort(array of 64-bit feature hashes)`).
    *
    * PRECONDITION (also stated at the SQL registration site): each input is
    * sorted ascending with no duplicates, i.e. the caller applies
    * `array_sort` to a set (`array_distinct`-ed or construction-distinct)
    * of feature hashes. This is the PUBLIC SQL registration, where a caller
    * handing it an unsorted array would otherwise get a silently wrong
    * Jaccard — so BOTH inputs are validated IN FULL (every adjacent pair of
    * every element, including tails the merge itself would never visit)
    * before the merge runs; any violation throws. Engine-internal plans,
    * whose inputs are `array_sort`-constructed by shape, call
    * [[jaccardSortedUnchecked]] and skip the validation passes.
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    def validated(side: String, arr: Array[Long]): Array[Long] = {
      var i = 1
      while (i < arr.length) {
        if (arr(i) <= arr(i - 1))
          throw new IllegalArgumentException(
            s"jaccard_sorted: $side array not strictly ascending at index $i " +
              "(inputs must be array_sort of a distinct hash set)")
        i += 1
      }
      arr
    }
    mergeJaccard(
      validated("left", a.toLongArray()),
      validated("right", b.toLongArray()))
  }

  /** Fraction of positions where two equal-length signature arrays agree —
    * the MinHash Jaccard ESTIMATE (matches/k) used by the candidate
    * prefilter, as one primitive loop instead of a per-pair
    * `aggregate(zip_with(...))` lambda chain (same motivation as
    * [[jaccardSortedUnchecked]]: the HOF form was a measured JIT-unstable
    * CPU sink, and the bulk `toLongArray` copy keeps the loop free of
    * megamorphic per-element `ArrayData` dispatch — see [[mergeJaccard]]).
    *
    * Both signatures must have the same k — a mismatched call would
    * otherwise compare garbage positions, and the function is registered in
    * the SQL namespace where callers aren't limited to the internal
    * equal-k plans, so the length contract is enforced here (O(1), unlike
    * jaccard_sorted's O(n) sortedness validation).
    *
    * Same dispatch as [[jaccardSortedUnchecked]]: copy-free concrete-class
    * loop when both sides are post-shuffle `UnsafeArrayData` (the q36/q37/
    * q55 prefilter case — it runs once per CANDIDATE PAIR, so a per-call
    * copy is the same allocation-rate bug as in the confirm), bulk-copy
    * fallback otherwise.
    */
  def sigAgreeFrac(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"sig_agree_frac: signature lengths differ ($n vs ${b.numElements()})")
    if (a.isInstanceOf[UnsafeArrayData] && b.isInstanceOf[UnsafeArrayData]) {
      val ua = a.asInstanceOf[UnsafeArrayData]
      val ub = b.asInstanceOf[UnsafeArrayData]
      var i = 0
      var eq = 0
      while (i < n) {
        if (ua.getLong(i) == ub.getLong(i)) eq += 1
        i += 1
      }
      eq.toDouble / n.toDouble
    } else {
      val xs = a.toLongArray()
      val ys = b.toLongArray()
      var i = 0
      var eq = 0
      while (i < n) {
        if (xs(i) == ys(i)) eq += 1
        i += 1
      }
      eq.toDouble / n.toDouble
    }
  }

  /** 0-based index of the FIRST position where two equal-length long arrays
    * agree, or -1 if none — the dedup-free-candidates emission test for the
    * LSH band self-join: a joined (pair, band-index) row survives iff the
    * joined index IS the pair's first agreeing band, so each candidate pair
    * is emitted exactly once and the corpus-sized candidate `distinct`
    * exchange disappears. At most k integer compares per joined row
    * (early-exits at the first agreement, which for a surviving row is ≤ the
    * joined index). Length equality is enforced like [[sigAgreeFrac]]'s —
    * both sides are band arrays of the same banding config by construction,
    * so a mismatch is a caller bug worth failing loudly on.
    *
    * Same copy-free `UnsafeArrayData` dispatch as every per-pair kernel
    * here: this runs once per JOINED ROW (≥ once per candidate pair), so a
    * per-call `toLongArray` copy would be the r10 allocation-rate bug again.
    */
  def firstAgreeIdx(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"first_agree_idx: array lengths differ ($n vs ${b.numElements()})")
    if (a.isInstanceOf[UnsafeArrayData] && b.isInstanceOf[UnsafeArrayData]) {
      val ua = a.asInstanceOf[UnsafeArrayData]
      val ub = b.asInstanceOf[UnsafeArrayData]
      var i = 0
      while (i < n) {
        if (ua.getLong(i) == ub.getLong(i)) return i
        i += 1
      }
      -1
    } else {
      val xs = a.toLongArray()
      val ys = b.toLongArray()
      var i = 0
      while (i < n) {
        if (xs(i) == ys(i)) return i
        i += 1
      }
      -1
    }
  }

  /** FULL winnowing fingerprint selection (Schleimer/Wilkerson/Aiken's
    * local document fingerprinting, the MOSS algorithm): hash every `w`-byte
    * window, slide a window of `t` consecutive hashes, select each window's
    * minimum, return the DISTINCT selected fingerprints sorted ascending
    * (ready for the sorted-merge kernels).
    *
    * GUARANTEE (the winnowing theorem): two documents sharing a common
    * substring of length ≥ w + t − 1 share at least one selected
    * fingerprint — the shared run contains ≥ t consecutive identical window
    * hashes, so some full selection window lies inside it on both sides and
    * both select its minimum. Expected density is ~2/(t+1) of positions, so
    * the corpus-wide inverted index this feeds is ~4.5× smaller than
    * exploding every window at t=8 — that is the scale story vs a full
    * n-gram index (q84): guaranteed detection above the length threshold at
    * a fraction of the index size.
    *
    * Strings of ≤ w bytes yield the single whole-string hash. O(n·t) with
    * two primitive passes and no boxing (t is a small constant; the deque
    * O(n) form buys nothing at t=8).
    */
  def winnowFps(s: UTF8String, w: Int, t: Int): ArrayData = {
    // SQL-registered, so argument misuse must fail loudly at first eval:
    // t <= 0 would otherwise make nWin exceed the hash array length and
    // surface as an ArrayIndexOutOfBoundsException deep in the loop
    if (w < 1 || t < 1)
      throw new IllegalArgumentException(
        s"winnow_fps: w and t must be >= 1 (got w=$w, t=$t)")
    val bytes = s.getBytes
    val n = bytes.length
    if (n <= w)
      return UnsafeArrayData.fromPrimitiveArray(Array(hashBytes(bytes, 0, n)))
    val nW = n - w + 1
    val hs = new Array[Long](nW)
    var i = 0
    while (i < nW) { hs(i) = hashBytes(bytes, i, i + w); i += 1 }
    val nWin = math.max(1, nW - t + 1)
    val picks = new Array[Long](nWin)
    var p = 0
    while (p < nWin) {
      var m = hs(p)
      var j = 1
      while (j < t && p + j < nW) {
        val h = hs(p + j)
        if (h < m) m = h
        j += 1
      }
      picks(p) = m
      p += 1
    }
    java.util.Arrays.sort(picks)
    var d = 1
    i = 1
    while (i < nWin) { if (picks(i) != picks(i - 1)) d += 1; i += 1 }
    val out = new Array[Long](d)
    out(0) = picks(0)
    var k = 1
    i = 1
    while (i < nWin) {
      if (picks(i) != picks(i - 1)) { out(k) = picks(i); k += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Size of the intersection of two strictly-ascending duplicate-free long
    * arrays — the [[jaccardSortedUnchecked]] merge reduced to its count, with
    * the same precondition (engine-constructed sorted inputs), the same
    * copy-free `UnsafeArrayData` fast path, and the same reason to exist:
    * it runs once per candidate pair. NOT SQL-registered (unsorted input
    * would return a silently wrong count); internal plans construct the
    * `intersect_count_sorted` kernel via [[GraftColumns.kernel]].
    */
  def intersectCountSorted(a: ArrayData, b: ArrayData): Long =
    if (a.isInstanceOf[UnsafeArrayData] && b.isInstanceOf[UnsafeArrayData]) {
      val ua = a.asInstanceOf[UnsafeArrayData]
      val ub = b.asInstanceOf[UnsafeArrayData]
      val na = ua.numElements()
      val nb = ub.numElements()
      var i = 0
      var j = 0
      var inter = 0L
      while (i < na && j < nb) {
        val x = ua.getLong(i)
        val y = ub.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter
    } else {
      val xs = a.toLongArray()
      val ys = b.toLongArray()
      var i = 0
      var j = 0
      var inter = 0L
      while (i < xs.length && j < ys.length) {
        val x = xs(i)
        val y = ys(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter
    }

  /** Distinct xxhash64 (Spark's seed-42 XXH64 over UTF-8 bytes) of every
    * `n`-token shingle — identical values to the former interpreted HOF
    * `array_distinct(transform(sequence(0, greatest(nt - n, 0)), i ->
    * xxhash64(concat_ws(' ', slice(t, i + 1, n)))))` over `t = split(text,
    * ' ')` (r21): tokens are single-space-separated byte spans of the
    * input (EMPTY tokens kept, split limit -1 semantics), so shingle i is
    * exactly the contiguous byte span from the start of token i to the end
    * of token i + n − 1 and no shingle string is ever materialized. Output
    * order is first occurrence (array_distinct's), though every consumer
    * sorts or set-treats it.
    */
  def tokenShingleHashes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // token spans WITH empties: boundaries at every space
    var nTok = 1
    var i = 0
    while (i < nb) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var tIdx = 0
    starts(0) = 0
    i = 0
    while (i < nb) {
      if (bytes(i) == ' ') {
        ends(tIdx) = i
        tIdx += 1
        starts(tIdx) = i + 1
      }
      i += 1
    }
    ends(tIdx) = nb
    val nSh = math.max(nTok - n, 0) + 1
    val out = new Array[Long](nSh)
    val seen = new LongDedup(nSh)
    var k = 0
    var t = 0
    while (t < nSh) {
      val from = starts(t)
      val until = ends(math.min(t + n - 1, nTok - 1))
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          until - from, 42L)
      if (seen.add(h)) { out(k) = h; k += 1 }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }

  /** Tiny open-addressing long set for per-row first-occurrence dedup —
    * O(1) adds, zero boxing; sized once per row from the window count.
    */
  private final class LongDedup(expected: Int) {
    private val cap = {
      var c = 8
      while (c < expected * 2) c <<= 1
      c
    }
    private val keys = new Array[Long](cap)
    private val used = new Array[Boolean](cap)
    private val mask = cap - 1

    /** true iff `h` was not present (and is now added). */
    def add(h: Long): Boolean = {
      var i = (splitmix64(h) & 0x7fffffffffffffffL).toInt & mask
      while (used(i)) {
        if (keys(i) == h) return false
        i = (i + 1) & mask
      }
      used(i) = true
      keys(i) = h
      true
    }
  }

  /** Distinct xxhash64 of every `n`-CODEPOINT window — identical values to
    * the former `array_distinct(transform(sequence(1, greatest(len - n + 1,
    * 1)), i -> xxhash64(substr(text, i, n))))` (r21, q55's char-trigram
    * featurization): windows are codepoint-aligned byte spans, so no gram
    * string is materialized.
    */
  def charGramHashes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val starts = codepointStarts(bytes)
    val nc = if (starts == null) bytes.length else starts.length
    val nG = math.max(nc - n + 1, 1)
    val out = new Array[Long](nG)
    val seen = new LongDedup(nG)
    var k = 0
    var t = 0
    while (t < nG) {
      val from = if (nc == 0) 0 else if (starts == null) t else starts(t)
      val until =
        if (t + n >= nc) bytes.length
        else if (starts == null) t + n
        else starts(t + n)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          until - from, 42L)
      if (seen.add(h)) { out(k) = h; k += 1 }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(out, k))
  }

  /** Distinct verbatim `n`-token shingle STRINGS — the string sibling of
    * [[tokenShingleHashes]] (r22), for the operators whose exchanges keep
    * the gram text by declared design (q84/q110/q169: their oracles compare
    * exact gram strings). Identical values to the interpreted
    * `array_distinct(transform(sequence(1, nt - n + 1), i ->
    * concat_ws(' ', slice(t, i, n))))` over `t = split(text, ' ')` under
    * the callers' `size(t) >= n` guard: tokens are single-space-separated
    * byte spans of the input (empty tokens kept — concat_ws does NOT skip
    * empty strings, so the joined window equals the contiguous byte span
    * even through multi-space runs), so shingle i is one byte slice and no
    * intermediate token array or per-window concat ever materializes.
    * Dedup is exact STRING equality (hash-probed, byte-compared on
    * collision — a 64-bit collision cannot merge distinct grams), output
    * order is first occurrence (array_distinct's). Inputs shorter than n
    * tokens clamp to one short shingle, matching [[tokenShingleHashes]];
    * all three call sites guard with `when(size >= n, ...)` so the clamp
    * branch never feeds a declared query.
    */
  def tokenShingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    var nTok = 1
    var i = 0
    while (i < nb) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var tIdx = 0
    starts(0) = 0
    i = 0
    while (i < nb) {
      if (bytes(i) == ' ') {
        ends(tIdx) = i
        tIdx += 1
        starts(tIdx) = i + 1
      }
      i += 1
    }
    ends(tIdx) = nb
    val nSh = math.max(nTok - n, 0) + 1
    // open addressing keyed on the span hash, byte-compared on collision:
    // slot value = output index of the shingle occupying it
    var cap = 8
    while (cap < nSh * 2) cap <<= 1
    val mask = cap - 1
    val slotOut = new Array[Int](cap)
    java.util.Arrays.fill(slotOut, -1)
    val outFrom = new Array[Int](nSh)
    val outUntil = new Array[Int](nSh)
    var k = 0
    var t = 0
    while (t < nSh) {
      val from = starts(t)
      val until = ends(math.min(t + n - 1, nTok - 1))
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + from,
          until - from, 42L)
      var slot = (splitmix64(h) & 0x7fffffffffffffffL).toInt & mask
      var dup = false
      var done = false
      while (!done) {
        val o = slotOut(slot)
        if (o == -1) done = true
        else {
          // byte-exact equality check (lengths then contents)
          val len = outUntil(o) - outFrom(o)
          if (len == until - from) {
            var p = 0
            var eq = true
            while (eq && p < len) {
              if (bytes(outFrom(o) + p) != bytes(from + p)) eq = false
              p += 1
            }
            if (eq) { dup = true; done = true }
            else slot = (slot + 1) & mask
          } else slot = (slot + 1) & mask
        }
      }
      if (!dup) {
        slotOut(slot) = k
        outFrom(k) = from
        outUntil(k) = until
        k += 1
      }
      t += 1
    }
    val out = new Array[Any](k)
    i = 0
    while (i < k) {
      out(i) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, outFrom(i), outUntil(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Exact intersection count over two sorted duplicate-free STRING arrays
    * (binary UTF8String order — `array_sort`'s order) — the q219 exact-
    * string containment confirm (r21): one merge pass per candidate pair,
    * replacing the explode-join + re-group that shipped Σ|A| rows per
    * candidate. Same internal-only / engine-constructed-input contract as
    * [[intersectCountSorted]].
    */
  def intersectCountSortedStr(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }

  // ---- seeded-md5 lane kernels (r22) ----
  // The repo's determinism trick spells every seeded uniform as
  //   CAST(conv(substring(md5(s), pos, len), 16, 10) AS BIGINT)
  // — md5 renders 32 lowercase hex chars, substring slices `len` of them,
  // conv re-parses the slice back to an integer. Three string
  // materializations per draw (hex render, slice, decimal render inside
  // conv) for what is arithmetically "nibbles [pos-1, pos-1+len) of the
  // digest as a base-16 integer". These kernels compute that value from
  // the raw digest bytes — same MD5, same value, no intermediate strings.

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  @inline private def md5Nibbles(
      digest: Array[Byte], hexFrom: Int, len: Int): Long = {
    var v = 0L
    var i = hexFrom
    val until = hexFrom + len
    while (i < until) {
      val b = digest(i >> 1)
      val nib = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = v * 16 + nib
      i += 1
    }
    v
  }

  /** `CAST(conv(substring(md5(s), pos, len), 16, 10) AS BIGINT)` for static
    * 1-based `pos` and `len` with pos ≥ 1, len ≥ 1, pos + len − 1 ≤ 32 and
    * len ≤ 15 (value < 2^60 — exact in a long, exactly the regime every
    * call site uses; the expression constructor validates). Hex chars are
    * digest nibbles: char i (0-based) is the high nibble of digest byte
    * i/2 when i is even, the low nibble when odd.
    */
  def md5Lane(s: UTF8String, pos: Int, len: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md5Nibbles(md.digest(s.getBytes), pos - 1, len)
  }

  /** The first `n` consecutive `width`-hex-char lanes of md5(s), each
    * reduced `% mod` when mod > 0 — one digest for what the expression form
    * spells as n separate md5 calls. Lane i equals
    * `CAST(conv(substring(md5(s), 1 + width*i, width), 16, 10) AS BIGINT)`
    * (then `% mod`); n·width ≤ 32 and width ≤ 15 validated at construction.
    * All inputs are nonnegative, so `%` matches Spark's pmod-free `%` on
    * the positive range.
    */
  def md5Lanes(s: UTF8String, width: Int, n: Int, mod: Long): ArrayData = {
    val md = md5Local.get()
    md.reset()
    val digest = md.digest(s.getBytes)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = md5Nibbles(digest, i * width, width)
      out(i) = if (mod > 0) v % mod else v
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Minimum rolling-window fingerprint over `w`-byte windows — the
    * single-value degenerate form of [[winnowFps]] (one selection window
    * spanning the whole string), robust to small appends/prefixes.
    */
  def minWindowFp(s: UTF8String, w: Int): Long = {
    val bytes = s.getBytes
    if (bytes.length <= w) return fingerprint64(s)
    var min = Long.MaxValue
    var i = 0
    while (i + w <= bytes.length) {
      val h = hashBytes(bytes, i, i + w)
      if (h < min) min = h
      i += 1
    }
    min
  }
}
