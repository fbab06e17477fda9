package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Vector kernels invoked from generated code (whole-stage codegen calls these
  * static forwarders directly — see [[Kernel]], whose `StaticInvoke`
  * replacement emits the call). All accumulation is sequential left-to-right so
  * results are deterministic and bit-stable across runs/engines.
  *
  * Every kernel converts its `ArrayData` argument to a primitive array ONCE
  * (the specialized bulk `toDoubleArray` — Platform.copyMemory on unsafe
  * rows, a vectorized read on ColumnarArray) and loops over primitives.
  * Per-element `a.getDouble(i)` in the loop body is NOT equivalent: these
  * static methods are shared by every generated plan in the JVM, so the
  * accessor call site sees UnsafeArrayData (post-shuffle rows),
  * ColumnarArray (straight off the vectorized parquet scan — q40's corpus
  * side), and GenericArrayData (freshly built arrays, e.g. the IVF
  * centroids) and goes megamorphic; whether the JIT's early profile window
  * was monomorphic then decides between an inlined loop and a
  * virtual-call-per-element one — measured as run-to-run bimodality (q40:
  * 0.55 s vs 2.2–2.5 s on an unchanged plan across r7–r9). At d=64 the
  * one-time 512-byte copy is noise; the primitive loop is stable and
  * auto-vectorizable.
  *
  * Scale note: these run per-row inside codegen with zero boxing beyond the
  * one bulk copy; at 100 TB the same kernels apply unchanged (they are
  * embarrassingly parallel per row).
  */
object VectorOps {

  /** Cosine similarity of two equal-length double vectors. Returns 0.0 when
    * either norm is 0 (instead of NaN) so downstream thresholds stay sane.
    */
  def cosine(a0: ArrayData, b0: ArrayData): Double = {
    val a = a0.toDoubleArray()
    val b = b0.toDoubleArray()
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i)
      val y = b(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a0: ArrayData, b0: ArrayData): Double = {
    val a = a0.toDoubleArray()
    val b = b0.toDoubleArray()
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Exact squared L2 distance between two equal-length LONG vectors (the
    * fixed-point micro-unit embeddings of q196/q199). Pure int64 arithmetic
    * — no rounding, no reduction-order sensitivity; overflow-free while
    * dims·maxdiff² < 2^63 (µu embeddings: 64·(1.1·10⁶)² ≈ 7·10¹³).
    */
  def l2sqLong(a0: ArrayData, b0: ArrayData): Long = {
    val a = a0.toLongArray()
    val b = b0.toLongArray()
    // A dimension mismatch (model/batch schema drift in a serving path)
    // must fail loudly — truncating to min(len) would return a plausible
    // but wrong distance and silently mis-assign every row.
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"l2sqLong: dimension mismatch ${a.length} vs ${b.length}")
    var s = 0L
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Squared L2 distance between two equal-length DOUBLE vectors, summed
    * left-to-right — bit-identical to the HOF form
    * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0D, (acc, v) -> acc+v)`
    * it replaces in the PQ Lloyd rounds (r21; the l2sq_long precedent).
    */
  def l2sqDouble(a0: ArrayData, b0: ArrayData): Double = {
    val a = a0.toDoubleArray()
    val b = b0.toDoubleArray()
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  def l2norm(a0: ArrayData): Double = {
    val a = a0.toDoubleArray()
    var s = 0.0
    var i = 0
    while (i < a.length) { val x = a(i); s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** Per-JVM cache of derived hyperplane coefficient matrices, keyed by
    * (planes, dims, seed). Derivation is deterministic from splitmix64 — no
    * stored model and no broadcast; every executor materializes an identical
    * matrix ONCE instead of re-deriving planes×dims hashes per row (at
    * planes=40, dims=64 that's 2 560 hash+divide ops saved per row).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()

  private def planeMatrix(planes: Int, dims: Int, seed: Long): Array[Array[Double]] =
    planeCache.computeIfAbsent((planes, dims, seed), { key =>
      val (p0, d0, s0) = key
      Array.tabulate(p0, d0) { (p, i) =>
        val h = HashKernels.splitmix64(s0 + p.toLong * 1000003L + i)
        // map to [-1, 1): uniform is fine for sign-of-projection LSH
        (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
    })

  /** Packed random-hyperplane sign signature: bit p of the result is the
    * sign of the projection onto plane p (planes <= 64). One kernel call per
    * row yields BOTH the ANN blocking keys (bit slices of the signature are
    * the band keys — pure integer ops downstream) and the signature the
    * Hamming prefilter compares with bit_count(xor) before any d-dim cosine.
    */
  def rhpSig(a0: ArrayData, planes: Int, seed: Long): Long = {
    val a = a0.toDoubleArray()
    val dims = a.length
    val mat = planeMatrix(planes, dims, seed)
    var sig = 0L
    var p = 0
    while (p < planes) {
      val row = mat(p)
      var s = 0.0
      var i = 0
      while (i < dims) {
        s += row(i) * a(i)
        i += 1
      }
      if (s >= 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Random-hyperplane signature split into `bands` band-keys.
    *
    * `planes * dims` pseudo-gaussian coefficients are derived deterministically
    * from splitmix64 — no stored model, so executors recompute identical planes
    * with zero broadcast. The signature's `planes` sign bits are grouped into
    * `bands` chunks; each chunk becomes a 64-bit band key (band index mixed in
    * so keys from different bands never collide). Two vectors with high cosine
    * similarity share at least one band key with high probability — the
    * standard LSH scale path for ANN: candidates = equi-join on band key (a
    * shuffle on a long), instead of an O(N²) cross join.
    */
  def rhpBands(a0: ArrayData, planes: Int, bands: Int, seed: Long): ArrayData = {
    val a = a0.toDoubleArray()
    val dims = a.length
    val mat = planeMatrix(planes, dims, seed)
    val bits = new Array[Boolean](planes)
    var p = 0
    while (p < planes) {
      val row = mat(p)
      var s = 0.0
      var i = 0
      while (i < dims) {
        s += row(i) * a(i)
        i += 1
      }
      bits(p) = s >= 0.0
      p += 1
    }
    val perBand = planes / bands
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var k = 0L
      var j = 0
      while (j < perBand) {
        k = (k << 1) | (if (bits(b * perBand + j)) 1L else 0L)
        j += 1
      }
      keys(b) = HashKernels.splitmix64(k ^ (b.toLong << 56))
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(keys)
  }

  // ---- IVF / PQ assignment kernels (r22) ----
  // The keep=1 nearest-centroid window and the PQ encode join+min(struct)
  // streamed corpus×codewords rows through an exchange to compute a per-row
  // argmin; these kernels compute it per row against the (tiny) broadcast
  // codebook array, so the assignment stage is map-only (guide §2.4).
  // INTERNAL-ONLY (GraftColumns constructors, not SQL-registered): they
  // assume the exact struct layouts the engine's own plans build.

  /** cid of the centroid maximizing cosine(v, cv), ties to the SMALLEST
    * cid — identical to `row_number() OVER (PARTITION BY vec_id ORDER BY
    * ccos DESC, cid) = 1` over the cross-joined centroid table. Doubles
    * compare via java.lang.Double.compare, matching Spark's DoubleType
    * ordering on the cosine values this sees (no NaNs: [[cosine]] guards
    * zero norms). `cents` layout: array<struct<cid:int, cv:array<double>>>.
    * Scan is order-independent, so the collect_list build order of the
    * centroid array cannot affect the result. Empty `cents` is a caller
    * bug and fails loudly.
    */
  def nearestCid(v: ArrayData, cents: ArrayData): Int = {
    val k = cents.numElements()
    if (k == 0)
      throw new IllegalArgumentException("nearest_cid: empty centroid array")
    var bestCid = 0
    var bestCos = 0.0
    var first = true
    var i = 0
    while (i < k) {
      val row = cents.getStruct(i, 2)
      val cid = row.getInt(0)
      val c = cosine(v, row.getArray(1))
      val cmp = if (first) 1 else java.lang.Double.compare(c, bestCos)
      if (cmp > 0 || (cmp == 0 && cid < bestCid)) {
        bestCos = c
        bestCid = cid
        first = false
      }
      i += 1
    }
    bestCid
  }

  /** The `keep` nearest centroid cids by the same (cosine DESC, cid ASC)
    * order as [[nearestCid]], returned SORTED ASCENDING BY CID — identical
    * to `array_sort(collect_list(cid))` over the `row_number <= keep`
    * window rows (the semProbed shape), and explode-equivalent to the
    * keep>1 window rows wherever row order is immaterial. O(k·keep)
    * selection; keep is 3-4 here.
    */
  def nearestCids(v: ArrayData, cents: ArrayData, keep: Int): ArrayData = {
    val k = cents.numElements()
    if (k == 0)
      throw new IllegalArgumentException("nearest_cids: empty centroid array")
    val cos = new Array[Double](k)
    val cid = new Array[Int](k)
    var i = 0
    while (i < k) {
      val row = cents.getStruct(i, 2)
      cid(i) = row.getInt(0)
      cos(i) = cosine(v, row.getArray(1))
      i += 1
    }
    val nOut = math.min(keep, k)
    val taken = new Array[Boolean](k)
    val out = new Array[Int](nOut)
    var o = 0
    while (o < nOut) {
      var best = -1
      i = 0
      while (i < k) {
        if (!taken(i)) {
          if (best < 0) best = i
          else {
            val cmp = java.lang.Double.compare(cos(i), cos(best))
            if (cmp > 0 || (cmp == 0 && cid(i) < cid(best))) best = i
          }
        }
        i += 1
      }
      taken(best) = true
      out(o) = cid(best)
      o += 1
    }
    java.util.Arrays.sort(out)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Per-subspace PQ assignment: for every DISTINCT `sub` present in `cb`
    * (layout array<struct<sub:int, cid:int, cw:array<double>>>), the cid
    * minimizing l2sq(slice(v, sub*w+1, w), cw) with ties to the smallest
    * cid — identical to the former `join(broadcast(cb), "sub")` +
    * `groupBy(vec_id, sub).agg(min(struct(dist, cid)))` over the
    * `transform(sequence(0, m-1), s -> slice(v, s*w+1, w))` slices (struct
    * min = (compareDoubles, then cid); the l2sq fold is [[l2sqDouble]]'s
    * left-to-right sum over the same slice values). Output one
    * struct<sub:int, cid:int, sv:array<double>> per present sub, sub
    * ascending (consumers explode — order is immaterial); sv is the slice,
    * carried for the Lloyd mean. `w` is the subspace dimension; slices
    * clamp at the vector end exactly like `slice`.
    */
  def pqAssign(v0: ArrayData, cb: ArrayData, w: Int): ArrayData = {
    val v = v0.toDoubleArray()
    val n = cb.numElements()
    // max sub value bounds the per-sub arrays; subs are small ints (0..m-1)
    var maxSub = -1
    var i = 0
    while (i < n) {
      val sub = cb.getStruct(i, 3).getInt(0)
      if (sub > maxSub) maxSub = sub
      i += 1
    }
    val bestDist = new Array[Double](maxSub + 1)
    val bestCid = new Array[Int](maxSub + 1)
    val seen = new Array[Boolean](maxSub + 1)
    i = 0
    while (i < n) {
      val row = cb.getStruct(i, 3)
      val sub = row.getInt(0)
      val cid = row.getInt(1)
      val cw = row.getArray(2).toDoubleArray()
      val from = math.min(sub * w, v.length)
      val until = math.min(sub * w + w, v.length)
      // l2sqDouble's fold over min(slice len, |cw|) elements, left to right
      val len = math.min(until - from, cw.length)
      var s = 0.0
      var j = 0
      while (j < len) {
        val d = v(from + j) - cw(j)
        s += d * d
        j += 1
      }
      val cmp =
        if (!seen(sub)) -1 else java.lang.Double.compare(s, bestDist(sub))
      if (cmp < 0 || (cmp == 0 && cid < bestCid(sub))) {
        bestDist(sub) = s
        bestCid(sub) = cid
        seen(sub) = true
      }
      i += 1
    }
    var nOut = 0
    i = 0
    while (i <= maxSub) { if (seen(i)) nOut += 1; i += 1 }
    val out = new Array[Any](nOut)
    var o = 0
    i = 0
    while (i <= maxSub) {
      if (seen(i)) {
        val from = math.min(i * w, v.length)
        val until = math.min(i * w + w, v.length)
        out(o) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, bestCid(i),
            org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
              .fromPrimitiveArray(java.util.Arrays.copyOfRange(v, from, until))))
        o += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
