package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Every native kernel as one Catalyst expression: `name` picks a row of
  * [[Kernel.specs]], and the node evaluates through Spark's own
  * `StaticInvoke` of that row's static method. Whole-stage codegen
  * therefore emits a direct `Obj.method(args)` call in the generated loop
  * (no UDF boxing, no codegen fallback), interpreted mode reaches the same
  * method by reflection, and a null input gives a null output.
  *
  * `children` are the column inputs followed by the literal arguments (int
  * or long). `ExpectsInputTypes` rejects a wrong column type at analysis;
  * the `StaticInvoke` never enters the plan, so its implicit input casts
  * never apply.
  *
  * The node is not `RuntimeReplaceable`: a `StaticInvoke` in the optimized
  * plan is null-intolerant, so constraint inference would add `isnotnull`
  * filters on every kernel input (re-evaluating array_sort and HOF inputs
  * outside whole-stage codegen). Kernel, like any expression that does not
  * declare itself null-intolerant, adds no such filter.
  */
case class Kernel(name: String, children: Seq[Expression])
    extends Expression
    with ExpectsInputTypes {

  private def spec: Kernel.Spec = Kernel.byName(name)

  @transient private lazy val invoke =
    StaticInvoke(spec.target, spec.out, spec.method, children, returnNullable = false)

  override def prettyName: String = name
  override def dataType: DataType = spec.out
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def inputTypes: Seq[DataType] = spec.in ++ spec.args.map(_._2)

  override def eval(input: InternalRow): Any = invoke.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.genCode(ctx)

  override def toString: String = s"$name(${children.mkString(", ")})"
  // Column names leave the literal arguments out, as `minhash_sig(text)`.
  override def sql: String =
    s"$name(${children.take(spec.in.size).map(_.sql).mkString(", ")})"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object Kernel {

  /** One kernel: its SQL name, the static method it calls, the types of its
    * column inputs, the names and types of its literal arguments (bound after
    * the columns, in order), its output type, and whether
    * [[GraftExtensions.install]] registers the name in SQL. The
    * `sql = false` rows have plan-shape preconditions that are not checked
    * at runtime (sorted inputs, engine-built struct layouts), so user SQL
    * must not reach them; plans build them through [[GraftColumns.kernel]].
    */
  final case class Spec(
      name: String,
      target: Class[_],
      method: String,
      in: Seq[DataType],
      args: Seq[(String, DataType)],
      out: DataType,
      sql: Boolean = true)

  private val S = StringType
  private val I = IntegerType
  private val L = LongType
  private val D = DoubleType
  private val AL = ArrayType(LongType)
  private val AD = ArrayType(DoubleType)
  private val AS = ArrayType(StringType)
  private def arr(t: DataType): ArrayType = ArrayType(t, containsNull = false)
  private def row(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  // the centroid and PQ codebook layouts Similarity's plans build
  private val cents = ArrayType(struct("cid" -> I, "cv" -> AD))
  private val codebook = ArrayType(struct("sub" -> I, "cid" -> I, "cw" -> AD))

  private val hash = HashKernels.getClass
  private val vec = VectorOps.getClass
  private val text = TextKernels.getClass
  private val poly = PolyKernels.getClass
  private val bpe = BpeKernels.getClass

  val specs: Seq[Spec] = Seq(
    Spec("cosine_sim", vec, "cosine", Seq(AD, AD), Nil, D),
    // jaccard_sorted validates that both inputs are ascending and
    // duplicate-free and throws otherwise; sig_agree_frac throws on
    // signatures of unequal length. See the HashKernels scaladoc.
    Spec("jaccard_sorted", hash, "jaccardSorted", Seq(AL, AL), Nil, D),
    Spec("sig_agree_frac", hash, "sigAgreeFrac", Seq(AL, AL), Nil, D),
    Spec("simhash64", hash, "simhash64", Seq(S), Nil, L),
    Spec("normalize_text", text, "normalizeText", Seq(S), Nil, S),
    Spec("fingerprint64", hash, "fingerprint64", Seq(S), Nil, L),
    Spec("min_window_fp", hash, "minWindowFp", Seq(S), Seq("window" -> I), L),
    Spec("winnow_fps", hash, "winnowFps", Seq(S), Seq("w" -> I, "t" -> I), arr(L)),
    Spec("minhash_sig", hash, "minhashArray", Seq(S),
      Seq("k" -> I, "shingle" -> I), arr(L)),
    Spec("minhash_bands", hash, "minhashBands", Seq(S),
      Seq("k" -> I, "shingle" -> I, "r" -> I), arr(L)),
    Spec("minhash_sig_chars", hash, "minhashCharsArray", Seq(S),
      Seq("k" -> I, "n" -> I), arr(L)),
    Spec("bands_from_sig", hash, "bandsFromSig", Seq(AL), Seq("r" -> I), arr(L)),
    Spec("rhp_sig", vec, "rhpSig", Seq(AD), Seq("planes" -> I, "seed" -> L), L),
    Spec("rhp_bands", vec, "rhpBands", Seq(AD),
      Seq("planes" -> I, "bands" -> I, "seed" -> L), arr(L)),
    // the (a*131 + codepoint) % (2^31-1) digest family; PolyKernels'
    // scaladoc gives the HOF expression each one replaces
    Spec("char_poly", poly, "charPoly", Seq(S), Nil, L),
    Spec("token_polys", poly, "tokenPolys", Seq(S), Nil, arr(L)),
    Spec("poly_slide", poly, "polySlide", Seq(AL),
      Seq("l" -> I, "scale" -> L, "offset" -> L), arr(L)),
    Spec("poly_blocks", poly, "polyBlocks", Seq(AL), Seq("width" -> I), arr(L)),
    Spec("cdc_chunks", poly, "cdcChunks", Seq(S), Nil,
      arr(row("clen" -> L, "chash" -> L))),
    Spec("cls_score", poly, "clsScore", Seq(AS), Nil, L),
    Spec("token_shingle_hashes", hash, "tokenShingleHashes", Seq(S), Seq("n" -> I), arr(L)),
    Spec("char_gram_hashes", hash, "charGramHashes", Seq(S), Seq("n" -> I), arr(L)),
    Spec("token_shingles", hash, "tokenShingles", Seq(S), Seq("n" -> I), arr(S)),
    Spec("token_bigrams", text, "tokenBigrams", Seq(S), Nil, arr(S)),
    // the CAST(conv(substring(md5(s), pos, len), 16, 10) AS BIGINT) idiom;
    // GraftExtensions checks the lane bounds when the call is planned
    Spec("md5_lane", hash, "md5Lane", Seq(S), Seq("pos" -> I, "len" -> I), L),
    Spec("md5_lanes", hash, "md5Lanes", Seq(S),
      Seq("width" -> I, "n" -> I, "mod" -> L), arr(L)),
    Spec("token_bigram_structs", text, "tokenBigramStructs", Seq(S), Nil,
      arr(row("a" -> S, "b" -> S))),
    Spec("max_sorted_run", text, "maxSortedRun", Seq(AS), Nil, L),
    // the BPE double-space serialization family; BpeKernels' scaladoc
    // gives the HOF chain each one replaces
    Spec("ds_token_count", bpe, "dsTokenCount", Seq(S), Nil, L),
    Spec("ds_pairs", bpe, "dsPairs", Seq(S), Nil, arr(S)),
    Spec("ds_from_hex", bpe, "dsFromHex", Seq(S), Nil, S),
    Spec("bpe_apply_merges", bpe, "bpeApplyMerges",
      Seq(S, ArrayType(struct("x" -> S, "y" -> S))), Nil, S),
    // engine-internal: inputs sorted and duplicate-free by plan shape
    Spec("jaccard_sorted_unchecked", hash, "jaccardSortedUnchecked", Seq(AL, AL), Nil, D,
      sql = false),
    Spec("intersect_count_sorted", hash, "intersectCountSorted", Seq(AL, AL), Nil, L,
      sql = false),
    Spec("intersect_count_sorted_str", hash, "intersectCountSortedStr", Seq(AS, AS), Nil, L,
      sql = false),
    // engine-internal: meaningful only on the band arrays the plans build
    Spec("first_agree_idx", hash, "firstAgreeIdx", Seq(AL, AL), Nil, I, sql = false),
    // engine-internal: the kernels read the centroid and codebook arrays
    // positionally, in the layouts the plans build
    Spec("nearest_cid", vec, "nearestCid", Seq(AD, cents), Nil, I, sql = false),
    Spec("nearest_cids", vec, "nearestCids", Seq(AD, cents), Seq("keep" -> I), arr(I),
      sql = false),
    Spec("pq_assign", vec, "pqAssign", Seq(AD, codebook), Seq("w" -> I),
      arr(row("sub" -> I, "cid" -> I, "sv" -> arr(D))), sql = false),
    // engine-internal: clustering and PQ distances
    Spec("l2sq_long", vec, "l2sqLong", Seq(AL, AL), Nil, L, sql = false),
    Spec("l2sq_double", vec, "l2sqDouble", Seq(AD, AD), Nil, D, sql = false),
    Spec("dot_double", vec, "dot", Seq(AD, AD), Nil, D, sql = false))

  val byName: Map[String, Spec] = specs.map(s => s.name -> s).toMap
}

/** Column constructor for the engine-internal kernels (the `sql = false`
  * rows of [[Kernel.specs]]). Plans wrap the expression directly instead of
  * going through `call_function`, so these never become callable from user
  * SQL. Literal arguments are passed as `lit(...)` columns after the inputs.
  */
object GraftColumns {
  def kernel(name: String, cols: Column*): Column =
    ColumnShim.column(Kernel(name, cols.map(ColumnShim.expression)))
}
