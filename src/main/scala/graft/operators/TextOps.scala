package graft.operators

import graft.Tables
import graft.mr.{MRRunner, WordCount}
import graft.queries.Entry
import graft.queries.OracleSql._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-analysis operators over `documents`: tokenization/word-count (via the
  * MR surface), token statistics, quality scoring, language-ID heuristic, and
  * content fingerprinting (custom codegen expressions).
  */
object TextOps {

  val stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  private def toks: Column = split(col("text"), " ")

  /** N rounds of BPE vocabulary learning (q83's body — see that entry's doc
    * for the round mechanics and the double-space serialization trick).
    *
    * LINEAGE (r22): every round's re-segmented corpus is eagerly
    * `localCheckpoint`ed (executor-local materialization — no HDFS dir
    * needed, and failure recovery just reruns the round), so training is
    * LINEAR in N: each round plans against the materialized previous
    * corpus instead of the whole merge history. Before r22 the pure
    * declarative form re-executed the cumulative replace chain O(N²)
    * times across training and the per-round checkpoint sat behind the
    * `graft.bpe.perRoundCheckpoint` conf (default off, no longer read);
    * with the serialization HOFs now native kernels that chain
    * recomputation was the remaining learn cost, and the checkpoint is
    * unconditional (measured at sf0.1: BPE family 10.4 s → 9.5 s under a worsening
    * canary). Output is bit-identical — the checkpoint only changes where
    * the plan is cut; TextOpsSuite asserts that two 6-round runs agree and
    * that N=16 completes in bounded time, and the DuckDB oracle (which
    * unrolls the pure plan as CTEs) re-adjudicates every value.
    */
  private[graft] def bpeVocab(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    val cur0 = Tables.documents(s, d).select(
      concat(
        lit(" "),
        concat_ws("  ", regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))),
        lit(" ")).as("s"))
    bpeLearn(cur0, rounds)
  }

  /** The learn loop over ANY pre-serialized `s` frame (double-space
    * serialization, tokens contain no spaces) — extracted in r17 so the
    * byte-level tokenizer (q297, Transforms) learns with the SAME machinery
    * over a different base alphabet. Semantics unchanged for bpeVocab.
    */
  private[graft] def bpeLearn(
      cur0: org.apache.spark.sql.DataFrame,
      rounds: Int): org.apache.spark.sql.DataFrame = {
    // r21: materialize the SERIALIZED corpus once — round 1's pair count
    // and every downstream consumer start from materialized strings
    // instead of re-running the upstream serialization (regex tokenize /
    // hex byte split). r22 extends the same discipline to every round
    // (see the stepped checkpoint below). Values are bit-identical
    // (checkpoints only cut lineage).
    var cur = cur0.localCheckpoint()
    val perRound = (1 to rounds).map { r =>
      // r22: native ds_pairs kernel — identical values to the former
      // interpreted zip_with(slice, slice) over the filtered double-space
      // split (BpeKernelsSuite pins the equality on adversarial inputs)
      val top = cur
        .select(explode(call_function("ds_pairs", col("s"))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1)
        .select(
          split(col("pair"), " ").getItem(0).as("x"),
          split(col("pair"), " ").getItem(1).as("y"),
          col("cnt"))
      val stepped0 = cur.crossJoin(broadcast(top))
        .select(
          replace(
            col("s"),
            concat(lit(" "), col("x"), lit("  "), col("y"), lit(" ")),
            concat(lit(" "), col("x"), col("y"), lit(" "))).as("s"),
          col("x"),
          col("y"),
          col("cnt"))
      // r22: materialize each round's re-segmented corpus ONCE — the pure
      // form re-executed the cumulative replace chain for round r's pair
      // count, again for its toks_after aggregate, and again per later
      // round (O(rounds²) corpus passes; ~16 chain-steps at rounds=4).
      // With the serialization HOFs now native kernels, that chain
      // recomputation was the remaining learn cost. localCheckpoint only
      // cuts lineage — values are bit-identical (TextOpsSuite pins the
      // flag-on/flag-off identity; the oracle gate re-proved the family).
      val stepped = stepped0.localCheckpoint()
      val row = stepped
        .agg(
          min(col("x")).as("x"),
          min(col("y")).as("y"),
          min(col("cnt")).as("pair_cnt"),
          sum(call_function("ds_token_count", col("s")))
            .cast("long").as("toks_after"))
        .select(
          lit(r.toLong).as("round"),
          col("x"), col("y"), col("pair_cnt"), col("toks_after"))
      // the stepped checkpoint above: cur already reads the materialized
      // round output
      cur = stepped.select(col("s"))
      row
    }
    perRound.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** Per-doc repetition counters (q88's body — Gopher-style rules, see that
    * entry's doc): token/distinct counts, max same-word run over the sorted
    * token array, bigram counts. One scan, per-row HOFs, NO shuffle — the
    * curation pipeline (q107) reuses this on its dedup survivors.
    * Input: (doc_id, text). Output: (doc_id, n_words, n_distinct, max_w,
    * n_bg, max_bg).
    */
  private[graft] def repetitionCounts(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the former interpreted maxRun spec — aggregate(array_sort(arr),
    // (prev, run, best), ...) -> best — now computed by the native
    // max_sorted_run kernel (TextKernels.maxSortedRun; r22, value-identical,
    // PolyKernelsSuite-pinned)
    // r22: native token_bigrams + max_sorted_run kernels — identical values
    // to the former interpreted zip_with/aggregate folds (maxRun kept in the
    // doc above as the semantics spec; PolyKernelsSuite pins the equality)
    docs
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_words"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"),
        call_function("max_sorted_run", col("t")).as("max_w"),
        call_function("token_bigrams", col("text")).as("bg"))
      .select(
        col("doc_id"),
        col("n_words"),
        col("n_distinct"),
        col("max_w"),
        greatest(size(col("bg")).cast("long"), lit(1L)).as("n_bg"),
        call_function("max_sorted_run", col("bg")).as("max_bg"))
  }

  /** The Gopher-rule flag over [[repetitionCounts]] columns — all-integer
    * compares (top_word > 0.12 OR dup > 0.65 OR top_bigram > 0.06), exact
    * across engines.
    */
  private[graft] def lowQuality: Column =
    col("max_w") * 25 > col("n_words") * 3 ||
      (col("n_words") - col("n_distinct")) * 20 > col("n_words") * 13 ||
      col("max_bg") * 50 > col("n_bg") * 3

  /** q194's per-doc model inference (doc_id, lang, n_feats, score) —
    * hashed-n-gram linear classifier, one codegen map pass, no shuffle.
    * Exposed so q209 can evaluate the same scores against the q88 labels.
    */
  private[graft] def classifierScores(
      s: SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr("filter(split(lower(text), ' '), w -> w rlike '^[a-z0-9]+$')")
          .as("u"))
      .select(col("doc_id"), col("lang"),
        // n unigrams + max(n-1, 0) bigrams, without materializing them
        greatest(size(col("u")).cast("long") * 2 - 1, lit(0L)).as("n_feats"),
        // r21: native cls_score kernel — identical value to the former
        // nested-aggregate HOF over concat(u, zip_with(...))
        expr("cls_score(u)").as("score"))

  /** Fixed-L sequence packing over a (doc_id, n) token-count table (q96's
    * body — see that entry's doc for the two-phase prefix scan): returns
    * (bin, n_docs, n_started, n_tokens). Reused by the curation pipeline.
    */
  private[operators] def packBins(
      counts: org.apache.spark.sql.DataFrame, L: Long): org.apache.spark.sql.DataFrame = {
    val docs = counts.filter(col("n") > 0)
      .withColumn("blk", expr("doc_id div 256"))
    // r22: the block-prefix cumsum is TWO-LEVEL — block sums roll up to
    // 4096-block superblocks, the ONE remaining global window runs over
    // the superblock grain (~1M docs per superblock row, so it stays a
    // bounded-row single partition at any corpus size where the old
    // block-grain window would have grown corpus/256 rows), and each
    // block's prefix is its superblock carry + a superblock-PARTITIONED
    // within-window. Exact long prefix sums either way — the q96 oracle
    // and the naive-single-window suite test re-prove equality.
    val blkSums = docs.groupBy(col("blk")).agg(sum(col("n")).as("bn"))
      .withColumn("sb", expr("blk div 4096"))
    val wSbAll = Window.orderBy(col("sb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sbPrefix = blkSums.groupBy(col("sb")).agg(sum(col("bn")).as("sbn"))
      .withColumn("sprefix", coalesce(sum(col("sbn")).over(wSbAll), lit(0L)))
      .select(col("sb"), col("sprefix"))
    val wInSb = Window.partitionBy(col("sb")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = blkSums
      .join(sbPrefix, Seq("sb"))
      .withColumn("prefix",
        col("sprefix") + coalesce(sum(col("bn")).over(wInSb), lit(0L)))
      .select(col("blk"), col("prefix"))
    val wIn = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = docs.join(prefixes, Seq("blk"))
      .withColumn("cum", col("prefix") + sum(col("n")).over(wIn))
      .select(col("doc_id"), col("n"),
        (col("cum") - col("n")).as("off0"), col("cum").as("off1"))
    offs
      .select(col("off0"), col("off1"),
        explode(sequence(expr(s"off0 div $L"), expr(s"(off1 - 1) div $L"))).as("bin"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(expr(s"off0 div $L") === col("bin"), 1L).otherwise(0L))
          .as("n_started"),
        sum(least(col("off1"), (col("bin") + 1) * L) -
          greatest(col("off0"), col("bin") * L)).as("n_tokens"))
  }

  /** [[packBins]] generalized to pack INDEPENDENTLY per key: every window
    * and aggregate gains the key as its leading partition column, so each
    * split's bins are numbered from its own offset 0 and the block-prefix
    * cumsum — the only unpartitioned window in the global form — becomes
    * per-key (strictly better parallelism). Input (split, doc_id, n) →
    * (split, bin, n_docs, n_tokens).
    */
  private[operators] def packBinsBy(
      counts: org.apache.spark.sql.DataFrame, L: Long): org.apache.spark.sql.DataFrame = {
    val docs = counts.filter(col("n") > 0)
      .withColumn("blk", expr("doc_id div 256"))
    val wB = Window.partitionBy(col("split")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = docs.groupBy(col("split"), col("blk")).agg(sum(col("n")).as("bn"))
      .withColumn("prefix", coalesce(sum(col("bn")).over(wB), lit(0L)))
      .select(col("split"), col("blk"), col("prefix"))
    val wIn = Window.partitionBy(col("split"), col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = docs.join(prefixes, Seq("split", "blk"))
      .withColumn("cum", col("prefix") + sum(col("n")).over(wIn))
      .select(col("split"), col("doc_id"), col("n"),
        (col("cum") - col("n")).as("off0"), col("cum").as("off1"))
    offs
      .select(col("split"), col("off0"), col("off1"),
        explode(sequence(expr(s"off0 div $L"), expr(s"(off1 - 1) div $L"))).as("bin"))
      .groupBy(col("split"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(col("off1"), (col("bin") + 1) * L) -
          greatest(col("off0"), col("bin") * L)).as("n_tokens"))
  }

  // ---- Keyword retrieval (q145 BM25 / q146 RRF hybrid fusion) ----
  // The RAG-side counterpart of the ANN family: score documents against a
  // query term set from corpus statistics alone. Queries are the first 8
  // docs' first 4 distinct tokens — derived from the corpus, so the whole
  // pipeline (and its oracle) is self-contained. Robertson/Zaragoza'09 BM25
  // with the Lucene non-negative idf variant; k1=1.2, b=0.75.

  private val RetrNQ = 8    // query docs: doc_id < 8
  private val RetrQTerms = 4 // first N tokens of each query doc
  private val RetrPoolK = 20 // per-scorer pool fed into fusion
  private val RrfK = 60      // RRF dampening constant (Cormack/Clarke'09)

  /** Per-(query, doc, term) scoring parts: tf, df, dl, and the corpus
    * constants nd/avgdl, pruned to query terms BEFORE anything corpus-sized
    * joins. Plan shape (the part that must survive 100 TB): the only
    * corpus-wide stages are the tf/df/dl aggregates off one tokenize scan;
    * the ~32-row query-term table broadcasts into tf, so the posting lists
    * that flow further are only those of query terms (inverted-index
    * pruning as a broadcast semi-join — no full-corpus score pass), and df
    * is pruned the same way before it broadcasts. Every double here is
    * derived from exact integers with literals written IDENTICALLY in the
    * DuckDB oracles — per-term contributions round to integer micros before
    * the per-doc sum, so cross-engine ln() last-ulp noise can't surface
    * (the q77 discipline, hardened against summation order by integer
    * accumulation).
    */
  private[graft] def retrievalParts(s: SparkSession, d: String): DataFrame = {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), filter(toks, t => t =!= "").as("toks"))
    val terms = tk.select(col("doc_id"), explode(col("toks")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tk.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("nd"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = tk.filter(col("doc_id") < RetrNQ)
      .select(col("doc_id").as("q_id"), explode(slice(col("toks"), 1, RetrQTerms)).as("term"))
      .distinct()
    val dfq = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
    tf.join(broadcast(qterms), Seq("term"))
      .filter(col("q_id") =!= col("doc_id"))
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
  }

  /** Literals below (2.2, 1.2, 0.25, 0.75) are written as plain decimal
    * literals in BOTH engines — k1+1 computed at runtime would round to a
    * DIFFERENT double than the literal 2.2 (the sum lands exactly on a
    * representable-double midpoint), and the oracle would drift last-ulp.
    */
  private[graft] def bm25Contrib: Column =
    log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
      (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))

  private[graft] def tfidfContrib: Column =
    col("tf") * log((col("nd") + 1.0) / (col("df") + 1.0))

  /** Σ per-term round(contrib·1e6) as long — exact, order-free. */
  private[graft] def scoreMicros(parts: DataFrame, contrib: Column): DataFrame =
    parts
      .withColumn("m", round(contrib * 1000000.0).cast("long"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("m")).as("micros"))

  /** Top-`n` (micros desc, doc_id) per query — WindowGroupLimit shape. */
  private[graft] def topPool(scored: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("micros").desc, col("doc_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= n)
  }

  /** The shared CTE prefix of both retrieval oracles — must stay textually
    * in lockstep with [[retrievalParts]] (same filters, same literals).
    */
  private[operators] val retrOracleParts: String =
    s"""WITH t AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |tm AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tm GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM t),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |qt AS (SELECT DISTINCT doc_id AS q_id, unnest(toks[1:$RetrQTerms]) AS term
       |  FROM t WHERE doc_id < $RetrNQ),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tm GROUP BY term),
       |p AS (SELECT qt.q_id, tf.doc_id, tf.tf, df.df, dl.dl, st.nd, st.avgdl
       |  FROM tf JOIN qt USING (term) JOIN df USING (term)
       |    JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
       |  WHERE tf.doc_id <> qt.q_id)""".stripMargin

  private[operators] val bm25OracleScore: String =
    """sc AS (SELECT q_id, doc_id,
      |    CAST(sum(CAST(round(ln((nd - df + 0.5) / (df + 0.5) + 1.0)
      |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |      * 1000000.0) AS BIGINT)) AS BIGINT) AS micros
      |  FROM p GROUP BY 1, 2)""".stripMargin

  private val tfidfOracleScore: String =
    """sc2 AS (SELECT q_id, doc_id,
      |    CAST(sum(CAST(round(tf * ln((nd + 1.0) / (df + 1.0))
      |      * 1000000.0) AS BIGINT)) AS BIGINT) AS micros
      |  FROM p GROUP BY 1, 2)""".stripMargin

  val entries: Seq[Entry] = Seq(
    // q30: word count THROUGH the MR-parity engine (scan → flatMap(map) →
    // hash shuffle → sortWithinPartitions → streaming grouped reduce) — the
    // reference's whole surface as one Spark plan. The corpus is pure
    // [a-z ]+, so the strtok-" ,.\"'" tokenizer reduces to space-split, which
    // keeps the SQL oracle exact.
    Entry(
      "q30_mr_wordcount",
      (s, d) => {
        import s.implicits._
        val lines = Tables.documents(s, d).select(col("text")).as[String]
        MRRunner
          .transform(s, lines, WordCount, 32)
          .toDF("word", "cnt_str")
          .select(col("word"), col("cnt_str").cast("long").as("cnt"))
          .orderBy(col("word"))
      },
      Some("""SELECT word, count(*) AS cnt FROM (
             | SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
             |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin)),

    // q31: per-language token statistics — single scan, array fns codegen'd.
    Entry(
      "q31_token_stats",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("lang"),
            size(toks).cast("long").as("tokens"),
            length(col("text")).cast("long").as("chars"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("tokens")).as("sum_tokens"),
            round(avg(col("tokens")), 4).as("avg_tokens"),
            max(col("tokens")).as("max_tokens"),
            min(col("tokens")).as("min_tokens"),
            round(avg(col("chars")), 4).as("avg_chars"))
          .orderBy(col("lang")),
      Some("""WITH t AS (SELECT lang,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS tokens,
             |  length(text) AS chars FROM documents)
             |SELECT lang, count(*) AS n_docs,
             | CAST(sum(tokens) AS BIGINT) AS sum_tokens,
             | round(avg(tokens),4) AS avg_tokens,
             | max(tokens) AS max_tokens, min(tokens) AS min_tokens,
             | round(avg(chars),4) AS avg_chars
             |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // q32: quality scoring — type-token ratio, stopword ratio, mean word
    // length; the standard cheap pretraining-corpus filters, one scan.
    Entry(
      "q32_text_quality",
      (s, d) => {
        val stops = stopwords
        Tables.documents(s, d)
          .select(
            col("lang"),
            size(toks).cast("double").as("tokens"),
            size(array_distinct(toks)).cast("double").as("dtokens"),
            size(filter(toks, t => t.isInCollection(stops))).cast("double").as("stops"),
            length(regexp_replace(col("text"), " ", "")).cast("double").as("wchars"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg(col("dtokens") / col("tokens")), 4).as("avg_ttr"),
            round(avg(col("stops") / col("tokens")), 4).as("avg_stop_ratio"),
            round(avg(col("wchars") / col("tokens")), 4).as("avg_word_len"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH t AS (SELECT lang, string_split(text,' ') AS toks,
              |  CAST(length(replace(text,' ','')) AS DOUBLE) AS wchars
              | FROM documents),
              |p AS (SELECT lang,
              |  CAST(len(toks) AS DOUBLE) AS tokens,
              |  CAST(len(list_distinct(toks)) AS DOUBLE) AS dtokens,
              |  CAST(len(list_filter(toks, x -> x IN (${stopwords.map("'" + _ + "'").mkString(",")}))) AS DOUBLE) AS stops,
              |  wchars FROM t)
              |SELECT lang, count(*) AS n_docs,
              | round(avg(dtokens/tokens),4) AS avg_ttr,
              | round(avg(stops/tokens),4) AS avg_stop_ratio,
              | round(avg(wchars/tokens),4) AS avg_word_len
              |FROM p GROUP BY lang ORDER BY lang""".stripMargin)),

    // q33: language-ID by keyword-frequency heuristic (n-gram-counting shape;
    // on this synthetic single-vocabulary corpus the interesting output is
    // the deterministic label × guess confusion matrix).
    Entry(
      "q33_lang_id",
      (s, d) => {
        def cnt(kw: String): Column =
          (length(col("text")) - length(regexp_replace(col("text"), kw, "")))
            .cast("long") / lit(kw.length.toLong)
        Tables.documents(s, d)
          .withColumn("c_the", cnt("the"))
          .withColumn("c_data", cnt("data"))
          .withColumn("c_row", cnt("row"))
          .withColumn(
            "guess",
            when(col("c_the") >= col("c_data") && col("c_the") >= col("c_row"), "en")
              .when(col("c_data") >= col("c_row"), "de")
              .otherwise("es"))
          .groupBy(col("lang"), col("guess"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("guess"))
      },
      Some("""WITH c AS (SELECT lang,
             |  (length(text)-length(replace(text,'the','')))/3 AS c_the,
             |  (length(text)-length(replace(text,'data','')))/4 AS c_data,
             |  (length(text)-length(replace(text,'row','')))/3 AS c_row
             | FROM documents)
             |SELECT lang,
             | CASE WHEN c_the >= c_data AND c_the >= c_row THEN 'en'
             |      WHEN c_data >= c_row THEN 'de' ELSE 'es' END AS guess,
             | count(*) AS n
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // q34: document fingerprinting — whole-text digest + winnowing-style
    // minimum-over-16-char-windows fingerprint. Expressed over md5 so the
    // DuckDB oracle reproduces every value cross-engine (md5 is md5 in both;
    // hex strings compare lexicographically identically). The native codegen
    // kernels (fingerprint64/min_window_fp) remain the fast in-engine path
    // and are pinned by HashKernelsSuite; this query's formulation trades
    // them for full driver-checkability. Linear per-row, one scan.
    Entry(
      "q34_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            md5(col("text")).as("fp"),
            array_min(
              transform(
                sequence(lit(1), greatest(length(col("text")) - 15, lit(1))),
                i => md5(col("text").substr(i, lit(16))))).as("win_fp16"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, md5(text) AS fp,
             | list_min(list_transform(range(1, greatest(length(text)-15, 1) + 1),
             |   i -> md5(substr(text, i, 16)))) AS win_fp16
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q54: BPE-ish subword tokenization — greedy regex chunking into runs of
    // ≤4 letters (the regex-pre-tokenize shape every BPE pipeline starts
    // with; the learned-merges step would replace the fixed {1,4} quantifier).
    // Counted per language in one scan, regex evaluated inside codegen.
    Entry(
      "q54_bpe_subwords",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("lang"),
            size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0)))
              .cast("long").as("n_sub"),
            size(array_distinct(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))))
              .cast("long").as("n_uniq"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_sub")).as("subwords"),
            round(avg(col("n_sub")), 4).as("avg_subwords"),
            round(avg(col("n_uniq")), 4).as("avg_uniq_subwords"))
          .orderBy(col("lang")),
      Some("""WITH t AS (SELECT lang,
             |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_sub,
             |  CAST(len(list_distinct(regexp_extract_all(text, '[a-z]{1,4}'))) AS BIGINT) AS n_uniq
             | FROM documents)
             |SELECT lang, count(*) AS n_docs,
             | CAST(sum(n_sub) AS BIGINT) AS subwords,
             | round(avg(n_sub),4) AS avg_subwords,
             | round(avg(n_uniq),4) AS avg_uniq_subwords
             |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // q55: character-trigram Jaccard near-dup pairs — order-sensitive n-gram
    // similarity complementing q37 (word sets) and q36 (token shingles).
    // CANDIDATES-then-CONFIRM like q36/q37: candidates from a char-trigram
    // MinHash band equi-join (minhash_sig_chars hashes the same byte windows
    // the confirm step substrings, set semantics on both sides), exact
    // trigram-set Jaccard within candidates only. 16 bands × 2 rows ⇒ miss
    // prob ≤ (1−0.9²)^16 ≈ 3.1e-12 at the threshold, so output equals the
    // brute-force oracle. No crossJoin anywhere in the plan.
    //
    // Encoding contract: the minhash kernel windows over UTF-8 CODEPOINTS
    // (never splitting a multibyte character), so the candidate/prefilter
    // measure estimates the same character-trigram Jaccard the confirm
    // computes with substr — the recall bound holds on multibyte text, not
    // just single-byte encodings (HashKernelsSuite pins the multibyte case).
    Entry(
      "q55_ngram_jaccard",
      (s, d) =>
        Dedup.clusteredNeardup(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          // r21: native kernel — distinct xxhash64 of the same codepoint
          // windows the former array_distinct(transform(substr)) built as
          // strings; the confirm already ran on xxhash64'd sets (the
          // hashedFeat trade), so values are unchanged
          t => call_function("char_gram_hashes", t, lit(3)),
          t => call_function("minhash_sig_chars", t, lit(32), lit(3)),
          32,
          0.9,
          estPrefilter = true,
          featHashed = true),
      Some("""WITH g AS (SELECT doc_id,
             |  list_distinct(list_transform(range(1, greatest(length(text)-2, 1) + 1),
             |    i -> substr(text, i, 3))) AS g
             | FROM documents),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) AS inter,
             |  len(a.g) AS la, len(b.g) AS lb
             | FROM g a JOIN g b ON a.doc_id < b.doc_id)
             |SELECT a_id, b_id, round(inter/(la+lb-inter),4) AS jac
             |FROM p WHERE inter/(la+lb-inter) >= 0.9
             |ORDER BY a_id, b_id""".stripMargin)),

    // q77: TF-IDF top terms — the classic relevance weighting: term
    // frequency per doc × inverse document frequency over the corpus,
    // top-3 terms per document. Two shuffles (tf groupBy, df groupBy), the
    // df side joins back by term (broadcast-able when the vocabulary is
    // small, shuffle join at corpus scale), rank via window. Scores are
    // rounded before ranking so last-ulp ln() differences between engines
    // cannot flip the order; ties break on the term.
    Entry(
      "q77_tfidf_topk",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // corpus size as a 1-row broadcast aggregate (the q18 scalar-subquery
        // shape) — no driver-side action in the query path
        val nDocs = docs.agg(count(lit(1)).cast("double").as("nd"))
        val terms = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val df = terms.select(col("doc_id"), col("term")).distinct()
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))
        tf.join(df, Seq("term"))
          .crossJoin(broadcast(nDocs))
          .withColumn(
            "score",
            round(col("tf") * log((col("nd") + 1) / (col("df") + 1)), 6))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("score"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
             |  WHERE term <> '' GROUP BY doc_id, term),
             |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t
             |  WHERE term <> '' GROUP BY term),
             |n AS (SELECT count(*) AS nd FROM documents),
             |s AS (SELECT tf.doc_id, tf.term,
             |   round(tf.tf * ln((n.nd + 1.0) / (df.df + 1)), 6) AS score
             | FROM tf JOIN df USING (term) CROSS JOIN n),
             |r AS (SELECT doc_id, term, score,
             |   CAST(row_number() OVER (PARTITION BY doc_id
             |     ORDER BY score DESC, term) AS BIGINT) AS rank
             | FROM s)
             |SELECT doc_id, rank, term, score FROM r
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // q69: stratified sampling — per-language corpus mixing, the standard
    // pretraining-mix operator (weight strata differently). `sampleBy` does
    // per-row Bernoulli against the stratum's fraction — one scan, no
    // shuffle before the small per-stratum count agg. The realized fraction
    // is random, so the query self-checks the deviation per stratum against
    // a σ-SCALED bound — 4.5·sqrt(f(1−f)/n), the binomial standard error of
    // that stratum's own size — and emits the data-derived source counts;
    // the oracle reproduces the counts and a literal TRUE. σ-scaling makes
    // the bound mean the same thing at every stratum size (the old flat 0.2
    // was ~9σ for a 1000-doc stratum and 3.4σ for a 26-doc one); 4.5σ keeps
    // the per-stratum false-alarm odds ≲1e-5 even though sampleBy's
    // per-partition rand(seed) re-draws when partition layout/cpu count
    // changes.
    Entry(
      "q69_stratified_sample",
      (s, d) => {
        val fractions = Map(
          "en" -> 0.5, "de" -> 0.4, "es" -> 0.3, "fr" -> 0.2, "zh" -> 0.1)
        val docs = Tables.documents(s, d)
        val sampled = docs.stat.sampleBy("lang", fractions, 42L)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
        val totals = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val fracCol = fractions.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
          when(col("lang") === k, v).otherwise(acc)
        }
        val sigma = sqrt(fracCol * (lit(1.0) - fracCol) / col("n_docs"))
        totals.join(sampled, Seq("lang"), "left_outer")
          .select(
            col("lang"),
            col("n_docs"),
            (abs(coalesce(col("n_sampled"), lit(0L)) / col("n_docs") - fracCol)
              <= sigma * 4.5)
              .as("frac_ok"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs, TRUE AS frac_ok
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // q81: ONE REAL BPE MERGE ROUND on top of q54's regex pre-tokenization —
    // the actual learn step: (1) count adjacent token pairs corpus-wide,
    // (2) pick the most frequent pair (ties break lexicographically),
    // (3) re-segment every document by greedily merging non-overlapping
    // occurrences left-to-right (textbook BPE application order).
    //
    // The greedy re-segment is computed with pure codegen string ops, no
    // UDF: the token list is serialized with DOUBLE spaces (' a  b  c '), so
    // every token owns one space on each side; the pair (x,y) then appears
    // exactly as ' x  y ' and a plain left-to-right replace() to ' xy '
    // (a) can't match x/y as substrings of longer tokens, (b) consumes the
    // shared token on overlapping occurrences exactly like the greedy BPE
    // scan ('a a a' merges once), and (c) still matches back-to-back
    // disjoint occurrences (each keeps its own outer spaces). Each merge
    // shrinks the string by exactly 2 chars, so n_merges falls out of the
    // length delta. Scale shape: pair counting is one partial-agged
    // groupBy; the chosen pair is a 1-row broadcast (the q77 corpus-size
    // shape); re-segmentation is a single linear scan.
    Entry(
      "q81_bpe_merge",
      (s, d) => {
        val toks = Tables.documents(s, d).select(
          col("lang"),
          regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0)).as("toks"))
        val n1 = greatest(size(col("toks")) - 1, lit(0))
        val top = toks
          .select(explode(zip_with(
            slice(col("toks"), lit(1), n1),
            slice(col("toks"), lit(2), n1),
            (a, b) => concat(a, lit(" "), b))).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(1)
          .select(
            split(col("pair"), " ").getItem(0).as("x"),
            split(col("pair"), " ").getItem(1).as("y"))
        val serialized = concat(lit(" "), concat_ws("  ", col("toks")), lit(" "))
        val pat = concat(lit(" "), col("x"), lit("  "), col("y"), lit(" "))
        val rep = concat(lit(" "), col("x"), col("y"), lit(" "))
        toks.crossJoin(broadcast(top))
          .select(
            col("lang"),
            size(col("toks")).cast("long").as("nt"),
            // shiftright 1 = exact halving of the (always even) length
            // delta in pure integer — PlanGuardSuite bans the previous
            // double `/ 2` + cast shape (the q231 class)
            shiftright((length(serialized) -
              length(replace(serialized, pat, rep))).cast("long"), 1)
              .as("nm"),
            concat(col("x"), col("y")).as("merged"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            min(col("merged")).as("merged_token"),
            sum(col("nt")).as("toks_before"),
            sum(col("nm")).as("n_merges"),
            (sum(col("nt")) - sum(col("nm"))).as("toks_after"))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (SELECT lang, regexp_extract_all(text, '[a-z]{1,4}') AS toks
             |  FROM documents),
             |p AS (SELECT unnest(list_transform(range(2, len(toks)+1),
             |    i -> toks[i-1] || ' ' || toks[i])) AS pair FROM t),
             |top AS (SELECT string_split(pair,' ')[1] AS x, string_split(pair,' ')[2] AS y
             |  FROM (SELECT pair, count(*) AS cnt FROM p GROUP BY pair
             |        ORDER BY cnt DESC, pair LIMIT 1)),
             |m AS (SELECT lang, len(toks) AS nt,
             |    ' ' || array_to_string(toks, '  ') || ' ' AS s, x, y
             |  FROM t CROSS JOIN top),
             |c AS (SELECT lang, nt,
             |    (length(s) - length(replace(s, ' '||x||'  '||y||' ', ' '||x||y||' ')))//2 AS nm,
             |    x||y AS merged
             |  FROM m)
             |SELECT lang, count(*) AS n_docs, min(merged) AS merged_token,
             |  CAST(sum(nt) AS BIGINT) AS toks_before,
             |  CAST(sum(nm) AS BIGINT) AS n_merges,
             |  CAST(sum(nt) - sum(nm) AS BIGINT) AS toks_after
             |FROM c GROUP BY lang ORDER BY lang""".stripMargin)),

    // q83: LEARN A BPE VOCABULARY — q81's single merge round iterated N
    // times, the actual tokenizer-training loop: each round counts adjacent
    // token pairs corpus-wide, picks the most frequent (ties break
    // lexicographically), and greedily re-segments every document; the
    // merged token from round r participates in round r+1's pair counts.
    // Output is the learned merge list (round, x, y) plus the corpus token
    // count after each round — the last row carries the final vocabulary
    // state.
    //
    // Round mechanics are exactly q81's (see that entry for why the
    // double-space serialization makes plain replace() the greedy BPE scan);
    // the serialized form is closed under the merge rewrite (each match
    // keeps one space on each side), so rounds compose by re-splitting the
    // same column. Scale shape per round: one partial-agged pair-count
    // groupBy + a 1-row broadcast top pair + a linear re-segment scan. The
    // lineage of round r embeds rounds 1..r-1, so the pure N-round plan
    // recomputes the corpus O(N²) times — the per-round checkpoint
    // (see bpeVocab) cuts the lineage per round for tokenizer-scale N; at
    // N=4 on the fixtures the default pure plan is cheap and keeps the
    // query a single declarative tree the oracle can unroll as CTEs.
    Entry(
      "q83_bpe_vocab",
      (s, d) => bpeVocab(s, d, rounds = 4),
      Some {
        // unroll the same N rounds as CTEs: s{r} is the re-segmented corpus
        // after round r, t{r} the chosen pair, r{r} the emitted row
        def roundCte(r: Int): String = {
          val prev = s"s${r - 1}"
          s"""p$r AS (SELECT unnest(list_transform(range(2, len(toks)+1),
             |    i -> toks[i-1] || ' ' || toks[i])) AS pair
             |  FROM (SELECT list_filter(string_split(trim(s, ' '), '  '), t -> t <> '') AS toks
             |        FROM $prev)),
             |t$r AS (SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y, cnt
             |  FROM (SELECT pair, count(*) AS cnt FROM p$r GROUP BY pair
             |        ORDER BY cnt DESC, pair LIMIT 1)),
             |m$r AS (SELECT replace(s, ' '||x||'  '||y||' ', ' '||x||y||' ') AS s, x, y, cnt
             |  FROM $prev CROSS JOIN t$r),
             |r$r AS (SELECT $r AS round, min(x) AS x, min(y) AS y, min(cnt) AS pair_cnt,
             |    sum(len(list_filter(string_split(trim(s, ' '), '  '), t -> t <> ''))) AS toks_after
             |  FROM m$r),
             |s$r AS (SELECT s FROM m$r)""".stripMargin
        }
        s"""WITH s0 AS (SELECT ' ' || array_to_string(regexp_extract_all(text, '[a-z]{1,4}'), '  ') || ' ' AS s
           |  FROM documents),
           |${(1 to 4).map(roundCte).mkString(",\n")}
           |SELECT CAST(round AS BIGINT) AS round, x, y,
           |  CAST(pair_cnt AS BIGINT) AS pair_cnt,
           |  CAST(toks_after AS BIGINT) AS toks_after
           |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
           |      UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
           |ORDER BY round""".stripMargin
      }),

    // q89: PER-GROUP QUOTA CAPPING — the corpus-mixing primitive that caps
    // each stratum (lang here; domain/source in production) at K docs,
    // keeping the K best by a quality proxy (n_chars desc, doc_id asc for
    // determinism). A single `row_number` window would put each whole
    // stratum in ONE task — the classic hot-domain skew at 100 TB (one
    // domain can be 10% of the corpus) — so this is the SALTED TWO-PHASE
    // top-K (the q64/q80 pattern): phase 1 takes the per-(lang, salt)
    // top-K over S hash slices in parallel; phase 2 re-ranks only the
    // ≤ S·K survivors per lang. Exact by dominance: a doc outside its
    // slice's top-K is beaten by ≥K same-lang docs, so it cannot be in the
    // global top-K. Output equals the single-window oracle.
    Entry(
      "q89_quota_cap",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val k = 50
        val slices = 8
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val w1 = Window.partitionBy(col("lang"), col("salt"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        val survivors = docs
          .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(slices.toLong)).cast("int"))
          .withColumn("r1", row_number().over(w1))
          .filter(col("r1") <= k)
        val w2 = Window.partitionBy(col("lang"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        survivors
          .withColumn("rank", row_number().over(w2).cast("long"))
          .filter(col("rank") <= k)
          .select(col("lang"), col("rank"), col("doc_id"), col("n_chars"))
          .orderBy(col("lang"), col("rank"))
      },
      Some("""WITH r AS (SELECT lang, doc_id, n_chars,
             |  CAST(row_number() OVER (PARTITION BY lang
             |    ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
             |  FROM documents)
             |SELECT lang, rank, doc_id, n_chars FROM r
             |WHERE rank <= 50 ORDER BY lang, rank""".stripMargin)),

    // q88: REPETITION-BASED QUALITY FILTERING — the Gopher-style (Rae et
    // al., "Scaling Language Models", §A1.1) repetition rules adapted to
    // this corpus's single-line docs: fraction of words in the most
    // frequent word, duplicate-word fraction, and most-frequent-bigram
    // fraction, plus the low_quality flag (top_word > 0.12 OR dup > 0.65
    // OR top_bigram > 0.06 — thresholds sit at the fixture's p80-p95 so
    // the flag splits it non-trivially). Scale shape: per-doc metrics need
    // NO shuffle at all — one scan, higher-order array functions per row
    // (max run length over the sorted token array instead of an
    // explode+groupBy that would shuffle every word occurrence). The flag
    // compares INTEGERS (max_w·25 > n_words·3 etc.), so the boolean is
    // exact across engines regardless of float rounding.
    Entry(
      "q88_repetition_quality",
      (s, d) =>
        repetitionCounts(Tables.documents(s, d).select(col("doc_id"), col("text")))
          .select(
            col("doc_id"),
            col("n_words"),
            round(col("max_w") / col("n_words"), 4).as("top_word_frac"),
            round((col("n_words") - col("n_distinct")) / col("n_words"), 4)
              .as("dup_word_frac"),
            round(col("max_bg") / col("n_bg"), 4).as("top_bigram_frac"),
            lowQuality.as("low_quality"))
          .orderBy(col("doc_id")),
      Some(sql"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |$repetitionCtes,
             |bs AS (SELECT doc_id, max(cnt) AS max_bg, sum(cnt) AS n_bg FROM bc GROUP BY doc_id)
             |SELECT t.doc_id, CAST(ws.n_words AS BIGINT) AS n_words,
             |  round(ws.max_w * 1.0 / ws.n_words, 4) AS top_word_frac,
             |  round((ws.n_words - ws.n_distinct) * 1.0 / ws.n_words, 4) AS dup_word_frac,
             |  round(coalesce(bs.max_bg, 0) * 1.0 / greatest(coalesce(bs.n_bg, 0), 1), 4)
             |    AS top_bigram_frac,
             |  (ws.max_w * 25 > ws.n_words * 3
             |   OR (ws.n_words - ws.n_distinct) * 20 > ws.n_words * 13
             |   OR coalesce(bs.max_bg, 0) * 50 > greatest(coalesce(bs.n_bg, 0), 1) * 3)
             |    AS low_quality
             |FROM t JOIN ws USING (doc_id) LEFT JOIN bs USING (doc_id)
             |ORDER BY doc_id""")),

    // q85: content fingerprinting via the winnowing kernels — whole-string
    // polynomial rolling hash (`fingerprint64`, position-sensitive: the
    // exact-dup/citation detector) and the minimum 32-byte-window
    // fingerprint (`min_window_fp`, a winnowing-style digest robust to
    // small appends/prefixes — the partial-overlap detector; Schleimer/
    // Wilkerson/Aiken's local fingerprinting idea reduced to its min-hash
    // core). One linear codegen'd scan, trivially partition-parallel at
    // 100 TB. The 64-bit values are engine-defined, so the oracle pins
    // GOLDEN DIGESTS per fixture, selected by the DuckDB-computable
    // sum(n_chars) discriminator — the q38 pattern; HashKernelsSuite pins
    // per-string kernel values SF-independently, and `graft.PinDigests`
    // re-prints this table if the fixtures are ever regenerated.
    Entry(
      "q85_winnow_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            call_function("fingerprint64", col("text")).as("fp"),
            call_function("min_window_fp", col("text"), lit(32)).as("wfp"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_fp"),
            countDistinct(col("wfp")).as("n_wfp"),
            expr("bit_xor(fp)").as("fp_xor"),
            expr("bit_xor(wfp)").as("wfp_xor")),
      Some("""WITH disc AS (SELECT sum(n_chars) AS cs FROM documents)
             |SELECT count(*) AS n_docs,
             | CAST(CASE (SELECT cs FROM disc)
             |   WHEN 153156 THEN 500
             |   WHEN 149174 THEN 500
             |   WHEN 1485576 THEN 4992
             |   ELSE -1 END AS BIGINT) AS n_fp,
             | CAST(CASE (SELECT cs FROM disc)
             |   WHEN 153156 THEN 476
             |   WHEN 149174 THEN 476
             |   WHEN 1485576 THEN 4760
             |   ELSE -1 END AS BIGINT) AS n_wfp,
             | CAST(CASE (SELECT cs FROM disc)
             |   WHEN 153156 THEN -4266715645407784269
             |   WHEN 149174 THEN -5369659415614341168
             |   WHEN 1485576 THEN -3605508136639703258
             |   ELSE 0 END AS BIGINT) AS fp_xor,
             | CAST(CASE (SELECT cs FROM disc)
             |   WHEN 153156 THEN 483467598126922574
             |   WHEN 149174 THEN 1854787551796979470
             |   WHEN 1485576 THEN 3718796181079258634
             |   ELSE 0 END AS BIGINT) AS wfp_xor
             |FROM documents""".stripMargin)),

    // q93: COUNT-MIN SKETCH over corpus bigrams (Cormode/Muthukrishnan) —
    // the streaming-frequency primitive. d=4 hash rows × w=64 counters;
    // counter(i,b) = Σ cnt over bigrams with xxhash64(bg,i) mod w = b;
    // est(bg) = min_i counter(i, h_i(bg)). Built from the PARTIAL-AGGED
    // exact count table (sum is associative, so sketching the aggregate
    // equals sketching the stream) — one bigram-key shuffle, then a 4×64-row
    // sketch; at 100 TB the sketch build is a map-side-combined agg over
    // 8-byte (row,bucket) keys and the whole output is 256 counters.
    // Driver-checkable outputs: exact n_bigrams/n_occurrences plus the CMS
    // guarantees — est ≥ true ALWAYS (deterministic), and the measured
    // overestimates against their expectation bounds (E[row overest] =
    // (N−cnt)/w < N/w; min over 4 independent rows — avg ≤ N/w and
    // max ≤ 4N/w hold with wide margin on the fixtures, and are
    // deterministic per fixture since xxhash64 is seeded).
    Entry(
      "q93_countmin_sketch",
      (s, d) => {
        val w = 64L
        val dRows = 4
        val truth = Tables.documents(s, d)
          .select(explode(call_function("token_bigrams", col("text"))).as("bg"))
          .groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        // materialize the bigram count table before the fan-out: `buckets`
        // feeds both the sketch build and the estimate join, and without a
        // barrier the bigram-count shuffle can re-plan per consumer — the
        // same two-consumer problem the q94 codebook solves the same way.
        val buckets = truth.select(col("bg"), col("cnt"),
          posexplode(array((0 until dRows).map(i =>
            pmod(xxhash64(col("bg"), lit(i)), lit(w))): _*)).as(Seq("row", "bucket")))
          .localCheckpoint()
        val sketch = buckets.groupBy(col("row"), col("bucket"))
          .agg(sum(col("cnt")).as("counter"))
        val est = buckets
          .join(broadcast(sketch), Seq("row", "bucket"))
          .groupBy(col("bg"), col("cnt")).agg(min(col("counter")).as("est"))
        // N = Σ (len-1) over docs — linear, no third pass over the bigram agg
        val total = Tables.documents(s, d)
          .select(greatest(size(split(col("text"), " ")) - 1, lit(0))
            .cast("long").as("nb"))
          .agg(sum(col("nb")).as("n_total"))
        est.crossJoin(broadcast(total))
          .agg(
            count(lit(1)).as("n_bigrams"),
            sum(col("cnt")).cast("long").as("n_occurrences"),
            (min(col("est") - col("cnt")) >= 0L).as("no_underestimate"),
            (sum(col("est") - col("cnt")) * w <= count(lit(1)) * max(col("n_total")))
              .as("avg_overest_ok"),
            (max(col("est") - col("cnt")) * w <= lit(4L) * max(col("n_total")))
              .as("max_overest_ok"))
      },
      Some("""WITH t AS (SELECT string_split(text,' ') AS toks FROM documents),
             |bg AS (SELECT unnest(list_transform(range(2, len(toks)+1),
             |    i -> toks[i-1] || ' ' || toks[i])) AS bg FROM t),
             |c AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY 1)
             |SELECT count(*) AS n_bigrams, CAST(sum(cnt) AS BIGINT) AS n_occurrences,
             |  TRUE AS no_underestimate, TRUE AS avg_overest_ok, TRUE AS max_overest_ok
             |FROM c""".stripMargin)),

    // q95: BIGRAM-LM COVERAGE quality scoring — the perplexity-proxy filter
    // a training pipeline runs when a real LM is too expensive: score each
    // document by the fraction of its bigram OCCURRENCES whose corpus
    // frequency clears 0.1% (cnt·1000 ≥ N — scale-free, so the threshold
    // transfers across SFs), flag docs covered below 75%. All-integer
    // arithmetic end-to-end (counts and cross-multiplied ratio compares),
    // so the oracle match is exact. Plan: one bigram-key shuffle for the
    // corpus model, one join of doc-bigrams against it (domain-bounded
    // model table — AQE broadcasts it at fixture scale; at a real vocab it
    // shuffle-joins on the same key the model agg just produced), corpus
    // size as a 1-row broadcast agg, then per-doc and per-lang partial
    // aggs. Docs with <2 tokens have no bigrams and are out of scope in
    // both engines (explode and unnest agree on empty).
    Entry(
      "q95_bigram_coverage",
      (s, d) => {
        val docBg = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(call_function("token_bigrams", col("text"))).as("bg"))
        val corpus = docBg.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        // n_total = Σ per-doc bigram counts = Σ (len-1): one LINEAR scan of
        // doc lengths — never re-explodes the corpus or re-runs the bigram
        // shuffle (column pruning makes the corpus-agg subtree non-reusable
        // for this, so derive it from the cheaper identity instead)
        val total = Tables.documents(s, d)
          .select(greatest(size(split(col("text"), " ")) - 1, lit(0))
            .cast("long").as("nb"))
          .agg(sum(col("nb")).as("n_total"))
        docBg.join(corpus, Seq("bg"))
          .crossJoin(broadcast(total))
          .groupBy(col("doc_id"), col("lang"))
          .agg(
            count(lit(1)).as("n_bg"),
            sum(when(col("cnt") * 1000 >= col("n_total"), 1L).otherwise(0L))
              .as("n_covered"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_bg")).cast("long").as("n_bigrams"),
            sum(col("n_covered")).cast("long").as("n_covered"),
            sum(when(col("n_covered") * 4 >= col("n_bg") * 3, 1L).otherwise(0L))
              .as("n_well_covered"))
          .orderBy(col("lang"))
      },
      Some("""WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
             |d AS (SELECT doc_id, lang, unnest(list_transform(range(2, len(toks)+1),
             |    i -> toks[i-1] || ' ' || toks[i])) AS bg FROM t),
             |c AS (SELECT bg, count(*) AS cnt FROM d GROUP BY 1),
             |tot AS (SELECT sum(cnt) AS n FROM c),
             |pd AS (SELECT doc_id, lang, count(*) AS n_bg,
             |    sum(CASE WHEN c.cnt * 1000 >= (SELECT n FROM tot) THEN 1 ELSE 0 END) AS n_cov
             |  FROM d JOIN c USING (bg) GROUP BY 1, 2)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
             |  CAST(sum(n_cov) AS BIGINT) AS n_covered,
             |  CAST(sum(CASE WHEN n_cov * 4 >= n_bg * 3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_well_covered
             |FROM pd GROUP BY lang ORDER BY lang""".stripMargin)),

    // q194: MODEL-BASED QUALITY CLASSIFIER — the production complement to
    // the heuristic tier (Gopher q88, bigram-LM q95): a LINEAR classifier
    // over hashed n-gram features, the fastText shape (Joulin et al. '16)
    // every web-scale quality filter (CCNet, GPT-3's WebText classifier)
    // actually ships. Features are lowercased alnum unigrams + bigrams
    // (the vocabulary normalization a real tokenizer applies — and what
    // keeps the per-codepoint fold engine-portable), hashed into 4096
    // buckets by an explicit 31-polynomial fold (mod at every step, so
    // the arithmetic is exact and cross-engine bit-identical); the weight
    // vector is FROZEN — training stays offline (the verdict's framing) —
    // as a deterministic Knuth-multiplicative function of the bucket id
    // standing in for a loaded artifact; production swaps in a broadcast
    // 4096-long array and nothing else changes. Score = Σ w[h(f)] over
    // feature OCCURRENCES, all integer; keep = score > 0.
    //
    // THE 100 TB SHAPE IS THE POINT: inference is ONE map pass — the
    // entire model application is a single codegen'd projection (nested
    // higher-order aggregate, no UDF, no join, no shuffle); the only
    // exchange in the plan is the ≤n_langs-row rollup. A classifier that
    // joined docs against a feature table would shuffle the corpus;
    // this ships the model to the data.
    Entry(
      "q194_quality_classifier",
      (s, d) => {
        val scored = classifierScores(s, d)
        scored
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_feats")).as("n_feats"),
            sum(col("score")).as("score_sum"),
            sum(when(col("score") > 0L, 1L).otherwise(0L)).as("n_keep"))
          .orderBy(col("lang"))
      },
      Some(sql"""${withClsFeatures("doc_id, lang")},
             |e AS (SELECT doc_id, lang,
             |    CAST(len(feats) AS BIGINT) AS n_feats,
             |    $clsScore
             |  FROM f)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_feats) AS BIGINT) AS n_feats,
             |  CAST(sum(score) AS BIGINT) AS score_sum,
             |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_keep
             |FROM e GROUP BY lang ORDER BY lang""")),

    // q96: SEQUENCE PACKING — the pretraining batch-assembly primitive:
    // concatenate the corpus in doc_id order and cut into fixed
    // L=2048-token context windows; report, per window ("bin"), how many
    // docs touch it, how many start in it, and its token fill (= L
    // everywhere but the tail — the oracle equality proves the packing).
    // The running token offset is a DISTRIBUTED TWO-PHASE PREFIX SCAN, not
    // a global-order window (Spark plans an empty-partitionBy window into
    // ONE partition — the classic scale-killer): per-block partial sums
    // (blk = doc_id div 256) make a tiny table that a single-partition
    // window CAN cumsum (N/256 rows — at 10^9 docs, ~4M block rows vs 10^9
    // doc rows; size the block divisor ~√N to balance the two stages),
    // then each block's offset joins back and an intra-block window
    // (partitionBy blk — parallel) finishes the scan. Docs straddling a
    // cut contribute to every bin they overlap via a bounded sequence
    // explode (≤ n/L + 2 bins per doc). All integer arithmetic.
    Entry(
      "q96_sequence_packing",
      (s, d) =>
        packBins(
          Tables.documents(s, d)
            .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n")),
          2048L)
          .orderBy(col("bin")),
      Some("""WITH d AS (SELECT doc_id, len(string_split(text,' ')) AS n FROM documents
             |    WHERE len(string_split(text,' ')) > 0),
             |c AS (SELECT doc_id, n,
             |    sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d),
             |o AS (SELECT doc_id, n, CAST(cum - n AS BIGINT) AS off0,
             |    CAST(cum AS BIGINT) AS off1 FROM c),
             |pb AS (SELECT off0, off1,
             |    unnest(range(off0 // 2048, (off1 - 1) // 2048 + 1)) AS bin FROM o)
             |SELECT bin, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN off0 // 2048 = bin THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_started,
             |  CAST(sum(least(off1, (bin + 1) * 2048) - greatest(off0, bin * 2048))
             |    AS BIGINT) AS n_tokens
             |FROM pb GROUP BY bin ORDER BY bin""".stripMargin)),

    // q97: TEMPERATURE-WEIGHTED MIXTURE TARGETS (α = 0.5) — the
    // language-rebalancing step of corpus assembly: sampling weight
    // ∝ n_lang^α upweights rare languages (α=1 keeps natural proportions,
    // α=0 is uniform). Emits the per-language quota for a T=1000-doc
    // mixture; pair with q89's salted two-phase top-K to realize the
    // selection exactly. Float determinism: sqrt/÷/× are IEEE
    // correctly-rounded in both engines, and Σ√n folds SEQUENTIALLY over
    // the lang-sorted list (array_sort + aggregate HOF here, list(ORDER
    // BY) + list_reduce in the oracle — the q42 pattern), so the doubles
    // are bit-identical and the floored quotas exact. Language cardinality
    // is bounded (~hundreds at worst), so the collect_list row and the
    // broadcast are O(langs) regardless of corpus size.
    Entry(
      "q97_temperature_mix",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val tot = counts
          .agg(array_sort(collect_list(struct(col("lang"), col("n_docs")))).as("a"))
          .select(expr("aggregate(a, 0D, (acc, x) -> acc + sqrt(x.n_docs))").as("sw"))
        counts.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"),
            floor(lit(1000.0) * sqrt(col("n_docs")) / col("sw")).cast("long")
              .as("target"))
          .orderBy(col("lang"))
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
             |s AS (SELECT list_reduce(list_transform(list(n_docs ORDER BY lang),
             |    x -> sqrt(x)), (a, b) -> a + b) AS sw FROM c)
             |SELECT lang, n_docs,
             |  CAST(floor(1000.0 * sqrt(n_docs) / (SELECT sw FROM s)) AS BIGINT)
             |    AS target
             |FROM c ORDER BY lang""".stripMargin)),

    // q99: EQUI-WIDTH LENGTH HISTOGRAM — the profiling primitive behind
    // length-based quality cuts: doc-length distribution in 64-char
    // buckets (overflow clamped into the top bucket), per language AND
    // marginal in ONE pass via grouping sets (both sets share a single
    // expand+shuffle — the q44 mechanism). Integer bucket math end-to-end.
    Entry(
      "q99_length_histogram",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("lang"), least(expr("n_chars div 64"), lit(7L)).as("bucket"))
          .groupingSets(
            Seq(Seq(col("lang"), col("bucket")), Seq(col("bucket"))),
            col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n"))
          .select(coalesce(col("lang"), lit("ALL")).as("lang"), col("bucket"), col("n"))
          .orderBy(col("lang"), col("bucket")),
      Some("""SELECT coalesce(lang, 'ALL') AS lang,
             |  least(n_chars // 64, 7) AS bucket, count(*) AS n
             |FROM documents
             |GROUP BY GROUPING SETS ((lang, least(n_chars // 64, 7)),
             |  (least(n_chars // 64, 7)))
             |ORDER BY 1, 2""".stripMargin)),

    // q102: RAG/CONTEXT CHUNKING with overlap — the retrieval-indexing
    // step: C=32-token chunks at stride S=24 (overlap O=8; sized so the
    // ~55-token fixture docs genuinely split — C=128 would leave every doc
    // single-chunk and the boundary logic untested), last chunk clipped to
    // the doc end. Chunk boundaries are materialized per chunk
    // by a bounded sequence explode (k = ceil((n−C)/S)+1 rows per doc —
    // fan-out ∝ doc length, never corpus-quadratic), then reduced to
    // per-lang stats. The emitted token total obeys the exact identity
    // Σ = n + (k−1)·O per doc, which the integer oracle reproduces
    // independently from the same boundary arithmetic.
    Entry(
      "q102_rag_chunking",
      (s, d) => {
        val C = 32L; val O = 8L; val S = C - O
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n"))
          .filter(col("n") > 0)
          .withColumn("k", when(col("n") <= C, 1L)
            .otherwise(expr(s"(n - $C + $S - 1) div $S + 1")))
          .select(col("doc_id"), col("lang"), col("n"), col("k"),
            explode(sequence(lit(0L), col("k") - 1)).as("ci"))
          .withColumn("toks",
            least(col("ci") * S + C, col("n")) - col("ci") * S)
          .groupBy(col("lang"))
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_chunks"),
            sum(col("toks")).cast("long").as("n_chunk_tokens"),
            countDistinct(when(col("k") > 1, col("doc_id")))
              .as("n_multi_chunk_docs"))
          .orderBy(col("lang"))
      },
      Some("""WITH d AS (SELECT doc_id, lang, len(string_split(text,' ')) AS n
             |    FROM documents WHERE len(string_split(text,' ')) > 0),
             |k AS (SELECT doc_id, lang, n,
             |    CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END AS k
             |  FROM d),
             |ch AS (SELECT doc_id, lang, n, k, unnest(range(0, k)) AS ci FROM k),
             |b AS (SELECT lang, doc_id, k,
             |    least(ci * 24 + 32, n) - ci * 24 AS toks FROM ch)
             |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
             |  CAST(sum(toks) AS BIGINT) AS n_chunk_tokens,
             |  count(DISTINCT CASE WHEN k > 1 THEN doc_id END) AS n_multi_chunk_docs
             |FROM b GROUP BY lang ORDER BY lang""".stripMargin)),

    // q105: EXACT distributed percentiles by VALUE COUNTING — the
    // discrete-domain alternative to sketches (q47/q71 are the approx
    // forms): one partial-agged groupBy collapses the corpus to
    // (lang, value, count) — bounded by the value DOMAIN, not the row
    // count — then the cumulative walk and the rank probes run on that
    // tiny table (window partitioned per lang over ≤|domain| rows, never
    // the corpus; a single-partition corpus window is exactly what this
    // shape avoids at 100 TB). Lower-median/discrete-p90 semantics
    // (smallest v with cum ≥ ceil(q·n)) — integer ranks, no
    // interpolation, so the oracle (quantile_disc-equivalent CTE) matches
    // exactly.
    Entry(
      "q105_exact_percentiles",
      (s, d) => {
        val vc = Tables.documents(s, d)
          .groupBy(col("lang"), col("n_chars").as("v"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("lang")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy(col("lang"))
        vc
          .withColumn("cm", sum(col("c")).over(w))
          .withColumn("n", sum(col("c")).over(wn))
          .groupBy(col("lang"))
          .agg(
            max(col("n")).cast("long").as("n_docs"),
            min(when(col("cm") >= expr("(n + 1) div 2"), col("v")))
              .cast("long").as("median_lo"),
            min(when(col("cm") >= expr("(9 * n + 9) div 10"), col("v")))
              .cast("long").as("p90"))
          .orderBy(col("lang"))
      },
      Some("""WITH vc AS (SELECT lang, n_chars AS v, count(*) AS c
             |    FROM documents GROUP BY 1, 2),
             |cum AS (SELECT lang, v, c,
             |    sum(c) OVER (PARTITION BY lang ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS cm,
             |    sum(c) OVER (PARTITION BY lang) AS n FROM vc)
             |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
             |  CAST(min(CASE WHEN cm >= (n + 1) // 2 THEN v END) AS BIGINT)
             |    AS median_lo,
             |  CAST(min(CASE WHEN cm >= (9 * n + 9) // 10 THEN v END) AS BIGINT)
             |    AS p90
             |FROM cum GROUP BY lang ORDER BY lang""".stripMargin)),

    // q106: UNICODE TEXT NORMALIZATION (normalize_text codegen kernel:
    // NFC composition → ROOT-locale lowercase → whitespace collapse/trim)
    // — the corpus-ingest first stage every tokenizer in this repo assumes
    // has already run. The fixture text is pre-normalized, so the query
    // fabricates the raw-crawl shape in-query (the q98/q35 fixture-
    // fabrication pattern): tab/space padding, doubled internal spaces,
    // uppercasing, and a DECOMPOSED-accent suffix (E + combining acute,
    // chr(769)) that only a real NFC pass composes before lowercasing.
    // Output is the per-doc normalized text itself, hash-compared against
    // DuckDB's independent formulation — nfc_normalize/lower/regexp_replace
    // — so the oracle proves all three stages, not just a row count. One
    // scan, one codegen'd projection, no shuffle before the final sort.
    Entry(
      "q106_normalize_text",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            call_function(
              "normalize_text",
              concat(
                lit("\t "),
                regexp_replace(upper(col("text")), lit(" "), lit("  ")),
                // the suffix is DECOMPOSED (E + combining acute U+0301):
                // normalize_text must NFC-compose before lowercasing to agree
                // with the oracle, which builds the same decomposed input
                lit(" CAFÉ \n"))).as("norm_text"))
          .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(
             |    lower(nfc_normalize(
             |      chr(9) || ' ' || replace(upper(text), ' ', '  ')
             |        || ' CAFE' || chr(769) || ' ' || chr(10))),
             |    '[ \t\n]+', ' ', 'g')) AS norm_text,
             |  CAST(length(trim(regexp_replace(
             |    lower(nfc_normalize(
             |      chr(9) || ' ' || replace(upper(text), ' ', '  ')
             |        || ' CAFE' || chr(769) || ' ' || chr(10))),
             |    '[ \t\n]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q107: END-TO-END CORPUS-CURATION PIPELINE — the stages every
    // pretraining data pipeline chains, composed as ONE registered query
    // with no driver action between stages: raw dump (each doc ingested
    // twice — q35's fabrication) → exact dedup (hash-keyed exchange, q35's
    // shape) → Gopher repetition-quality filter (q88's rules via
    // repetitionCounts) → eval-set decontamination (q76's banded machinery
    // via decontamPairs; docs < 50 play the benchmark and leave the
    // training set) → fixed-2048 sequence packing (q96's two-phase prefix
    // scan via packBins). Output is the CURATION MANIFEST: per-stage
    // surviving row counts plus packing totals — the artifact a production
    // run logs to prove what each stage removed. The per-doc survivor
    // table is localCheckpointed ONCE before the count/packing fan-out
    // (the q93/q94 idiom: one materialization, many consumers); the
    // manifest combines 1-row global aggregates by broadcast (the q41
    // shape). The oracle replays the full chain in DuckDB CTEs, so a pass
    // proves the stages COMPOSE, not just that each works alone.
    Entry(
      "q107_curation_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val raw = docs.union(docs.select(col("doc_id") + 1000000L, col("text")))
        // exact dedup: exchange keyed on the 8-byte hash, min id survives
        // (ids < 1000000 are the originals, so survivors keep original ids)
        val ded = raw.withColumn("h", xxhash64(col("text")))
          .repartition(col("h"))
          .groupBy(col("h"), col("text"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("text"))
        val qual = repetitionCounts(ded)
          .select(col("doc_id"), col("n_words"), lowQuality.as("low_quality"))
        val flagged = Dedup.decontamPairs(ded, 50L, 0.8)
          .select(col("doc_id")).distinct()
          .withColumn("contaminated", lit(true))
        val perDoc = qual
          .join(flagged, Seq("doc_id"), "left_outer")
          .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
          .localCheckpoint()
        val keep = !col("low_quality") && col("doc_id") >= 50 && !col("contaminated")
        val counts = perDoc.agg(
          count(lit(1)).as("n_dedup"),
          sum(when(!col("low_quality"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(keep, 1L).otherwise(0L)).as("n_train"))
        val packed = packBins(
          perDoc.filter(keep).select(col("doc_id"), col("n_words").as("n")), 2048L)
        val packAgg = packed.agg(
          count(lit(1)).as("n_bins"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          max(col("n_docs")).cast("long").as("max_docs_per_bin"))
        raw.agg(count(lit(1)).as("n_raw"))
          .crossJoin(broadcast(counts))
          .crossJoin(broadcast(packAgg))
          .select(
            col("n_raw"), col("n_dedup"), col("n_quality"), col("n_train"),
            col("n_bins"), col("n_tokens"), col("max_docs_per_bin"))
      },
      Some(sql"""WITH raw AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
             |ded AS (SELECT min(doc_id) AS doc_id, text FROM raw GROUP BY text),
             |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM ded),
             |$lowQualityDocs,
             |sets AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS s FROM ded),
             |cont AS (SELECT DISTINCT c.doc_id
             |  FROM sets c CROSS JOIN (SELECT s FROM sets WHERE doc_id < 50) b
             |  WHERE c.doc_id >= 50 AND
             |    CAST(len(list_intersect(c.s, b.s)) AS DOUBLE) /
             |      (len(c.s) + len(b.s) - len(list_intersect(c.s, b.s))) >= 0.8),
             |fin AS (SELECT q.doc_id, q.n_words FROM q
             |  WHERE NOT q.low_quality AND q.doc_id >= 50
             |    AND q.doc_id NOT IN (SELECT doc_id FROM cont)),
             |c2 AS (SELECT doc_id, n_words AS n,
             |    sum(n_words) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM fin WHERE n_words > 0),
             |o AS (SELECT CAST(cum - n AS BIGINT) AS off0, CAST(cum AS BIGINT) AS off1
             |  FROM c2),
             |pb AS (SELECT off0, off1,
             |    unnest(range(off0 // 2048, (off1 - 1) // 2048 + 1)) AS bin FROM o),
             |pk AS (SELECT bin, count(*) AS nd,
             |    sum(least(off1, (bin + 1) * 2048) - greatest(off0, bin * 2048)) AS nt
             |  FROM pb GROUP BY bin)
             |SELECT (SELECT count(*) FROM raw) AS n_raw,
             |  (SELECT count(*) FROM ded) AS n_dedup,
             |  (SELECT count(*) FROM q WHERE NOT low_quality) AS n_quality,
             |  (SELECT count(*) FROM fin) AS n_train,
             |  (SELECT count(*) FROM pk) AS n_bins,
             |  CAST((SELECT sum(nt) FROM pk) AS BIGINT) AS n_tokens,
             |  CAST((SELECT max(nd) FROM pk) AS BIGINT) AS max_docs_per_bin""")),

    // q121: PER-SPLIT PACKING MANIFEST — the batch-assembly step run the
    // way training actually consumes it: Gopher quality filter (q88's
    // rules) → seeded md5 split assignment (q112's bucket) → SEQUENCE
    // PACKING PER SPLIT via [[packBinsBy]], the q96 two-phase prefix scan
    // with every window/aggregate partitioned by the split key (each
    // split's bins number from its own offset 0 — crossing splits in one
    // packed bin would leak eval docs into training batches, the bug this
    // operator exists to make impossible). Output: one manifest row per
    // split with kept-doc count, bin count, token total; Σ n_tokens over
    // splits = Σ n_words of kept docs, an identity the oracle reproduces.
    // Composes q88+q112+q96 machinery with no driver action between stages.
    Entry(
      "q121_split_packing",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val qual = repetitionCounts(docs)
          .select(col("doc_id"), col("n_words"), lowQuality.as("low_quality"))
        val assigned = qual.filter(!col("low_quality"))
          .withColumn("bucket",
            CorpusOps.md5Bucket(
              concat(lit("split:v1:"), col("doc_id").cast("string")), 100))
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val")
              .otherwise("test"))
        val packed = packBinsBy(
          assigned.select(col("split"), col("doc_id"), col("n_words").as("n")),
          2048L)
        assigned.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
          .join(
            packed.groupBy(col("split")).agg(
              count(lit(1)).as("n_bins"),
              sum(col("n_tokens")).cast("long").as("n_tokens")),
            Seq("split"))
          .orderBy(col("split"))
      },
      Some(sql"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |$lowQualityDocs,
             |a AS (SELECT doc_id, n_words,
             |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM (SELECT doc_id, n_words,
             |      ${md5Lane("'split:v1:' || doc_id::VARCHAR", castBr = Br(2))} % 100 AS b
             |    FROM q WHERE NOT low_quality)),
             |c2 AS (SELECT split, doc_id, n_words AS n,
             |    sum(n_words) OVER (PARTITION BY split ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM a WHERE n_words > 0),
             |o AS (SELECT split, CAST(cum - n AS BIGINT) AS off0,
             |    CAST(cum AS BIGINT) AS off1 FROM c2),
             |pb AS (SELECT split, off0, off1,
             |    unnest(range(off0 // 2048, (off1 - 1) // 2048 + 1)) AS bin FROM o),
             |pk AS (SELECT split, bin,
             |    sum(least(off1, (bin + 1) * 2048) - greatest(off0, bin * 2048)) AS nt
             |  FROM pb GROUP BY split, bin),
             |m AS (SELECT split, count(*) AS n_docs FROM a GROUP BY split),
             |pa AS (SELECT split, count(*) AS n_bins, CAST(sum(nt) AS BIGINT)
             |    AS n_tokens FROM pk GROUP BY split)
             |SELECT m.split, m.n_docs, pa.n_bins, pa.n_tokens
             |FROM m JOIN pa USING (split) ORDER BY m.split""")),

    // q145: BM25 TOP-K RETRIEVAL — the keyword side of a RAG retrieval
    // stack (the ANN family q40/q56/q94 is the dense side). See
    // [[retrievalParts]] for the inverted-index-pruned plan shape; scores
    // accumulate as integer micros so the oracle is exact despite ln().
    // Top-5 per query by (score, doc_id) through the rank-window
    // WindowGroupLimit shape (q07/q120 idiom).
    Entry(
      "q145_bm25_topk",
      (s, d) => {
        val pool = topPool(scoreMicros(retrievalParts(s, d), bm25Contrib), 5)
        pool
          .select(
            col("q_id"), col("rk").cast("long").as("rank"), col("doc_id"),
            (col("micros") / 1000000.0).as("score"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""$retrOracleParts,
             |$bm25OracleScore,
             |r AS (SELECT q_id, doc_id, micros,
             |    CAST(row_number() OVER (PARTITION BY q_id
             |      ORDER BY micros DESC, doc_id) AS BIGINT) AS rank
             |  FROM sc)
             |SELECT q_id, rank, doc_id,
             |  CAST(micros / 1000000.0 AS DOUBLE) AS score
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // q146: HYBRID RETRIEVAL FUSION via Reciprocal Rank Fusion
    // (Cormack/Clarke/Büttcher SIGIR'09): two independent scorers — BM25
    // and TF-IDF dot-product (the q77 weighting) — each contribute a
    // top-20 pool per query; fused score Σ 1/(60+rank) over the pools a
    // doc appears in, as exact integer micros. The fusion stage is
    // rank-arithmetic on two ≤20-row-per-query pools (a full-outer join on
    // (q_id, doc_id) of two tiny sorted sets) — at 100 TB all corpus-sized
    // work lives in the shared scoring scaffold, which is computed ONCE
    // and feeds both scorers (one tokenize scan, suite-pinned).
    Entry(
      "q146_rrf_fusion",
      (s, d) => {
        // one scoring scaffold, two scorers — localCheckpoint the ~query×
        // corpus-match-sized parts table so the corpus scan/tf/df stages
        // run once, not once per scorer (the q93/q107 idiom)
        val parts = retrievalParts(s, d).localCheckpoint()
        def pool(contrib: Column) =
          topPool(scoreMicros(parts, contrib), RetrPoolK)
        val ra = pool(bm25Contrib)
          .select(col("q_id"), col("doc_id"), col("rk").as("rk_a"))
        val rb = pool(tfidfContrib)
          .select(col("q_id").as("qb"), col("doc_id").as("db"), col("rk").as("rk_b"))
        val rrf = ra.join(
            rb, col("q_id") === col("qb") && col("doc_id") === col("db"),
            "full_outer")
          .select(
            coalesce(col("q_id"), col("qb")).as("q_id"),
            coalesce(col("doc_id"), col("db")).as("doc_id"),
            (coalesce(round(lit(1000000.0) / (lit(RrfK) + col("rk_a"))).cast("long"), lit(0L)) +
              coalesce(round(lit(1000000.0) / (lit(RrfK) + col("rk_b"))).cast("long"), lit(0L)))
              .as("rrf_micros"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("rrf_micros").desc, col("doc_id"))
        rrf
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("rank"), col("doc_id"), col("rrf_micros"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""$retrOracleParts,
             |$bm25OracleScore,
             |$tfidfOracleScore,
             |ra AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
             |    ORDER BY micros DESC, doc_id) AS rk FROM sc),
             |ra20 AS (SELECT * FROM ra WHERE rk <= $RetrPoolK),
             |rb AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
             |    ORDER BY micros DESC, doc_id) AS rk FROM sc2),
             |rb20 AS (SELECT * FROM rb WHERE rk <= $RetrPoolK),
             |f AS (SELECT coalesce(ra20.q_id, rb20.q_id) AS q_id,
             |    coalesce(ra20.doc_id, rb20.doc_id) AS doc_id,
             |    coalesce(CAST(round(1000000.0 / ($RrfK + ra20.rk)) AS BIGINT), 0)
             |      + coalesce(CAST(round(1000000.0 / ($RrfK + rb20.rk)) AS BIGINT), 0)
             |      AS rrf_micros
             |  FROM ra20 FULL OUTER JOIN rb20
             |    ON ra20.q_id = rb20.q_id AND ra20.doc_id = rb20.doc_id),
             |r AS (SELECT q_id, doc_id, rrf_micros,
             |    CAST(row_number() OVER (PARTITION BY q_id
             |      ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS rank
             |  FROM f)
             |SELECT q_id, rank, doc_id, rrf_micros
             |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // q162: LM-FAMILIARITY QUALITY FILTER — the CCNet/KenLM perplexity
    // filter re-expressed in the COUNT domain so the oracle match is
    // exact: a document's familiarity is the mean corpus frequency of its
    // bigrams, and it is "familiar" when that mean is at or above the
    // corpus-wide mean bigram frequency (total bigram tokens / distinct
    // bigram types). Low familiarity ≈ high perplexity (garbage/OCR
    // noise); far-above-mean familiarity flags boilerplate — the same
    // decision boundary KenLM filtering draws, without a float log-prob
    // whose libm bits could differ cross-engine. Plan shape (the q95
    // discipline): ONE bigram-keyed exchange builds the corpus model
    // (vocab-bounded output); the doc-bigram table shuffle-joins it on
    // the same key (AQE broadcasts the model when it fits — at 100 TB a
    // web-scale bigram vocab is ~10^9 rows, so the join stays co-located
    // on the model agg's own partitioning); the corpus constants are a
    // 1-row broadcast agg OVER THE MODEL (vocab-sized input, never a
    // corpus re-scan). The two threshold sides are IEEE divisions of
    // exact longs (q150 discipline — identical bits in both engines; a
    // cross-multiplied integer compare would overflow 2^63 at corpus
    // scale: sum_cnt ~1e12 × n_distinct ~1e9). Docs with <2 tokens have
    // no bigrams; the left join keeps them as unfamiliar with zero
    // counts (null-safe by construction).
    Entry(
      "q162_lm_familiarity",
      (s, d) => {
        val docBg = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(call_function("token_bigrams", col("text"))).as("bg"))
        val model = docBg.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        val totals = model.agg(
          sum(col("cnt")).as("n_total"),
          count(lit(1)).as("n_distinct"))
        val perDoc = docBg
          .join(model, Seq("bg"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bg"), sum(col("cnt")).as("sum_cnt"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"))
          .join(perDoc, Seq("doc_id"), "left_outer")
          .crossJoin(broadcast(totals))
          .select(
            col("doc_id"), col("lang"),
            coalesce(col("n_bg"), lit(0L)).as("n_bg"),
            coalesce(col("sum_cnt"), lit(0L)).as("sum_cnt"),
            (col("n_bg").isNotNull &&
              col("sum_cnt").cast("double") / col("n_bg").cast("double") >=
                col("n_total").cast("double") / col("n_distinct").cast("double"))
              .as("familiar"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |db AS (SELECT doc_id, unnest(list_transform(range(2, len(toks)+1),
             |    i -> toks[i-1] || ' ' || toks[i])) AS bg FROM t),
             |m AS (SELECT bg, count(*) AS cnt FROM db GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
             |    CAST(count(*) AS BIGINT) AS n_distinct FROM m),
             |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bg,
             |    CAST(sum(m.cnt) AS BIGINT) AS sum_cnt
             |  FROM db JOIN m USING (bg) GROUP BY 1)
             |SELECT d.doc_id, d.lang,
             |  coalesce(pd.n_bg, 0) AS n_bg,
             |  coalesce(pd.sum_cnt, 0) AS sum_cnt,
             |  (pd.n_bg IS NOT NULL AND
             |    CAST(pd.sum_cnt AS DOUBLE) / CAST(pd.n_bg AS DOUBLE) >=
             |    CAST(tot.n_total AS DOUBLE) / CAST(tot.n_distinct AS DOUBLE))
             |    AS familiar
             |FROM documents d LEFT JOIN pd USING (doc_id) CROSS JOIN tot
             |ORDER BY d.doc_id""".stripMargin)),

    // q166: POSTING-LIST GAP ENCODING — the inverted-index storage
    // estimator (Lucene/Elasticsearch posting compression): per term, the
    // sorted doc_id posting list delta-encoded (first id stored as id+1,
    // then gaps) with exact VARINT byte accounting — 7-bit groups, so
    // bytes(x) = 1..5 by power-of-128 thresholds — vs the fixed 8-byte
    // naive layout; the compression ratio is what decides whether an
    // index tier fits in RAM. All-integer: gaps, thresholds, byte sums
    // are exact longs; the ratio is one IEEE division of exact longs.
    // Plan: one (term, doc_id)-distinct exchange over the exploded
    // corpus, then a term-keyed lag window — per-TERM partitions
    // (posting-list-sized, the natural unit: a term's gaps are inherently
    // sequential), never a corpus-wide sort; per-term aggregate lands on
    // the same key. Degenerate single-posting terms are kept (one
    // absolute-id varint, ratio < 1 — honest accounting).
    Entry(
      "q166_posting_gaps",
      (s, d) => {
        val postings = Tables.documents(s, d)
          .select(col("doc_id"), explode(toks).as("term"))
          .distinct()
        val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
        // Full LEB128 byte model: 7 payload bits per byte, so value v
        // takes ceil(bits(v)/7) bytes. The chain runs to 9 — a
        // nonnegative SIGNED 64-bit value is < 2^63, and 9 bytes cover
        // 2^56..2^63-1; the 10-byte case only exists for unsigned values
        // ≥ 2^63, which gaps (doc_id deltas ≥ 0) can never be. The r13
        // 5-byte cap was only exact for ids < 2^35.
        def varintBytes(x: Column): Column =
          when(x < 128L, 1L)
            .when(x < 16384L, 2L)
            .when(x < 2097152L, 3L)
            .when(x < 268435456L, 4L)
            .when(x < 34359738368L, 5L)
            .when(x < 4398046511104L, 6L)
            .when(x < 562949953421312L, 7L)
            .when(x < 72057594037927936L, 8L)
            .otherwise(9L)
        postings
          .withColumn("gap", col("doc_id") - coalesce(lag(col("doc_id"), 1).over(w), lit(-1L)))
          .groupBy(col("term"))
          .agg(
            count(lit(1)).as("n_postings"),
            max(col("doc_id")).as("max_doc"),
            sum(varintBytes(col("gap"))).as("varint_bytes"))
          .withColumn("naive_bytes", col("n_postings") * 8L)
          .withColumn(
            "ratio",
            col("naive_bytes").cast("double") / col("varint_bytes").cast("double"))
          .orderBy(col("term"))
      },
      Some("""WITH p AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS term
             |  FROM documents),
             |g AS (SELECT term, doc_id,
             |    doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term
             |      ORDER BY doc_id), -1) AS gap
             |  FROM p),
             |v AS (SELECT term,
             |    CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
             |      WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
             |      WHEN gap < 34359738368 THEN 5
             |      WHEN gap < 4398046511104 THEN 6
             |      WHEN gap < 562949953421312 THEN 7
             |      WHEN gap < 72057594037927936 THEN 8
             |      ELSE 9 END AS b, doc_id
             |  FROM g),
             |a AS (SELECT term, CAST(count(*) AS BIGINT) AS n_postings,
             |    CAST(max(doc_id) AS BIGINT) AS max_doc,
             |    CAST(sum(b) AS BIGINT) AS varint_bytes
             |  FROM v GROUP BY 1)
             |SELECT term, n_postings, max_doc, varint_bytes,
             |  n_postings * 8 AS naive_bytes,
             |  CAST(n_postings * 8 AS DOUBLE) / CAST(varint_bytes AS DOUBLE)
             |    AS ratio
             |FROM a ORDER BY term""".stripMargin)),

    // q175: PMI COLLOCATION MINING — the corpus-linguistics / tokenizer-
    // seeding staple: the top-20 bigrams whose co-occurrence most exceeds
    // chance, ranked by the PMI RATIO n·c(ab) / (c(a)·c(b)) (monotone in
    // PMI — the log adds nothing to the ORDER, and dropping it keeps the
    // arithmetic a single composition of exact-long-to-double conversions,
    // identical bits cross-engine; an all-integer cross-multiplied compare
    // would overflow 2^63 at corpus scale: c(ab)·n ~ 10²²). Min-count 5
    // (the standard PMI noise floor — hapax pairs otherwise dominate any
    // PMI ranking). Plan: one bigram-keyed exchange (vocab²-bounded
    // output) + the unigram model joined onto both word slots (vocab-
    // bounded — AQE broadcasts it at fixture scale, co-locates on the
    // model key at web scale); corpus totals are a 1-row agg OVER the
    // unigram model; top-20 via TakeOrderedAndProject on the computed
    // ratio with bigram tie-break — never a global sort.
    Entry(
      "q175_pmi_collocations",
      (s, d) => {
        val docToks = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), toks.as("t"))
        val uni = docToks
          .select(explode(col("t")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val total = uni.agg(sum(col("c")).as("n"))
        val bi = docToks
          .select(explode(call_function("token_bigram_structs", col("text"))).as("p"))
          .groupBy(col("p.a").as("wa"), col("p.b").as("wb"))
          .agg(count(lit(1)).as("cab"))
          .filter(col("cab") >= 5)
        bi
          .join(uni.select(col("w").as("wa"), col("c").as("ca")), Seq("wa"))
          .join(uni.select(col("w").as("wb"), col("c").as("cb")), Seq("wb"))
          .crossJoin(broadcast(total))
          .withColumn(
            "ratio",
            (col("cab").cast("double") * col("n").cast("double"))
              / (col("ca").cast("double") * col("cb").cast("double")))
          .select(
            concat(col("wa"), lit(" "), col("wb")).as("bigram"),
            col("cab"), col("ca"), col("cb"), col("ratio"))
          .orderBy(col("ratio").desc, col("bigram"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |u AS (SELECT unnest(toks) AS w FROM t),
             |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM u GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
             |b AS (SELECT unnest(list_transform(range(2, len(toks)+1),
             |    i -> {'a': toks[i-1], 'b': toks[i]})) AS p FROM t),
             |bi AS (SELECT p.a AS wa, p.b AS wb, CAST(count(*) AS BIGINT) AS cab
             |  FROM b GROUP BY 1, 2 HAVING count(*) >= 5),
             |j AS (SELECT bi.wa, bi.wb, bi.cab, ua.c AS ca, ub.c AS cb,
             |    (CAST(bi.cab AS DOUBLE) * CAST(tot.n AS DOUBLE))
             |      / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS ratio
             |  FROM bi JOIN uni ua ON bi.wa = ua.w
             |    JOIN uni ub ON bi.wb = ub.w CROSS JOIN tot)
             |SELECT wa || ' ' || wb AS bigram, cab, ca, cb, ratio
             |FROM j ORDER BY ratio DESC, bigram LIMIT 20""".stripMargin)),

    // q184: PHRASE SEARCH VIA POSITIONAL INVERTED INDEX — the IR-serving
    // primitive a posting list alone can't answer: find exact "w1 w2"
    // phrase occurrences by joining the two terms' POSITIONAL postings on
    // (doc, pos+1), never re-scanning text. The probe phrase is derived
    // from the data (top-(count, lexicographic) bigram — the corpora
    // differ per SF, so a literal phrase would go stale; the derivation
    // is deterministic per corpus and broadcasts as 1 row). The scale
    // property under test: postings are FILTERED TO THE PROBE TERMS
    // before any join (two term-selective slices of the index — at a real
    // index this is two posting-list reads, not a corpus scan), and the
    // occurrence join is (doc, pos)-keyed on slices whose size is the
    // terms' document frequency. The oracle computes the same numbers
    // from the BIGRAM MODEL (n_occurrences must equal the probe's model
    // count — the identity that proves the positional join exact), an
    // entirely different formulation.
    Entry(
      "q184_phrase_search",
      (s, d) => {
        val docToks = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), toks.as("t"))
        val probe = docToks
          .select(explode(call_function("token_bigram_structs", col("text"))).as("p"))
          .groupBy(col("p.a").as("w1"), col("p.b").as("w2"))
          .agg(count(lit(1)).as("cnt"))
          // tie-break on the CONCATENATED phrase, matching the oracle's
          // ORDER BY bg exactly: (w1, w2) tuple order diverges from
          // concat order when one w1 is a proper prefix of another and
          // the longer token's next codepoint sorts below space (r13
          // ADVICE) — same key both sides, no divergence possible.
          .orderBy(col("cnt").desc, concat(col("w1"), lit(" "), col("w2")))
          .limit(1)
        val postings = docToks
          .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "term")))
        val withProbe = postings.crossJoin(broadcast(probe))
        val p1 = withProbe.filter(col("term") === col("w1"))
          .select(col("doc_id"), col("pos"), col("w1"), col("w2"))
        val p2 = withProbe.filter(col("term") === col("w2"))
          .select(col("doc_id").as("d2"), col("pos").as("pos2"))
        p1
          .join(p2, col("doc_id") === col("d2") && col("pos2") === col("pos") + 1)
          .groupBy(concat(col("w1"), lit(" "), col("w2")).as("phrase"))
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occurrences"))
          .orderBy(col("phrase"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |b AS (SELECT doc_id, unnest(list_transform(range(2, len(toks)+1),
             |    i -> toks[i-1] || ' ' || toks[i])) AS bg FROM t),
             |m AS (SELECT bg, count(*) AS cnt FROM b GROUP BY 1),
             |probe AS (SELECT bg FROM m
             |  ORDER BY cnt DESC, bg LIMIT 1)
             |SELECT probe.bg AS phrase,
             |  CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS n_occurrences
             |FROM b JOIN probe ON b.bg = probe.bg
             |GROUP BY probe.bg ORDER BY phrase""".stripMargin)),

    // q188: OPTIMIZER-RULE PROOF QUERY — q106's normalization pipeline
    // with the kernel called TWICE (the defensive layer-boundary stack a
    // composed pipeline really produces: ingest normalizes, the consumer
    // normalizes again because it can't assume its caller did). The
    // injected Rule[LogicalPlan] (graft.plans.CollapseIdempotentNormalize
    // — the one custom optimizer rule in the engine) deletes the inner
    // pass at plan time; the suite pins exactly ONE normalize_text in the
    // optimized plan, and the ORACLE IS THE SEMANTICS PROOF: it computes
    // the single-application form, so the gate passing means the rewrite
    // changed the plan and not the answer.
    Entry(
      "q188_normalize_collapse",
      (s, d) =>
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            call_function(
              "normalize_text",
              call_function(
                "normalize_text",
                concat(
                  lit("\t "),
                  regexp_replace(upper(col("text")), lit(" "), lit("  ")),
                  lit(" CAFÉ \n")))).as("norm_text"))
          .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(
             |    lower(nfc_normalize(
             |      chr(9) || ' ' || replace(upper(text), ' ', '  ')
             |        || ' CAFE' || chr(769) || ' ' || chr(10))),
             |    '[ \t\n]+', ' ', 'g')) AS norm_text,
             |  CAST(length(trim(regexp_replace(
             |    lower(nfc_normalize(
             |      chr(9) || ' ' || replace(upper(text), ' ', '  ')
             |        || ' CAFE' || chr(769) || ' ' || chr(10))),
             |    '[ \t\n]+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q252: HEAVY HITTERS VIA MISRA-GRIES + EXACT VERIFY — the canonical
    // two-pass frequent-items algorithm (Misra-Gries 1982 sketch pass →
    // exact count pass over the ≤ 63 candidates), the bounded-memory
    // answer to "which tokens exceed 1/64 of the corpus" when a full
    // groupBy(token) would shuffle a vocabulary-sized table. Pass 1 is the
    // typed MisraGriesAgg (functions/MisraGries.scala — PODS-2012
    // mergeable summaries, so map-side partial merge is SAFE under any
    // partitioning): one corpus scan reduced to a single 63-counter
    // buffer; its guarantee — every token with freq > n/64 IS a candidate
    // — makes the candidate set a provable superset, while its estimates
    // stay merge-order-dependent and are therefore NOT registered (the
    // suite asserts the sketch invariants instead). Pass 2 re-scans with a
    // 63-string broadcast membership filter and counts exactly: only
    // candidate tokens reach the (map-side-combined, ≤ 63-key) exchange.
    // Registered output = the exact > n/64 tokens — deterministic, and the
    // DuckDB oracle computes it by brute force, so a candidate ever
    // missing a true heavy hitter would surface as a row-set mismatch.
    // The deliberate two-scan shape IS the algorithm: materializing the
    // exploded token stream to save a scan would cost the corpus-sized
    // write the sketch exists to avoid.
    Entry(
      "q252_heavy_hitters",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= "")
        val mg = toks
          .select(col("token")).as[String](org.apache.spark.sql.Encoders.STRING)
          .select(new graft.functions.MisraGriesAgg().toColumn)
          .head()
        val cands = mg.counts.keys.toSeq.sorted
        val n = mg.n
        toks.filter(col("token").isInCollection(cands))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("freq"))
          .filter(col("freq") * 64 > lit(n))
          .select(col("token"), col("freq"), lit(n).as("n_tokens"),
            lit(n / 64).as("hh_threshold"))
          .orderBy(col("freq").desc, col("token"))
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
             |  FROM documents),
             |t2 AS (SELECT token FROM tok WHERE token <> ''),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t2),
             |c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
             |  FROM t2 GROUP BY 1)
             |SELECT c.token, c.freq, n.n AS n_tokens,
             |  n.n // 64 AS hh_threshold
             |FROM c CROSS JOIN n
             |WHERE c.freq * 64 > n.n
             |ORDER BY freq DESC, token""".stripMargin))
  )
}
