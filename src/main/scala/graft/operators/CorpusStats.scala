package graft.operators

import graft.Tables
import graft.queries.Entry
import graft.queries.OracleSql._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level statistical models: vocabulary-growth (Heaps' law) curves
  * and smoothed n-gram language models — the measurements a tokenizer/LM
  * team runs before committing to a corpus mix.
  */
object CorpusStats {

  private val T = Tables

  /** q175's tokenization, verbatim: split on single space, no empty-token
    * filtering — oracle mirrors with string_split.
    */
  private def toks: Column = split(col("text"), " ")

  val entries: Seq[Entry] = Seq(
    // q197: VOCABULARY GROWTH CURVE (Heaps' law) — cumulative distinct
    // token types vs cumulative tokens in doc-id ingest order, bucketed
    // by 50 docs: the "is this corpus still yielding new vocabulary"
    // diagnostic that sizes tokenizer vocab and flags crawl exhaustion.
    // The naive form (distinct count per prefix) is O(n²); the exact
    // one-pass identity: a type is new at exactly ONE doc — its
    // min(doc_id) — so new-types-per-doc is a single word-keyed exchange
    // (first-occurrence table, the q169 novelty idiom), and every
    // cumulative is a prefix-sum over the BUCKET table (docs/50 rows —
    // the only unpartitioned window is over that bounded table, per the
    // q96/q190 two-phase discipline). At 100 TB: one exchange keyed on
    // the word, one keyed on doc_id, then driver-scale arithmetic.
    Entry(
      "q197_vocab_growth",
      (s, d) => {
        val docs = T.documents(s, d)
        val perDoc = docs.select(col("doc_id"), size(toks).as("ntok"))
        val firstOcc = docs
          .select(col("doc_id"), explode(toks).as("w"))
          .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
        val newPerDoc = firstOcc.groupBy(col("fd").as("doc_id"))
          .agg(count(lit(1)).as("new_types"))
        val buckets = perDoc
          .join(newPerDoc, Seq("doc_id"), "left")
          .groupBy(expr("doc_id div 50").as("bucket"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("bucket_tokens"),
            sum(coalesce(col("new_types"), lit(0L))).as("new_types"))
        // bounded-table prefix sum: |buckets| = |docs|/50
        val w = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        buckets
          .select(
            col("bucket"), col("n_docs"), col("bucket_tokens"), col("new_types"),
            sum(col("bucket_tokens")).over(w).as("cum_tokens"),
            sum(col("new_types")).over(w).as("cum_types"))
          .orderBy(col("bucket"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents),
             |wt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |f AS (SELECT w, min(doc_id) AS fd FROM wt GROUP BY 1),
             |nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS new_types
             |  FROM f GROUP BY 1),
             |b AS (SELECT d.doc_id // 50 AS bucket,
             |    CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(d.ntok) AS BIGINT) AS bucket_tokens,
             |    CAST(sum(coalesce(nv.new_types, 0)) AS BIGINT) AS new_types
             |  FROM d LEFT JOIN nv USING (doc_id) GROUP BY 1)
             |SELECT bucket, n_docs, bucket_tokens, new_types,
             |  CAST(sum(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT)
             |    AS cum_tokens,
             |  CAST(sum(new_types) OVER (ORDER BY bucket) AS BIGINT)
             |    AS cum_types
             |FROM b ORDER BY bucket""".stripMargin)),

    // q198: INTERPOLATED KNESER-NEY BIGRAM MODEL — the production
    // complement to q95/q162's raw-count bigram familiarity: absolute
    // discount D=0.75 with the continuation-probability backoff,
    // P(w2|w1) = max(c12−D,0)/c1 + (D·N1+(w1·)/c1)·(N1+(·w2)/T). Every
    // input (c12, c1 = Σ_w2 c12, the two type-fan-outs, T = bigram type
    // count) comes from ONE bigram-keyed exchange plus two vocab-bounded
    // aggregates of it; the model joins are vocab-keyed (AQE broadcasts
    // them at fixture scale, co-locates at web scale). The probability is
    // IEEE double over exact integer counts with BOTH engines evaluating
    // the identical parenthesization — bit-identical results, so the
    // oracle compares exactly, no tolerance. Top-30 via
    // TakeOrderedAndProject on (P desc, w1, w2) — tuple tie-break on
    // separate columns in both engines (the q184 lesson: never mix a
    // concat key with a tuple key).
    Entry(
      "q198_kneser_ney",
      (s, d) =>
        knTable(s, d)
          .filter(col("c12") >= 3)
          .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n1f"),
            col("n1p"), col("p_kn"))
          .orderBy(col("p_kn").desc, col("w1"), col("w2"))
          .limit(30),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |b AS (SELECT unnest(list_transform(range(2, len(toks)+1),
             |    i -> {'a': toks[i-1], 'b': toks[i]})) AS p FROM t),
             |bi AS (SELECT p.a AS w1, p.b AS w2, CAST(count(*) AS BIGINT) AS c12
             |  FROM b GROUP BY 1, 2),
             |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
             |    CAST(count(*) AS BIGINT) AS n1f FROM bi GROUP BY 1),
             |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p
             |  FROM bi GROUP BY 1),
             |ty AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bi)
             |SELECT bi.w1, bi.w2, bi.c12, ctx.c1, ctx.n1f, cont.n1p,
             |  greatest(CAST(bi.c12 AS DOUBLE) - 0.75, 0.0)
             |      / CAST(ctx.c1 AS DOUBLE)
             |    + ((0.75 * CAST(ctx.n1f AS DOUBLE)) / CAST(ctx.c1 AS DOUBLE))
             |      * (CAST(cont.n1p AS DOUBLE) / CAST(ty.t_types AS DOUBLE))
             |    AS p_kn
             |FROM bi JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN ty
             |WHERE bi.c12 >= 3
             |ORDER BY p_kn DESC, w1, w2 LIMIT 30""".stripMargin)),

    // q201: CHAO1 VOCABULARY RICHNESS per language — the species-richness
    // estimator applied to vocabulary: from each language's token counts,
    // the observed type count T, singleton count n1, doubleton count n2,
    // the bias-corrected Chao1 lower bound T + n1(n1−1)/(2(n2+1)) on the
    // TRUE vocabulary (how much vocabulary the crawl hasn't seen yet),
    // and Good-Turing coverage 1 − n1/N (the probability the next token
    // is a known type). Complements q197: Heaps says how fast vocabulary
    // grows, Chao1 says how far it has to go. Plan: one (lang, word)
    // exchange, then a count-of-counts aggregate over the vocab-bounded
    // type table — the frequency-of-frequencies table is tiny at any
    // scale. Doubles are single divisions of exact integers with the
    // identical parenthesization both engines share.
    Entry(
      "q201_chao1_richness",
      (s, d) => {
        val counts = T.documents(s, d)
          .select(col("lang"), explode(toks).as("w"))
          .groupBy(col("lang"), col("w"))
          .agg(count(lit(1)).as("c"))
        counts
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("t_types"),
            sum(col("c")).as("n_tokens"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
            sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
          .withColumn(
            "chao1",
            col("t_types").cast("double")
              + (col("n1") * (col("n1") - 1L)).cast("double")
              / (lit(2L) * (col("n2") + 1L)).cast("double"))
          .withColumn(
            "coverage",
            lit(1.0) - col("n1").cast("double") / col("n_tokens").cast("double"))
          .select(col("lang"), col("t_types"), col("n_tokens"), col("n1"),
            col("n2"), col("chao1"), col("coverage"))
          .orderBy(col("lang"))
      },
      Some("""WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |c AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
             |  FROM w GROUP BY 1, 2),
             |f AS (SELECT lang, CAST(count(*) AS BIGINT) AS t_types,
             |    CAST(sum(c) AS BIGINT) AS n_tokens,
             |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
             |  FROM c GROUP BY 1)
             |SELECT lang, t_types, n_tokens, n1, n2,
             |  CAST(t_types AS DOUBLE)
             |    + CAST(n1 * (n1 - 1) AS DOUBLE)
             |    / CAST(2 * (n2 + 1) AS DOUBLE) AS chao1,
             |  1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS coverage
             |FROM f ORDER BY lang""".stripMargin)),

    // q207: CHI-SQUARE INDEPENDENCE TEST (source × lang) — the corpus-
    // composition audit: is language distributed independently of source,
    // or do sources carry language skew the sampler must stratify on? The
    // statistic is computed from the SCALED integer identity
    // (O·N − R·C)²/(N·R·C) per cell — numerators exact int64 (≤ ~6·10¹⁴
    // at sf0.1), one IEEE division per cell, the ~100-term sum rounded to
    // 1e-6 (summation-order discipline), plus Cramér's V effect size
    // (IEEE sqrt is correctly rounded — bit-identical cross-engine) and
    // the 95th-percentile decision at the fixture's fixed dof 76
    // (critical value 97.351, a shared literal). Plan: ONE (source,
    // lang)-keyed exchange; margins are aggregates OF the ≤|s|·|l| cell
    // table; every corpus row touches the wire exactly once.
    Entry(
      "q207_source_lang_independence",
      (s, d) => {
        val cells = T.documents(s, d)
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_obs"))
          .localCheckpoint() // consumers: margins ×2, total, cell output
        val rowT = cells.groupBy(col("source")).agg(sum(col("n_obs")).as("r"))
        val colT = cells.groupBy(col("lang")).agg(sum(col("n_obs")).as("c"))
        val tot = cells.agg(
          sum(col("n_obs")).as("n"),
          countDistinct(col("source")).as("nr"),
          countDistinct(col("lang")).as("nc"))
        val j = cells
          .join(rowT, Seq("source"))
          .join(colT, Seq("lang"))
          .crossJoin(broadcast(tot))
        val dev = col("n_obs") * col("n") - col("r") * col("c")
        val stats = j
          .agg(
            round(sum((dev.cast("double") * dev.cast("double"))
              / (col("n") * col("r") * col("c")).cast("double")), 6).as("chi2"),
            max((col("nr") - 1) * (col("nc") - 1)).as("dof"),
            max(col("n")).as("n"),
            max(least(col("nr") - 1, col("nc") - 1)).as("mindim"))
          .withColumn(
            "cramers_v",
            round(sqrt(col("chi2") / (col("n") * col("mindim")).cast("double")), 6))
          .select(col("chi2"), col("dof"), col("cramers_v"),
            (col("chi2") < 97.351).as("independent_ok"))
        cells
          .select(col("source"), col("lang"), col("n_obs"))
          .crossJoin(broadcast(stats))
          .orderBy(col("source"), col("lang"))
      },
      Some("""WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_obs
             |  FROM documents GROUP BY 1, 2),
             |r AS (SELECT source, CAST(sum(n_obs) AS BIGINT) AS r
             |  FROM cells GROUP BY 1),
             |c AS (SELECT lang, CAST(sum(n_obs) AS BIGINT) AS c
             |  FROM cells GROUP BY 1),
             |t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n,
             |    CAST(count(DISTINCT source) AS BIGINT) AS nr,
             |    CAST(count(DISTINCT lang) AS BIGINT) AS nc FROM cells),
             |j AS (SELECT cells.source, cells.lang, cells.n_obs, r.r, c.c,
             |    t.n, t.nr, t.nc
             |  FROM cells JOIN r USING (source) JOIN c USING (lang) CROSS JOIN t),
             |x AS (SELECT
             |    round(sum((CAST(n_obs * n - r * c AS DOUBLE)
             |      * CAST(n_obs * n - r * c AS DOUBLE))
             |      / CAST(n * r * c AS DOUBLE)), 6) AS chi2,
             |    max((nr - 1) * (nc - 1)) AS dof,
             |    max(n) AS n, max(least(nr - 1, nc - 1)) AS mindim FROM j),
             |x2 AS (SELECT chi2, dof,
             |    round(sqrt(chi2 / CAST(n * mindim AS DOUBLE)), 6) AS cramers_v,
             |    chi2 < 97.351 AS independent_ok FROM x)
             |SELECT cells.source, cells.lang, cells.n_obs,
             |  x2.chi2, x2.dof, x2.cramers_v, x2.independent_ok
             |FROM cells CROSS JOIN x2 ORDER BY cells.source, cells.lang""".stripMargin)),

    // q209: CLASSIFIER AUC — evaluate q194's model scores against q88's
    // heuristic labels (positive = NOT low_quality) with the EXACT
    // tie-aware Mann-Whitney identity: AUC = (2R₊ − n₊(n₊+1))/(2n₊n₋)
    // where 2R₊ = Σ_pos (2·below + cnt + 1) over the per-SCORE count
    // table (doubled ranks keep the tied-average exact in integers — no
    // fractional ranks, no float rank sums). NO GLOBAL SORT: ranks come
    // from per-score-value counts + the q96/q190 two-phase block prefix
    // over the score axis — the score table is doc-cardinality-scaled,
    // so the naive ORDER BY score window is exactly the banned
    // corpus-sized partition; only the ~score/10⁵ block table sees an
    // unpartitioned window. The one float op is the final division of
    // exact longs (int64-safe to ~3·10⁹ docs; past that the same plan
    // runs on Decimal(38)). Oracle replays the identical count-based
    // formulation. The fixture's deterministic stand-in weights score
    // NEAR CHANCE against the repetition labels (AUC ≈ 0.5) — the
    // evaluation honestly measures an untrained model, which is exactly
    // what it exists to detect; production swaps in trained weights and
    // this query becomes the promotion gate.
    Entry(
      "q209_classifier_auc",
      (s, d) => {
        // ONE corpus scan: score and label are both per-doc map work, so
        // scoredLabeledDocs fuses them — no doc_id join/exchange (at 100 TB
        // that join dominates the arithmetic). Suite-pinned single scan.
        val t = scoredLabeledDocs(s, d)
        val perScore = t
          .groupBy(col("score"))
          .agg(count(lit(1)).as("cnt"),
            sum(when(col("pos"), 1L).otherwise(0L)).as("npos"))
          .withColumn("blk", expr("score div 100000"))
          .localCheckpoint() // consumers: block offsets + the rank join
        val offs = perScore.groupBy(col("blk")).agg(sum(col("cnt")).as("bc"))
          .withColumn(
            "off",
            coalesce(
              sum(col("bc")).over(Window.orderBy(col("blk"))
                .rowsBetween(Window.unboundedPreceding, -1)),
              lit(0L)))
          .select(col("blk"), col("off"))
        val wIn = Window.partitionBy(col("blk")).orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val ranked = perScore
          .withColumn("in_b", coalesce(sum(col("cnt")).over(wIn), lit(0L)))
          .join(offs, Seq("blk"))
          .withColumn("below", col("off") + col("in_b"))
        ranked
          .agg(
            sum(col("npos")).as("n_pos"),
            sum(col("cnt") - col("npos")).as("n_neg"),
            sum(col("npos") * (lit(2L) * col("below") + col("cnt") + 1L)).as("r2"))
          .select(
            col("n_pos"), col("n_neg"), col("r2"),
            round((col("r2") - col("n_pos") * (col("n_pos") + 1L)).cast("double")
              / (lit(2L) * col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"))
          .withColumn("gini", round(lit(2.0) * col("auc") - 1.0, 6))
      },
      Some(sql"""$withScoredLabels,
             |$labelsByScore,
             |rk AS (SELECT score, cnt, npos,
             |    CAST(coalesce(sum(cnt) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |      AS below FROM ps),
             |agg AS (SELECT CAST(sum(npos) AS BIGINT) AS n_pos,
             |    CAST(sum(cnt - npos) AS BIGINT) AS n_neg,
             |    CAST(sum(npos * (2 * below + cnt + 1)) AS BIGINT) AS r2 FROM rk)
             |SELECT n_pos, n_neg, r2,
             |  round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
             |    / CAST(2 * n_pos * n_neg AS DOUBLE), 6) AS auc,
             |  round(2.0 * round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
             |    / CAST(2 * n_pos * n_neg AS DOUBLE), 6) - 1.0, 6) AS gini
             |FROM agg""")),

    // q210: CONFUSION MATRIX + MCC at the production threshold — q209
    // ranks the scorer threshold-free; this evaluates the DEPLOYED
    // decision (q194's keep = score > 0) against the q88 labels: TP/FP/
    // FN/TN from ONE aggregate over the scored-and-labeled table,
    // precision/recall in exact ppm, F1 via the exact harmonic identity
    // 2TP/(2TP+FP+FN) (never P·R/(P+R) on rounded intermediates), and
    // Matthews correlation (TP·TN−FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN))
    // — the numerator exact int64, the radicand < 2^53 at fixture scale
    // so the double is exact and IEEE sqrt correctly rounded
    // (bit-identical cross-engine; at ≳10⁴ docs per 2^53^(1/4)... the
    // same plan runs on Decimal(38)). The near-chance MCC ≈ 0 is the
    // honest reading of the untrained stand-in weights (q209's finding
    // at the decision threshold).
    Entry(
      "q210_classifier_confusion",
      (s, d) => {
        // Same fused single-scan scaffold as q209 (scoredLabeledDocs):
        // TP/FP/FN/TN from ONE aggregate over ONE corpus scan, no join.
        val cm = scoredLabeledDocs(s, d)
          .agg(
            sum(when(col("pos") && col("score") > 0L, 1L).otherwise(0L)).as("tp"),
            sum(when(!col("pos") && col("score") > 0L, 1L).otherwise(0L)).as("fp"),
            sum(when(col("pos") && col("score") <= 0L, 1L).otherwise(0L)).as("fn"),
            sum(when(!col("pos") && col("score") <= 0L, 1L).otherwise(0L)).as("tn"))
        cm.select(
          col("tp"), col("fp"), col("fn"), col("tn"),
          expr("tp * 1000000L div (tp + fp)").as("precision_ppm"),
          expr("tp * 1000000L div (tp + fn)").as("recall_ppm"),
          expr("2L * tp * 1000000L div (2L * tp + fp + fn)").as("f1_ppm"),
          round((col("tp") * col("tn") - col("fp") * col("fn")).cast("double")
            / sqrt(((col("tp") + col("fp")) * (col("tp") + col("fn"))
              * (col("tn") + col("fp")) * (col("tn") + col("fn"))).cast("double")), 6)
            .as("mcc"))
      },
      Some(sql"""$withScoredLabels,
             |cm AS (SELECT
             |    CAST(sum(CASE WHEN pos AND score > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS tp,
             |    CAST(sum(CASE WHEN NOT pos AND score > 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS fp,
             |    CAST(sum(CASE WHEN pos AND score <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS fn,
             |    CAST(sum(CASE WHEN NOT pos AND score <= 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS tn
             |  FROM e JOIN lab USING (doc_id))
             |SELECT tp, fp, fn, tn,
             |  tp * 1000000 // (tp + fp) AS precision_ppm,
             |  tp * 1000000 // (tp + fn) AS recall_ppm,
             |  2 * tp * 1000000 // (2 * tp + fp + fn) AS f1_ppm,
             |  round(CAST(tp * tn - fp * fn AS DOUBLE)
             |    / sqrt(CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
             |        AS DOUBLE)), 6) AS mcc
             |FROM cm""")),

    // q216: SUBSTRING-LEVEL DUPLICATION PROFILE — the Lee et al.
    // "Deduplicating Training Data" signal at 8-gram granularity: document-
    // level dedup (q35-q37) misses boilerplate PARAGRAPHS shared across
    // otherwise-distinct pages, which is where memorization risk lives.
    // Per token position, the 8-gram starting there is hashed (char-
    // polynomial token hashes folded positionally, all mod 2^31-1 — same
    // integer pipeline both engines); a position is DUPLICATED when its
    // gram appears in ≥2 distinct docs. Output: per-source duplicated-
    // position share in exact ppm. Plan: one corpus scan → per-row gram
    // array (scalar HOFs, no explode until the exchange) → ONE exchange
    // keyed (gram, doc) → localCheckpoint (two consumers: per-gram doc
    // counts + the position join-back) → per-doc then per-source rollup.
    // At 100 TB the (gram, doc) exchange is the cost — keyed on an 8-byte
    // int, salt-friendly, and ~tokens-sized, the same budget as the
    // inverted-index build (q73); docs shorter than 8 tokens contribute no
    // positions (guarded identically in both engines).
    Entry(
      "q216_dup_spans",
      (s, d) => {
        // token char-poly hashes + sliding 8-gram folds via the native
        // kernels (r21: identical arithmetic to the former interpreted
        // HOF chain — see PolyKernels scaladoc)
        val c = T.documents(s, d)
          .select(col("doc_id"), col("source"),
            call_function("token_polys", col("text")).as("th"))
          .select(col("doc_id"), col("source"),
            explode(call_function("poly_slide", col("th"),
              lit(8), lit(1L), lit(0L))).as("gh"))
          .groupBy(col("gh"), col("doc_id"), col("source"))
          .agg(count(lit(1)).as("npos"))
          .localCheckpoint() // consumers: per-gram doc counts + join-back
        val gc = c.groupBy(col("gh")).agg(count(lit(1)).as("ndocs"))
        val p = c
          .join(gc, Seq("gh"))
          .groupBy(col("doc_id"), col("source"))
          .agg(
            sum(col("npos")).as("total"),
            sum(when(col("ndocs") >= 2, col("npos")).otherwise(0L)).as("dup"))
        p.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("total")).as("n_grams"),
            sum(col("dup")).as("dup_grams"))
          .withColumn("dup_ppm",
            expr("dup_grams * 1000000L div greatest(n_grams, 1L)"))
          .orderBy(col("source"))
      },
      Some(sql"""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
             |  FROM documents),
             |tht AS (SELECT doc_id, source, list_transform(t, w ->
             |    ${charPoly("w")}) AS th FROM tk),
             |g AS (SELECT doc_id, source,
             |    unnest(list_transform(range(1, len(th) - 6), i ->
             |      ${polyFold("list_transform(range(0, 8), k -> th[i + k])")})) AS gh FROM tht),
             |c AS (SELECT gh, doc_id, source, CAST(count(*) AS BIGINT) AS npos
             |  FROM g GROUP BY 1, 2, 3),
             |gc AS (SELECT gh, CAST(count(*) AS BIGINT) AS ndocs
             |  FROM c GROUP BY 1),
             |p AS (SELECT doc_id, source, CAST(sum(npos) AS BIGINT) AS total,
             |    CAST(sum(CASE WHEN ndocs >= 2 THEN npos ELSE 0 END) AS BIGINT)
             |      AS dup
             |  FROM c JOIN gc USING (gh) GROUP BY 1, 2)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(total) AS BIGINT) AS n_grams,
             |  CAST(sum(dup) AS BIGINT) AS dup_grams,
             |  CAST(sum(dup) AS BIGINT) * 1000000
             |    // greatest(CAST(sum(total) AS BIGINT), 1) AS dup_ppm
             |FROM p GROUP BY source ORDER BY source""")),

    // q217: SIMPSON REPEAT-PROBABILITY DIVERSITY — the log-free lexical-
    // diversity quality score: the probability two DISTINCT token positions
    // of a doc hold the same word, (Σc²−n) / (n(n−1)) in exact ppm —
    // entropy's job (template/spam detection) without entropy's cross-
    // engine libm hazard (ln is not correctly-rounded; this is pure
    // int64). Σc² is computed per row by a sorted-run fold (the q88 maxRun
    // idiom extended with a run² accumulator) — ZERO shuffle until the
    // 5-row language rollup; the oracle recomputes via a word-count
    // subquery, proving the fold against the set-semantics form.
    Entry(
      "q217_simpson_diversity",
      (s, d) => {
        val s2 =
          """aggregate(array_sort(t),
            |  named_struct('prev', cast(null as string), 'run', 0L, 's2', 0L),
            |  (acc, x) -> named_struct(
            |    'prev', x,
            |    'run', if(x <=> acc.prev, acc.run + 1L, 1L),
            |    's2', if(x <=> acc.prev, acc.s2, acc.s2 + acc.run * acc.run)),
            |  acc -> acc.s2 + acc.run * acc.run)""".stripMargin
        T.documents(s, d)
          .select(col("lang"), toks.as("t"))
          .select(col("lang"), size(col("t")).cast("long").as("n"),
            expr(s2).as("s2"))
          .select(col("lang"),
            when(col("n") >= 2,
              expr("(s2 - n) * 1000000L div (n * (n - 1L))"))
              .otherwise(0L).as("repeat_ppm"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            expr("sum(repeat_ppm) div count(1)").as("mean_repeat_ppm"),
            max(col("repeat_ppm")).as("max_repeat_ppm"))
          .orderBy(col("lang"))
      },
      Some("""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t
             |  FROM documents),
             |wc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS cnt FROM (
             |    SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY doc_id, w),
             |st AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
             |    CAST(sum(cnt * cnt) AS BIGINT) AS s2 FROM wc GROUP BY doc_id),
             |r AS (SELECT tk.lang,
             |    CASE WHEN st.n >= 2
             |      THEN (st.s2 - st.n) * 1000000 // (st.n * (st.n - 1))
             |      ELSE 0 END AS repeat_ppm
             |  FROM tk JOIN st USING (doc_id))
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(repeat_ppm) // count(*) AS BIGINT) AS mean_repeat_ppm,
             |  CAST(max(repeat_ppm) AS BIGINT) AS max_repeat_ppm
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // q218: CROSS-LANGUAGE VOCABULARY OVERLAP MATRIX — pairwise Jaccard
    // between per-language vocabularies in exact ppm: high en↔es overlap
    // is expected (shared latin cognates/numbers); high zh↔anything flags
    // mislabeled language tags upstream — the lang-id QC a mixture
    // designer runs before trusting per-lang token budgets. Plan: ONE
    // (lang, word) distinct exchange → localCheckpoint (three consumers:
    // sizes + both join sides) → word-keyed self-join for intersections
    // (vocab-sized, not corpus-sized) → broadcast the 5-row size table
    // into the C(5,2)-row output. |A∪B| = |A|+|B|−|A∩B| keeps everything
    // integer-exact.
    Entry(
      "q218_vocab_overlap",
      (s, d) => {
        val v = T.documents(s, d)
          .select(col("lang"), explode(toks).as("w"))
          .distinct()
          .localCheckpoint() // consumers: sizes + both self-join sides
        val sizes = v.groupBy(col("lang")).agg(count(lit(1)).as("vsize"))
        val inter = v.as("a")
          .join(v.as("b"), col("a.w") === col("b.w") && col("a.lang") < col("b.lang"))
          .groupBy(col("a.lang").as("lang1"), col("b.lang").as("lang2"))
          .agg(count(lit(1)).as("n_inter"))
        inter
          .join(broadcast(sizes.withColumnRenamed("lang", "lang1")
            .withColumnRenamed("vsize", "size1")), Seq("lang1"))
          .join(broadcast(sizes.withColumnRenamed("lang", "lang2")
            .withColumnRenamed("vsize", "size2")), Seq("lang2"))
          .select(col("lang1"), col("lang2"), col("size1"), col("size2"),
            col("n_inter"),
            expr("n_inter * 1000000L div (size1 + size2 - n_inter)")
              .as("jaccard_ppm"))
          .orderBy(col("lang1"), col("lang2"))
      },
      Some("""WITH v AS (SELECT DISTINCT lang, unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |sz AS (SELECT lang, CAST(count(*) AS BIGINT) AS vsize
             |  FROM v GROUP BY lang),
             |iv AS (SELECT a.lang AS lang1, b.lang AS lang2,
             |    CAST(count(*) AS BIGINT) AS n_inter
             |  FROM v a JOIN v b ON a.w = b.w AND a.lang < b.lang
             |  GROUP BY 1, 2)
             |SELECT lang1, lang2, s1.vsize AS size1, s2.vsize AS size2,
             |  n_inter, n_inter * 1000000 // (s1.vsize + s2.vsize - n_inter)
             |    AS jaccard_ppm
             |FROM iv
             |JOIN sz s1 ON s1.lang = iv.lang1
             |JOIN sz s2 ON s2.lang = iv.lang2
             |ORDER BY lang1, lang2""".stripMargin)),

    // q224: DISTRIBUTION DRIFT BY TOTAL VARIATION DISTANCE — "which source
    // stopped looking like the corpus": per-source doc-length distribution
    // (100-char buckets) vs the corpus-wide marginal, TVD = ½·Σ|p_i − q_i|
    // — the log-free drift metric (PSI/KL carry the cross-engine ln()
    // hazard; TVD is exact integer arithmetic by cross-multiplication:
    // Σ|n_i·N − m_i·n| · 10⁶ div (2·n·N), int64-safe to n·N < ~9·10¹⁸ —
    // beyond that the same plan runs on Decimal(38)). Plan: ONE
    // (source, bucket) exchange; the marginal is a rollup OF that table
    // (never a second corpus scan); the |sources|×|buckets| compare is
    // broadcast-sized. The fixture drifts naturally (sources have
    // different length profiles) — ranking is the deliverable.
    Entry(
      "q224_distribution_drift",
      (s, d) => {
        val sb = T.documents(s, d)
          .select(col("source"), expr("n_chars div 100").as("bucket"))
          .groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_i"))
          .localCheckpoint() // consumers: marginal rollup + the compare
        val marg = sb.groupBy(col("bucket")).agg(sum(col("n_i")).as("m_i"))
        val totals = sb.groupBy(col("source")).agg(sum(col("n_i")).as("n"))
        val bigN = sb.agg(sum(col("n_i")).as("nn"))
        // every (source, bucket) cell — including buckets a source never
        // hits, which contribute m_i·n to the distance (the q206 lesson:
        // absent classes carry mass)
        val cells = totals.crossJoin(broadcast(marg))
          .join(sb, Seq("source", "bucket"), "left")
          .withColumn("n_i", coalesce(col("n_i"), lit(0L)))
        cells
          .crossJoin(broadcast(bigN))
          .groupBy(col("source"), col("n"), col("nn"))
          .agg(sum(abs(col("n_i") * col("nn") - col("m_i") * col("n"))).as("l1"))
          .select(col("source"), col("n").as("n_docs"),
            expr("l1 * 1000000L div (2L * n * nn)").as("tvd_ppm"))
          .orderBy(col("source"))
      },
      Some("""WITH sb AS (SELECT source, n_chars // 100 AS bucket,
             |    CAST(count(*) AS BIGINT) AS n_i
             |  FROM documents GROUP BY 1, 2),
             |marg AS (SELECT bucket, CAST(sum(n_i) AS BIGINT) AS m_i
             |  FROM sb GROUP BY 1),
             |tot AS (SELECT source, CAST(sum(n_i) AS BIGINT) AS n
             |  FROM sb GROUP BY 1),
             |bign AS (SELECT CAST(sum(n_i) AS BIGINT) AS N FROM sb),
             |cells AS (SELECT t.source, t.n, m.bucket, m.m_i,
             |    CAST(coalesce(sb.n_i, 0) AS BIGINT) AS n_i
             |  FROM tot t CROSS JOIN marg m
             |  LEFT JOIN sb ON sb.source = t.source AND sb.bucket = m.bucket)
             |SELECT c.source, c.n AS n_docs,
             |  CAST(sum(abs(c.n_i * b.N - c.m_i * c.n)) AS BIGINT) * 1000000
             |    // (2 * c.n * b.N) AS tvd_ppm
             |FROM cells c CROSS JOIN bign b
             |GROUP BY c.source, c.n, b.N ORDER BY c.source""".stripMargin)),

    // q227: CROSS-SOURCE QUANTILE (QQ) CALIBRATION TABLE — before mixing
    // per-source quality scores into one training-data ranking, the scores
    // must be comparable: a source whose scorer runs hot would dominate
    // any global threshold. The fix is rank-space: for each source and
    // each decile k, the source's k-th decile boundary beside the GLOBAL
    // k-th decile boundary, and their ratio — the calibration table a
    // mixer applies as a per-source monotone map (q135 ranks docs
    // globally; this compares DISTRIBUTIONS per source). Exact integer
    // quantiles by the q135/q189 count-based discipline: per-(source,
    // score) counts, a cumulative over the SCORE AXIS only (partitions
    // are score-domain-bounded, never corpus-sized), boundary(k) = min
    // score with 10·cum ≥ k·n. Score = distinct-token count (the q135
    // scorer). Plan: one tokenize scan → one (source, score) exchange →
    // value-axis windows over bounded partitions → a 9-row decile
    // broadcast; the global table is a rollup OF the per-source counts,
    // not a second scan.
    Entry(
      "q227_quantile_qq_map",
      (s, d) => {
        val sc = T.documents(s, d)
          .select(col("source"),
            size(array_distinct(toks)).cast("long").as("score"))
          .groupBy(col("source"), col("score"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // consumers: per-source cum + global rollup
        val wS = Window.partitionBy(col("source")).orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val perSrc = sc
          .withColumn("cum", sum(col("c")).over(wS))
          .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
        val g = sc.groupBy(col("score")).agg(sum(col("c")).as("c"))
        val wG = Window.orderBy(col("score"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val globalCum = g
          .withColumn("cum", sum(col("c")).over(wG))
          .withColumn("n", sum(col("c")).over())
        val deciles = s.sql("SELECT explode(sequence(1, 9)) AS k")
        def bounds(t: org.apache.spark.sql.DataFrame, keys: Seq[String]) = t
          .crossJoin(broadcast(deciles))
          .filter(col("cum") * 10 >= col("k") * col("n"))
          .groupBy((keys :+ "k").map(col): _*)
          .agg(min(col("score")).as("q"))
        val srcB = bounds(perSrc, Seq("source"))
        val glbB = bounds(globalCum, Seq.empty)
          .withColumnRenamed("q", "global_q")
        srcB
          .join(broadcast(glbB), Seq("k"))
          .select(col("source"), col("k").cast("long").as("decile"),
            col("q").as("source_q"),
            col("global_q"),
            expr("q * 1000000L div greatest(global_q, 1L)").as("lift_ppm"))
          .orderBy(col("source"), col("decile"))
      },
      Some("""WITH d AS (SELECT source,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             |      AS score
             |  FROM documents),
             |sc AS (SELECT source, score, CAST(count(*) AS BIGINT) AS c
             |  FROM d GROUP BY 1, 2),
             |ps AS (SELECT source, score,
             |    CAST(sum(c) OVER (PARTITION BY source ORDER BY score
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
             |  FROM sc),
             |g AS (SELECT score, CAST(sum(c) AS BIGINT) AS c FROM sc GROUP BY 1),
             |pg AS (SELECT score,
             |    CAST(sum(c) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) AS cum,
             |    CAST(sum(c) OVER () AS BIGINT) AS n FROM g),
             |ks AS (SELECT unnest(range(1, 10)) AS k),
             |sb AS (SELECT source, k, CAST(min(score) AS BIGINT) AS source_q
             |  FROM ps CROSS JOIN ks WHERE cum * 10 >= k * n GROUP BY 1, 2),
             |gb AS (SELECT k, CAST(min(score) AS BIGINT) AS global_q
             |  FROM pg CROSS JOIN ks WHERE cum * 10 >= k * n GROUP BY 1)
             |SELECT sb.source, CAST(sb.k AS BIGINT) AS decile, sb.source_q,
             |  gb.global_q,
             |  sb.source_q * 1000000 // greatest(gb.global_q, 1) AS lift_ppm
             |FROM sb JOIN gb USING (k)
             |ORDER BY sb.source, decile""".stripMargin)),

    // q241: LEAVE-ONE-SOURCE-OUT DATA VALUATION — the Shapley-lite answer
    // to "which crawl source is hurting the corpus": for each source,
    // what would the corpus-mean quality be WITHOUT it? The naive form is
    // |sources| full recomputes; the closed form is one pass — the mean
    // without s is (ΣQ − ΣQ_s)/(N − N_s), so per-source sufficient
    // statistics (count, Σquality) plus the 1-row grand total give every
    // LOO mean exactly (the q118 sufficient-statistics posture applied to
    // valuation). Quality = type-token ratio in ppm (q217's tokenization).
    // delta > 0 ⇒ removing the source RAISES corpus quality ⇒ harmful;
    // value_rank 1 = most valuable (most-negative delta). All integer:
    // means in milli-ppm by long div (ΣQ·1000 int64-safe to ~10⁹ docs;
    // Decimal(38) past that). Plan: ONE corpus scan → source-keyed
    // partial-agg exchange (20 rows) → broadcast 1-row total; the rank
    // window is over the 20-row source table, never corpus-sized.
    Entry(
      "q241_loo_source_value",
      (s, d) => {
        val per = T.documents(s, d)
          .select(col("source"), toks.as("t"))
          .select(col("source"), size(col("t")).cast("long").as("n"),
            size(array_distinct(col("t"))).cast("long").as("nd"))
          .select(col("source"), col("n"),
            expr("nd * 1000000L div greatest(n, 1L)").as("q"))
        val bySrc = per.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tok_mass"),
            sum(col("q")).as("qsum"))
          .localCheckpoint() // 20 rows; consumers: grand total + LOO scoring
        val tot = bySrc.agg(sum(col("n_docs")).as("nn"),
          sum(col("qsum")).as("qq"))
        val scored = bySrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tok_mass"),
            expr("qq * 1000L div nn").as("overall_mppm"),
            expr("(qq - qsum) * 1000L div greatest(nn - n_docs, 1L)")
              .as("loo_mppm"))
          .withColumn("delta_mppm", col("loo_mppm") - col("overall_mppm"))
        val wR = Window.orderBy(col("delta_mppm").asc, col("source"))
        scored
          .withColumn("value_rank", row_number().over(wR).cast("long"))
          .withColumn("harmful", col("delta_mppm") > 0L)
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT source, string_split(text, ' ') AS t
             |  FROM documents),
             |p AS (SELECT source, CAST(len(t) AS BIGINT) AS n,
             |    CAST(len(list_distinct(t)) AS BIGINT) AS nd FROM d),
             |q AS (SELECT source, n,
             |    nd * 1000000 // greatest(n, 1) AS q FROM p),
             |bs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(n) AS BIGINT) AS tok_mass,
             |    CAST(sum(q) AS BIGINT) AS qsum
             |  FROM q GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
             |    CAST(sum(qsum) AS BIGINT) AS qq FROM bs),
             |sc AS (SELECT source, n_docs, tok_mass,
             |    qq * 1000 // nn AS overall_mppm,
             |    (qq - qsum) * 1000 // greatest(nn - n_docs, 1) AS loo_mppm
             |  FROM bs CROSS JOIN tot)
             |SELECT source, n_docs, tok_mass, overall_mppm, loo_mppm,
             |  loo_mppm - overall_mppm AS delta_mppm,
             |  CAST(row_number() OVER (ORDER BY loo_mppm - overall_mppm,
             |    source) AS BIGINT) AS value_rank,
             |  loo_mppm - overall_mppm > 0 AS harmful
             |FROM sc ORDER BY source""".stripMargin)),

    // q243: ZIPF RANK-FREQUENCY SLOPE — q197's Heaps curve answers "is the
    // vocabulary still growing"; this answers "is the FREQUENCY STRUCTURE
    // natural": OLS slope of ln(freq) on ln(rank) over the top-1000 terms
    // (natural text ≈ −1; boilerplate-flooded or synthetic corpora bend
    // it). Cross-engine float discipline: ln() is the only libm call, and
    // each per-term ln is ROUNDED TO MICRO-UNITS FIRST (the q77 per-term
    // rounding — a last-ulp libm divergence is 10⁹× below the rounding
    // quantum), so all six OLS sufficient statistics are exact int64
    // (q150's regression-as-one-aggregation posture); the final
    // slope/intercept/r² are single IEEE expressions over exact longs,
    // identically parenthesized, rounded 6dp. Plan: one term-count
    // exchange → TakeOrderedAndProject top-1000 (never a global sort) →
    // the rank window and OLS aggregate run over the ≤1000-row table.
    Entry(
      "q243_zipf_slope",
      (s, d) => {
        val counts = T.documents(s, d)
          .select(explode(toks).as("w")).filter(col("w") =!= "")
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
        val top = counts.orderBy(col("f").desc, col("w")).limit(1000)
        val wR = Window.orderBy(col("f").desc, col("w"))
        val xy = top
          .withColumn("r", row_number().over(wR).cast("long"))
          .select(col("w"), col("f"), col("r"),
            round(log(col("r").cast("double")) * 1000000.0)
              .cast("long").as("x"),
            round(log(col("f").cast("double")) * 1000000.0)
              .cast("long").as("y"))
        val num = "(cast(n as double) * cast(sxy as double)" +
          " - cast(sx as double) * cast(sy as double))"
        val den = "(cast(n as double) * cast(sxx as double)" +
          " - cast(sx as double) * cast(sx as double))"
        val deny = "(cast(n as double) * cast(syy as double)" +
          " - cast(sy as double) * cast(sy as double))"
        xy.agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
            sum(expr("y * y")).as("syy"),
            expr("min_by(w, r)").as("top_term"), max(col("f")).as("top_freq"))
          .select(col("n"), col("top_term"), col("top_freq"),
            round(expr(s"$num / $den"), 6).as("slope"),
            round(expr(s"((cast(sy as double) - $num / $den" +
              " * cast(sx as double)) / cast(n as double)) / 1000000.0"), 6)
              .as("intercept_ln"),
            round(expr(s"$num * $num / ($den * $deny)"), 6).as("r2"))
      },
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |c AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM w
             |  WHERE w <> '' GROUP BY 1),
             |top AS (SELECT w, f FROM c ORDER BY f DESC, w LIMIT 1000),
             |xy AS (SELECT w, f,
             |    CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS r
             |  FROM top),
             |xy2 AS (SELECT w, f, r,
             |    CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
             |    CAST(round(ln(CAST(f AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
             |  FROM xy),
             |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * y) AS BIGINT) AS sxy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * y) AS BIGINT) AS syy,
             |    min_by(w, r) AS top_term, CAST(max(f) AS BIGINT) AS top_freq
             |  FROM xy2)
             |SELECT n, top_term, top_freq,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
             |  round(((CAST(sy AS DOUBLE)
             |      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 1000000.0, 6)
             |    AS intercept_ln,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
             |FROM s""".stripMargin)),

    // q270: CORPUS DATASHEET — the one-row "dataset card" (Gebru et al.'s
    // datasheets, the summary block every corpus release ships): size,
    // composition, duplication, quality, and lexical-diversity in a single
    // oracle-checked artifact. Every number is a pointer INTO the engine's
    // deep operators (exact dedup → q35, quality rule → q88, diversity →
    // q197/q243, drift → q224/q231) — this is the executive rollup, one
    // query instead of a dashboard of twelve. All integer/ppm exact:
    // dup_ppm counts docs beyond their text-md5 group's first, quality is
    // q88's dup-token rule, p50 is the count-based lower median (q135),
    // top lang by deterministic (count, lang) ordering. Plan: TWO corpus
    // scans by design — one doc-level projection (md5 + token stats,
    // checkpointed: five consumers) and one word-explode pass for the
    // vocabulary (word-keyed exchange); everything downstream is bounded
    // tables and 1-row broadcast combines.
    Entry(
      "q270_corpus_datasheet",
      (s, d) => {
        val base = T.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            size(toks).cast("long").as("n_words"),
            size(array_distinct(toks)).cast("long").as("n_distinct"),
            md5(col("text")).as("h"))
          .localCheckpoint() // consumers: core, dup, p50, lang-top
        val core = base.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_words")).as("total_tokens"),
          sum(when((col("n_words") - col("n_distinct")) * 5 > col("n_words"),
            1L).otherwise(0L)).as("n_low_quality"))
        val dup = base.groupBy(col("h")).agg(count(lit(1)).as("c"))
          .agg(sum(col("c") - 1).as("n_dup_docs"))
        val vocab = T.documents(s, d)
          .select(explode(toks).as("w")).distinct()
          .agg(count(lit(1)).as("vocab_size"))
        val wLen = Window.orderBy(col("n_chars"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val p50 = base.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(wLen))
          .crossJoin(broadcast(base.agg(count(lit(1)).as("nn"))))
          .agg(min(when(col("cum") * 2 >= col("nn"), col("n_chars")))
            .as("p50_chars"))
        val topLang = base.groupBy(col("lang")).agg(count(lit(1)).as("lc"))
          .orderBy(col("lc").desc, col("lang").desc).limit(1)
          .select(col("lang").as("top_lang"), col("lc").as("top_lang_n"))
        core.crossJoin(broadcast(dup)).crossJoin(broadcast(vocab))
          .crossJoin(broadcast(p50)).crossJoin(broadcast(topLang))
          .select(
            col("n_docs"), col("n_sources"), col("n_langs"),
            col("total_chars"), col("total_tokens"), col("vocab_size"),
            expr("vocab_size * 1000000L div total_tokens").as("ttr_ppm"),
            expr("total_chars * 1000L div n_docs").as("mean_chars_milli"),
            col("p50_chars"),
            expr("n_dup_docs * 1000000L div n_docs").as("exact_dup_ppm"),
            expr("n_low_quality * 1000000L div n_docs").as("low_quality_ppm"),
            col("top_lang"),
            expr("top_lang_n * 1000000L div n_docs").as("top_lang_ppm"))
      },
      Some("""WITH b AS MATERIALIZED (SELECT doc_id, lang, source, n_chars,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             |      AS n_distinct,
             |    md5(text) AS h
             |  FROM documents),
             |core AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |    CAST(sum(n_words) AS BIGINT) AS total_tokens,
             |    CAST(sum(CASE WHEN (n_words - n_distinct) * 5 > n_words
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
             |  FROM b),
             |dup AS (SELECT CAST(sum(c - 1) AS BIGINT) AS n_dup_docs
             |  FROM (SELECT h, count(*) AS c FROM b GROUP BY 1)),
             |vc AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size
             |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
             |    FROM documents)),
             |p5 AS (SELECT CAST(min(CASE WHEN cum * 2 >= nn THEN n_chars END)
             |    AS BIGINT) AS p50_chars
             |  FROM (SELECT n_chars,
             |      sum(c) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
             |        AS cum,
             |      sum(c) OVER () AS nn
             |    FROM (SELECT n_chars, count(*) AS c FROM b GROUP BY 1))),
             |tl AS (SELECT lang AS top_lang,
             |    CAST(lc AS BIGINT) AS top_lang_n
             |  FROM (SELECT lang, count(*) AS lc FROM b GROUP BY 1)
             |  ORDER BY lc DESC, lang DESC LIMIT 1)
             |SELECT n_docs, n_sources, n_langs, total_chars, total_tokens,
             |  vocab_size,
             |  vocab_size * 1000000 // total_tokens AS ttr_ppm,
             |  total_chars * 1000 // n_docs AS mean_chars_milli,
             |  p50_chars,
             |  n_dup_docs * 1000000 // n_docs AS exact_dup_ppm,
             |  n_low_quality * 1000000 // n_docs AS low_quality_ppm,
             |  top_lang,
             |  top_lang_n * 1000000 // n_docs AS top_lang_ppm
             |FROM core CROSS JOIN dup CROSS JOIN vc CROSS JOIN p5
             |CROSS JOIN tl""".stripMargin))
  )

  /** Round-16 additions kept out of the primary Seq (JVM method-size). */
  val entries2: Seq[Entry] = Seq(

    // q292: MULTI-RESOLUTION DUPLICATION PROFILE — q216's single-8-gram
    // audit extended to a resolution LADDER (L = 4, 8, 16, 32 tokens):
    // per (source, L), the share of token positions whose L-gram recurs
    // in ≥2 docs. The ladder is what a curation decision actually needs —
    // high dup at L=4 but not L=32 means phrase-level boilerplate (leave
    // it), high at L=32 means wholesale copying (cut it); one resolution
    // can't distinguish the two. Gram hashes fold token char-poly hashes
    // positionally (q216's integer pipeline) and the four ladders ship
    // through ONE exchange keyed gh·64+L (L ≤ 32 and gh < 2³¹ pack into
    // int64) — per-position work Σ L = 60·tokens, positions-linear. Same
    // two-consumer checkpoint + per-gram doc-count join-back as q216.
    Entry(
      "q292_dup_resolution_ladder",
      (s, d) => {
        // ladder keys via the native kernels (r21): per L, sliding L-gram
        // folds packed as gh*64 + L — identical to the former HOF flatten
        // over array(4, 8, 16, 32)
        def ladder(l: Int) = call_function("poly_slide", col("th"),
          lit(l), lit(64L), lit(l.toLong))
        val c = T.documents(s, d)
          .select(col("doc_id"), col("source"),
            call_function("token_polys", col("text")).as("th"))
          .select(col("doc_id"), col("source"),
            explode(concat(ladder(4), ladder(8), ladder(16), ladder(32)))
              .as("key"))
          .groupBy(col("key"), col("doc_id"), col("source"))
          .agg(count(lit(1)).as("npos"))
          .localCheckpoint() // consumers: per-gram doc counts + join-back
        val gc = c.groupBy(col("key")).agg(count(lit(1)).as("ndocs"))
        c.join(gc, Seq("key"))
          .withColumn("l", col("key") % 64L)
          .groupBy(col("source"), col("l"))
          .agg(
            sum(col("npos")).as("n_pos"),
            sum(when(col("ndocs") >= 2, col("npos")).otherwise(0L))
              .as("dup_pos"))
          .withColumn("dup_ppm",
            expr("dup_pos * 1000000L div greatest(n_pos, 1L)"))
          .orderBy(col("source"), col("l"))
      },
      Some(sql"""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
             |  FROM documents),
             |tht AS (SELECT doc_id, source, list_transform(t, w ->
             |    ${charPoly("w")}) AS th FROM tk),
             |g AS (SELECT doc_id, source,
             |    unnest(flatten(list_transform([4, 8, 16, 32], L ->
             |      list_transform(range(1, greatest(len(th) - L + 2, 1)),
             |        i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          th[i : i + L - 1]),
             |          (a, c) -> (a * 131 + c) % 2147483647) * 64 + L))))
             |      AS key
             |  FROM tht),
             |c AS (SELECT key, doc_id, source, CAST(count(*) AS BIGINT)
             |    AS npos FROM g GROUP BY 1, 2, 3),
             |gc AS (SELECT key, CAST(count(*) AS BIGINT) AS ndocs
             |  FROM c GROUP BY 1)
             |SELECT source, CAST(key % 64 AS BIGINT) AS l,
             |  CAST(sum(npos) AS BIGINT) AS n_pos,
             |  CAST(sum(CASE WHEN ndocs >= 2 THEN npos ELSE 0 END) AS BIGINT)
             |    AS dup_pos,
             |  CAST(sum(CASE WHEN ndocs >= 2 THEN npos ELSE 0 END) AS BIGINT)
             |    * 1000000 // greatest(CAST(sum(npos) AS BIGINT), 1) AS dup_ppm
             |FROM c JOIN gc USING (key)
             |GROUP BY source, key % 64 ORDER BY source, l"""))
  )

  /** ONE-PASS (doc_id, score, pos) for the classifier-evaluation tier:
    * q194's hashed-n-gram score and q88's repetition label are BOTH
    * per-doc map computations over the same text row, so computing them
    * in one projection removes a whole corpus scan AND the doc_id
    * join/exchange the two-pass form needs — at 100 TB that join is the
    * bottleneck, not the arithmetic. Same expressions as
    * [[TextOps.classifierScores]] / [[TextOps.repetitionCounts]] +
    * [[TextOps.lowQuality]], fused; suite-pinned single scan (q210).
    */
  private[graft] def scoredLabeledDocs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    // the former interpreted maxRun spec — aggregate(array_sort(arr),
    // (prev, run, best), ...) -> best — now computed by the native
    // max_sorted_run kernel (TextKernels.maxSortedRun; r22, value-identical,
    // PolyKernelsSuite-pinned)
    T.documents(s, d)
      .select(
        col("doc_id"),
        col("text"),
        split(col("text"), " ").as("t"),
        expr("filter(split(lower(text), ' '), w -> w rlike '^[a-z0-9]+$')").as("u"))
      .select(
        col("doc_id"),
        // r21: native cls_score kernel — identical value to the former
        // nested-aggregate HOF over concat(u, zip_with(...))
        expr("cls_score(u)").as("score"),
        size(col("t")).cast("long").as("n_words"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"),
        // r22: native max_sorted_run + token_bigrams kernels — identical
        // values to the former interpreted maxRun/zip_with folds
        call_function("max_sorted_run", col("t")).as("max_w"),
        call_function("token_bigrams", col("text")).as("bg"))
      .select(
        col("doc_id"), col("score"),
        // identical guards to TextOps.repetitionCounts + lowQuality: n_bg
        // floored at 1 so a single-token doc (no bigrams) compares 0 > 3,
        // same as the two-pass form and the q88-style oracle.
        (!(col("max_w") * 25 > col("n_words") * 3 ||
          (col("n_words") - col("n_distinct")) * 20 > col("n_words") * 13 ||
          call_function("max_sorted_run", col("bg")) * 50 >
            greatest(size(col("bg")).cast("long"), lit(1L)) * 3)).as("pos"))
  }

  /** q198's full smoothed model (no count floor, no top-k): exposed so the
    * suite can assert the KN normalization property Σ_w2 P(w2|w1) = 1 per
    * context — the defining invariant of a proper smoothed distribution.
    */
  private[graft] def knTable(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val docToks = T.documents(s, d)
      .select(col("doc_id"), col("text"), toks.as("t"))
    val bi = docToks
      .select(explode(call_function("token_bigram_structs", col("text"))).as("p"))
      .groupBy(col("p.a").as("w1"), col("p.b").as("w2"))
      .agg(count(lit(1)).as("c12"))
    val biC = bi.localCheckpoint() // three consumers: ctx, cont, T
    val ctx = biC.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = biC.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val types = biC.agg(count(lit(1)).as("t_types"))
    biC
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn(
        "p_kn",
        greatest(col("c12").cast("double") - 0.75, lit(0.0))
          / col("c1").cast("double")
          + ((lit(0.75) * col("n1f").cast("double")) / col("c1").cast("double"))
          * (col("n1p").cast("double") / col("t_types").cast("double")))
  }
}
