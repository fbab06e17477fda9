package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.queries.Entry
import graft.queries.OracleSql._
import graft.sources.Artifacts
import graft.{Tables => T}

/** Corpus REWRITE transforms — the operators that emit (or digest) a
  * *cleaned/encoded* corpus rather than an audit of it. The dedup family
  * (q216/q229) detects repeated spans; the BPE family (q81/q83) learns a
  * tokenizer; the privacy family (q235/q263) bounds release. This module
  * closes the loop with the transforms a production curation stack actually
  * applies between those audits: encode with a learned vocabulary (q282),
  * drop repeated spans keeping first occurrence (q283), redact PII (q284).
  *
  * House discipline: every output is exact-integer (ppm/micro ratios,
  * mod-2³¹−1 char-polynomial digests summed commutatively), every plan is
  * one corpus scan plus bounded exchanges, and every oracle replays the
  * same arithmetic verbatim.
  *
  * Reference scope (JasperWoo/MapReduceCore): the reference ships map/reduce
  * plumbing only (src/mapreduce_spec.h, src/worker.h) — these transforms are
  * the user-level jobs its word-count/grep examples gesture at, made
  * first-class (same posture as TextOps.scala:20-24).
  */
object Transforms {

  private val P = 2147483647L // 2^31 − 1, the house digest modulus

  /** RE2 ∩ Java-regex-safe PII patterns (no backrefs, no lookaround) —
    * shared verbatim by the Spark plan and the DuckDB oracle. (Defined
    * BEFORE `entries`: the oracle strings interpolate them eagerly.)
    */
  private[graft] val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,6}"
  private[graft] val Ipv4Pat =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PhonePat = "\\+1-555-\\d{4}"
  private[graft] val KeyPat = "sk-[0-9a-f]{16}"

  /** Shared q282/q288/q289 oracle: unroll the 4 learn rounds as CTEs (the
    * q83 pattern carrying `source`), then the before/after per-source
    * rollup. All three encode paths produce the IDENTICAL table — the
    * pivoted-column apply (q282), the merge-array fold (q288), and the
    * serve-from-artifact (q289) — which is itself the equivalence claim
    * the oracle triple-checks.
    */
  private val BpeEncodeOracle: String = {
    def enc(r: Int): String = {
      val prev = if (r == 1) "s0" else s"m${r - 1}"
      s"""p$r AS (SELECT unnest(list_transform(range(2, len(toks)+1),
         |    i -> toks[i-1] || ' ' || toks[i])) AS pair
         |  FROM (SELECT list_filter(string_split(trim(s, ' '), '  '), t -> t <> '') AS toks
         |        FROM $prev)),
         |t$r AS (SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y
         |  FROM (SELECT pair, count(*) AS cnt FROM p$r GROUP BY pair
         |        ORDER BY cnt DESC, pair LIMIT 1)),
         |m$r AS MATERIALIZED (SELECT source,
         |    replace(s, ' '||x||'  '||y||' ', ' '||x||y||' ') AS s
         |  FROM $prev CROSS JOIN t$r)""".stripMargin
    }
    s"""WITH s0 AS MATERIALIZED (SELECT source,
       |    ' ' || array_to_string(regexp_extract_all(text, '[a-z]{1,4}'), '  ') || ' ' AS s
       |  FROM documents),
       |${(1 to 4).map(enc).mkString(",\n")},
       |bef AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(list_filter(string_split(trim(s, ' '), '  '), t -> t <> ''))) AS BIGINT)
       |      AS toks_before,
       |    CAST(sum(length(replace(s, ' ', ''))) AS BIGINT) AS n_chars
       |  FROM s0 GROUP BY source),
       |aft AS (SELECT source,
       |    CAST(sum(len(list_filter(string_split(trim(s, ' '), '  '), t -> t <> ''))) AS BIGINT)
       |      AS toks_after
       |  FROM m4 GROUP BY source)
       |SELECT b.source, b.n_docs, b.toks_before, a.toks_after, b.n_chars,
       |  b.n_chars * 1000000 // greatest(a.toks_after, 1) AS chars_per_tok_micro,
       |  a.toks_after * 1000000 // greatest(b.toks_before, 1) AS compression_ppm
       |FROM bef b JOIN aft a USING (source) ORDER BY source""".stripMargin
  }

  /** Shared q284/q294 oracle: the batch scan and the streaming
    * deployment produce the IDENTICAL table.
    */
  private[graft] val PiiRedactOracle: String =
    sql"""WITH inj AS (SELECT source,
             |    CASE CAST(doc_id % 101 AS INT)
             |      WHEN 3 THEN text || ' contact user' || doc_id || '@example.com now'
             |      WHEN 17 THEN text || ' from 10.' || (doc_id % 256) || '.0.42 logged'
             |      WHEN 29 THEN text || ' call +1-555-' ||
             |        lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0') || ' today'
             |      WHEN 41 THEN text || ' token sk-' ||
             |        substr(md5('pii:' || CAST(doc_id AS VARCHAR)), 1, 16) || ' used'
             |      ELSE text END AS x
             |  FROM documents),
             |m AS (SELECT source,
             |    CAST(len(regexp_extract_all(x, '$EmailPat')) AS BIGINT) AS ce,
             |    CAST(len(regexp_extract_all(x, '$Ipv4Pat')) AS BIGINT) AS ci,
             |    CAST(len(regexp_extract_all(x, '$PhonePat')) AS BIGINT) AS cp,
             |    CAST(len(regexp_extract_all(x, '$KeyPat')) AS BIGINT) AS ck,
             |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(x,
             |      '$EmailPat', '[EMAIL]', 'g'),
             |      '$Ipv4Pat', '[IP]', 'g'),
             |      '$PhonePat', '[PHONE]', 'g'),
             |      '$KeyPat', '[KEY]', 'g') AS r
             |  FROM inj),
             |dgt AS (SELECT source, ce, ci, cp, ck,
             |    ${charPoly("r")} AS dg
             |  FROM m)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(ce) AS BIGINT) AS n_emails,
             |  CAST(sum(ci) AS BIGINT) AS n_ipv4,
             |  CAST(sum(cp) AS BIGINT) AS n_phones,
             |  CAST(sum(ck) AS BIGINT) AS n_keys,
             |  CAST(sum(CASE WHEN ce + ci + cp + ck > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS pii_docs,
             |  CAST(sum(CASE WHEN ce + ci + cp + ck > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) * 1000000 // greatest(count(*), 1) AS pii_ppm,
             |  CAST(sum(dg) AS BIGINT) AS redacted_digest
             |FROM dgt GROUP BY source ORDER BY source"""

  val entries: Seq[Entry] = Seq(

    // q282: TOKENIZER APPLY — encode the corpus with the merge list q83
    // LEARNS, and report the statistic every LLM-data conversation starts
    // with: tokens per source, chars-per-token, and the compression ratio
    // vs the pre-BPE token count. The learn phase (bpeVocab, q83's exact
    // 4-round plan) runs ONCE and its 4-row merge list is persisted through
    // a localCheckpoint barrier, pivoted to one row, and BROADCAST into the
    // encode scan — the apply pass never re-learns (suite-pinned: exactly
    // one parquet scan in the executed encode plan, the learn having run
    // before the barrier). Encoding applies the merges in learned order via
    // the q81 double-space serialization (replace() IS the greedy BPE scan
    // — see q81's proof), so apply(corpus, merges) ≡ the learn loop's final
    // re-segmentation, which is exactly what the oracle unrolls as CTEs.
    // Scale: learn = q83's per-round partial-agged pair count + 1-row
    // broadcast; apply = ONE linear corpus scan (4 codegen replaces) + a
    // per-source rollup. At tokenizer scale (32k merges) the same apply
    // scan folds the broadcast merge ARRAY instead of 4 pivoted columns;
    // the 4-merge form keeps the oracle a finite CTE unroll.
    Entry(
      "q282_bpe_encode",
      (s, d) => {
        val ml = TextOps.bpeVocab(s, d, rounds = 4)
          .select(col("round"), col("x"), col("y"))
          .localCheckpoint() // the persisted merge-list table (learn ran here)
        def part(r: Int, c: String): Column =
          max(when(col("round") === r.toLong, col(c))).as(s"$c$r")
        val wide = ml.agg(part(1, "x"), part(1, "y"), part(2, "x"),
          part(2, "y"), part(3, "x"), part(3, "y"), part(4, "x"), part(4, "y"))
        val enc = (1 to 4).foldLeft(bpeDocs(s, d).crossJoin(broadcast(wide))) {
          (df, r) =>
            df.withColumn("s", replace(col("s"),
              concat(lit(" "), col(s"x$r"), lit("  "), col(s"y$r"), lit(" ")),
              concat(lit(" "), col(s"x$r"), col(s"y$r"), lit(" "))))
        }
        bpeRollup(enc)
      },
      Some(BpeEncodeOracle)),

    // q283: REPEATED-SPAN REMOVAL — the REWRITE q216's audit stops short
    // of: drop every corpus-wide repeat of an 8-token span, keep the
    // globally FIRST occurrence, and report per-source what was removed
    // plus an exact digest of the surviving span sequence. Spans are
    // BLOCK-ALIGNED (tokens 1-8, 9-16, …): dropping whole blocks shifts
    // the remainder by exact multiples of 8, so re-segmenting the cleaned
    // corpus reproduces the kept blocks verbatim and a second pass removes
    // NOTHING — idempotence is structural, not incidental (suite-pinned
    // via spanDedupRewrite; the q188 normalize-collapse discipline). The
    // alignment trade (a span repeated at a different offset mod 8 is
    // missed) is the same fixed-vs-CDC trade q229 documents; this operator
    // pairs with q229's shift-resistant detector as the deterministic
    // rewrite. First-occurrence = min(doc_id·2²⁴ + block_idx) per span
    // hash — a packed-key GROUPBY min (map-side partials absorb a
    // mass-pasted span) + join-back on the hash (AQE skew-split divides
    // the hot key), never a window over a corpus-hot partition: the q229
    // hot-chunk lesson applied at design time. Digest: Σ (bh·bi) mod
    // 2³¹−1 over kept blocks + a tail term — order-weighted, commutative
    // to SUM, so no sort anywhere. Bounds: doc_id < 2³⁹, blocks/doc < 2²⁴
    // (134M tokens/doc); sums < 2⁶³ to ~4·10⁹ blocks, then Decimal(38).
    Entry(
      "q283_span_dedup",
      (s, d) => spanDedupStats(
        T.documents(s, d).select(col("doc_id"), col("source"), col("text"))),
      Some(sql"""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t
             |  FROM documents),
             |base AS MATERIALIZED (SELECT doc_id, source,
             |    CAST(len(th) AS BIGINT) AS n,
             |    CAST(len(th) // 8 AS BIGINT) AS nblk,
             |    CASE WHEN len(th) % 8 > 0 THEN
             |      (${polyFold("th[(len(th) // 8) * 8 + 1 : len(th)]")}
             |       * (len(th) // 8 + 1)) % $P
             |    ELSE 0 END AS tailterm, th
             |  FROM (SELECT doc_id, source, list_transform(t, w ->
             |      ${charPoly("w")}) AS th FROM tk)),
             |blk0 AS (SELECT source, doc_id,
             |    unnest(range(1, nblk + 1)) AS bi,
             |    unnest(list_transform(range(1, nblk + 1), i ->
             |      ${polyFold("th[(i - 1) * 8 + 1 : i * 8]")})) AS bh
             |  FROM base),
             |blk AS MATERIALIZED (SELECT source, doc_id,
             |    CAST(bi AS BIGINT) AS bi, bh,
             |    doc_id * 16777216 + bi AS packed
             |  FROM blk0),
             |firsts AS (SELECT bh, min(packed) AS first_key
             |  FROM blk GROUP BY bh),
             |bs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_spans,
             |    CAST(sum(CASE WHEN packed != first_key THEN 1 ELSE 0 END)
             |      AS BIGINT) AS dup_spans,
             |    CAST(sum(CASE WHEN packed = first_key
             |      THEN bh * bi % $P ELSE 0 END) AS BIGINT) AS kept_digest
             |  FROM blk JOIN firsts USING (bh) GROUP BY source),
             |ds AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(n) AS BIGINT) AS toks_before,
             |    CAST(sum(tailterm) AS BIGINT) AS tail_digest
             |  FROM base GROUP BY source)
             |SELECT ds.source, ds.n_docs,
             |  coalesce(bs.n_spans, 0) AS n_spans,
             |  coalesce(bs.dup_spans, 0) AS dup_spans,
             |  ds.toks_before,
             |  coalesce(bs.dup_spans, 0) * 8 AS toks_removed,
             |  coalesce(bs.dup_spans, 0) * 8 * 1000000
             |    // greatest(ds.toks_before, 1) AS removed_ppm,
             |  coalesce(bs.kept_digest, 0) + ds.tail_digest AS span_digest
             |FROM ds LEFT JOIN bs USING (source) ORDER BY source""")),

    // q284: PII SCAN + REDACT — the regex-family curation stage every
    // production stack runs (emails, phone numbers, IPv4 literals,
    // key-shaped tokens): per-source match counts, affected-doc ppm, and
    // an exact digest of the REDACTED corpus proving what the rewrite
    // emitted. The fixture corpus is synthetic lowercase prose with no
    // PII, so PII is FABRICATED in-query on deterministic doc_id residues
    // (the q215/q35 in-query damage pattern — right for the cross-engine
    // gate: both engines inject, scan, and redact the identical corpus).
    // All four patterns are RE2∩Java-regex safe (no backrefs, no
    // lookaround). Plan: ONE corpus scan, per-row codegen regex counts +
    // four sequential regexp_replace passes + the char-polynomial digest
    // fold, then a per-source rollup — no explode, no join, nothing
    // corpus-sized ever exchanged (match counts are the only shuffled
    // bytes). At 100 TB this is the cheapest stage in the pipeline: pure
    // map work, shuffle = |sources| rows.
    Entry(
      "q284_pii_redact",
      (s, d) => piiScanRedact(
        T.documents(s, d).select(col("doc_id"), col("source"), col("text")))
        .orderBy(col("source")),
      Some(PiiRedactOracle))
  )

  /** q284's body over any (doc_id, source, text) frame — UNSORTED, so the
    * q294 streaming deployment can run the identical plan under a
    * Complete-mode aggregate (every output is a commutative sum). The
    * regex columns go through lit()/the Column API, never an expr() SQL
    * string: Spark SQL literals consume backslashes while DuckDB's don't,
    * so lit() is what lets ONE pattern constant serve both engines.
    */
  private[graft] def piiScanRedact(docs: DataFrame): DataFrame = {
    val injected =
      """CASE CAST(doc_id % 101 AS INT)
        |  WHEN 3 THEN concat(text, ' contact user',
        |    CAST(doc_id AS STRING), '@example.com now')
        |  WHEN 17 THEN concat(text, ' from 10.',
        |    CAST(doc_id % 256 AS STRING), '.0.42 logged')
        |  WHEN 29 THEN concat(text, ' call +1-555-',
        |    lpad(CAST(doc_id * 7919 % 10000 AS STRING), 4, '0'), ' today')
        |  WHEN 41 THEN concat(text, ' token sk-',
        |    substring(md5(CAST(concat('pii:', CAST(doc_id AS STRING)) AS BINARY)), 1, 16), ' used')
        |  ELSE text END""".stripMargin
    def nMatches(c: Column, pat: String): Column =
      size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
    val redacted = Seq(EmailPat -> "[EMAIL]", Ipv4Pat -> "[IP]",
      PhonePat -> "[PHONE]", KeyPat -> "[KEY]")
      .foldLeft(col("x")) { case (c, (pat, rep)) =>
        regexp_replace(c, pat, rep)
      }
    docs
      .select(col("source"), expr(injected).as("x"))
      .select(
        col("source"),
        nMatches(col("x"), EmailPat).as("ce"),
        nMatches(col("x"), Ipv4Pat).as("ci"),
        nMatches(col("x"), PhonePat).as("cp"),
        nMatches(col("x"), KeyPat).as("ck"),
        aggregate(
          filter(split(redacted, ""), ch => ch =!= ""),
          lit(0L),
          (a, c) => (a * lit(131L) + ascii(c)) % lit(P))
          .as("dg"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ce")).as("n_emails"),
        sum(col("ci")).as("n_ipv4"),
        sum(col("cp")).as("n_phones"),
        sum(col("ck")).as("n_keys"),
        sum(when(col("ce") + col("ci") + col("cp") + col("ck") > 0, 1L)
          .otherwise(0L)).as("pii_docs"),
        sum(col("dg")).as("redacted_digest"))
      .withColumn("pii_ppm",
        expr("pii_docs * 1000000L div greatest(n_docs, 1L)"))
      .select(col("source"), col("n_docs"), col("n_emails"),
        col("n_ipv4"), col("n_phones"), col("n_keys"), col("pii_docs"),
        col("pii_ppm"), col("redacted_digest"))
  }

  /** Serialized pre-BPE corpus: (source, s, nt0, nc) with the q81
    * double-space serialization, pre-encode token count, and token chars.
    */
  private def bpeDocs(s: SparkSession, d: String): DataFrame = {
    val toksCol = regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))
    T.documents(s, d).select(
      col("source"),
      concat(lit(" "), concat_ws("  ", toksCol), lit(" ")).as("s"))
      // r22: native ds_token_count — identical to
      // size(filter(split(trim(s), "  "), t -> t != '')) cast long
      .withColumn("nt0", call_function("ds_token_count", col("s")))
      .withColumn("nc",
        length(replace(col("s"), lit(" "), lit(""))).cast("long"))
  }

  /** Per-source encode rollup over an encoded (source, s, nt0, nc) frame. */
  private def bpeRollup(enc: DataFrame): DataFrame =
    enc
      .withColumn("nt4", call_function("ds_token_count", col("s")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt0")).as("toks_before"),
        sum(col("nt4")).as("toks_after"),
        sum(col("nc")).as("n_chars"))
      .withColumn("chars_per_tok_micro",
        expr("n_chars * 1000000L div greatest(toks_after, 1L)"))
      .withColumn("compression_ppm",
        expr("toks_after * 1000000L div greatest(toks_before, 1L)"))
      .orderBy(col("source"))

  /** Encode the corpus by FOLDING a merge-list table: the merges collapse
    * to ONE broadcast row holding the ordered (x, y) struct ARRAY, and the
    * scan applies them with a single `aggregate` HOF — the plan is
    * constant-size in the merge count, which is what a 32k-merge
    * production tokenizer needs (q282's pivoted columns grow the plan per
    * merge; this form doesn't). Output identical to q282's by
    * construction (suite-pinned).
    */
  private[graft] def bpeFoldEncode(
      s: SparkSession, d: String, ml: DataFrame): DataFrame = {
    val marr = ml.agg(expr(
      "transform(array_sort(collect_list(struct(round, x, y))), " +
        "m -> struct(m.x AS x, m.y AS y))").as("marr"))
    // r22: native bpe_apply_merges — identical to the former interpreted
    // aggregate(marr, s, (acc, m) -> replace(acc, ...)) fold
    val enc = bpeDocs(s, d).crossJoin(broadcast(marr))
      .withColumn("s", call_function("bpe_apply_merges", col("s"), col("marr")))
    bpeRollup(enc)
  }

  /** Round-16 second batch kept out of the primary Seq (JVM method-size,
    * the Dedup.entries2 precedent).
    */
  val entries2: Seq[Entry] = Seq(

    // q288: TOKENIZER APPLY, MERGE-ARRAY FOLD FORM — q282's encode with
    // the plan-scale story fixed for real vocabularies: the merge list
    // enters as ONE broadcast array row and a single aggregate HOF folds
    // the replaces, so a 32k-merge tokenizer costs the same PLAN as 4
    // merges (q282's pivoted columns grow the expression tree per merge).
    // Output is identical to q282 — the shared oracle and a suite
    // equality pin state exactly that.
    Entry(
      "q288_bpe_encode_fold",
      (s, d) => bpeFoldEncode(s, d,
        TextOps.bpeVocab(s, d, rounds = 4)
          .select(col("round"), col("x"), col("y"))
          .localCheckpoint()),
      Some(BpeEncodeOracle)),

    // q289: TOKENIZER PUBLISH + SERVE — the production lifecycle the
    // in-query q282/q288 stand-ins name (the q108/q109 pattern applied to
    // the tokenizer artifact): LEARN once, atomically PUBLISH the merge
    // list as a generation (readers see a complete old list or a complete
    // new one, never a mix), then SERVE the encode from the artifact with
    // NO learn stage in the plan — at 100 TB the tokenizer trains on a
    // sample once and is applied to every corpus build after; re-learning
    // per encode is the anti-pattern. Suite pins the serve plan: exactly
    // two parquet scans (corpus + artifact), zero pair-count aggregations.
    Entry(
      "q289_tokenizer_publish_serve",
      (s, d) => {
        val root = graft.sources.Sources.scratch(d, "bpe_merges")
        // q289 learns and publishes on every run (the publish is what it
        // proves), so each run takes a fresh generation name: rewriting the
        // live one in place would delete files under a reader mid-scan
        val cur = Artifacts.publish(s, root, Artifacts.nextGen(s, root, "gen-build-"))(
          "merges" -> TextOps.bpeVocab(s, d, rounds = 4).select(col("round"), col("x"), col("y")))
        bpeFoldEncode(s, d, s.read.parquet(s"$cur/merges"))
      },
      Some(BpeEncodeOracle)),

    // q290: SPAN-INDEX DELTA DEDUP — the O(delta) lifecycle verb for q283
    // (the q122/q138 pattern applied to span dedup): the corpus's span
    // hashes publish ONCE as a generation artifact, and an arriving batch
    // dedups against the INDEX — never against the corpus — so ingest
    // work scales with the delta, which is the whole point at 100 TB
    // (re-running q283 per batch rescans everything). Delta fabricated
    // deterministically (the q98/q122 pattern): every doc_id ≡ 2 mod 5
    // re-ingests under +10M with EIGHT fresh tokens prepended — exactly
    // one block per doc is novel (kept) and every original block re-aligns
    // (the q283 block-shift property) and drops against the index. Per
    // source: delta docs/spans, dropped, kept, kept ppm. Suite pins the
    // plan reads exactly delta + artifact (no corpus-sized dedup stage).
    Entry(
      "q290_span_index_delta",
      (s, d) => {
        val root = graft.sources.Sources.scratch(d, "span_index")
        // build ONCE (the q122/annIngest lifecycle guard): the index is a
        // property of the corpus, and the delta path must not pay the
        // corpus scan per batch — that asymmetry IS the operator
        val cur = Artifacts.ensure(s, root, "gen-build")(Seq("spans" -> spanBlocks(
          T.documents(s, d).select(col("doc_id"), col("source"), col("text")))
          .select(posexplode(col("bharr")).as(Seq("p", "bh")))
          .select(col("bh")).distinct()))
        val idx = s.read.parquet(s"$cur/spans")
        val delta = T.documents(s, d)
          .filter(col("doc_id") % 5 === 2)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
            col("text"))
          .select(col("doc_id"), col("source"),
            concat(
              expr("concat_ws(' ', transform(sequence(0, 7), i -> " +
                "concat('nu', cast(doc_id as string), 'x', cast(i as string))))"),
              lit(" "), col("text")).as("text"))
        val dblk = spanBlocks(delta)
          .select(col("doc_id"), col("source"),
            posexplode(col("bharr")).as(Seq("p", "bh")))
        dblk
          .join(idx.withColumn("hit", lit(1L)), Seq("bh"), "left")
          .groupBy(col("source"))
          .agg(
            countDistinct(col("doc_id")).as("n_delta_docs"),
            count(lit(1)).as("delta_spans"),
            sum(when(col("hit") === 1L, 1L).otherwise(0L)).as("dropped_spans"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("kept_spans"))
          .withColumn("kept_ppm",
            expr("kept_spans * 1000000L div greatest(delta_spans, 1L)"))
          .orderBy(col("source"))
      },
      Some(sql"""WITH d AS (SELECT doc_id, source, text FROM documents),
             |tht AS MATERIALIZED (SELECT doc_id, source,
             |    list_transform(string_split(text, ' '), w ->
             |      ${charPoly("w")}) AS th
             |  FROM d),
             |idx AS MATERIALIZED (SELECT DISTINCT
             |    unnest(list_transform(range(1, len(th) // 8 + 1), i ->
             |      ${polyFold("th[(i - 1) * 8 + 1 : i * 8]")})) AS bh
             |  FROM tht),
             |delta AS (SELECT doc_id + 10000000 AS doc_id, source,
             |    array_to_string(list_transform(range(0, 8), i ->
             |      'nu' || CAST(doc_id + 10000000 AS VARCHAR) || 'x'
             |        || CAST(i AS VARCHAR)), ' ') || ' ' || text AS text
             |  FROM d WHERE doc_id % 5 = 2),
             |dth AS (SELECT doc_id, source,
             |    list_transform(string_split(text, ' '), w ->
             |      ${charPoly("w")}) AS th
             |  FROM delta),
             |dblk AS (SELECT doc_id, source,
             |    unnest(list_transform(range(1, len(th) // 8 + 1), i ->
             |      ${polyFold("th[(i - 1) * 8 + 1 : i * 8]")})) AS bh
             |  FROM dth)
             |SELECT b.source,
             |  CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_delta_docs,
             |  CAST(count(*) AS BIGINT) AS delta_spans,
             |  CAST(sum(CASE WHEN i.bh IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS dropped_spans,
             |  CAST(sum(CASE WHEN i.bh IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS kept_spans,
             |  CAST(sum(CASE WHEN i.bh IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) * 1000000
             |    // greatest(CAST(count(*) AS BIGINT), 1) AS kept_ppm
             |FROM dblk b LEFT JOIN idx i ON i.bh = b.bh
             |GROUP BY b.source ORDER BY b.source""")),

    // q291: LEAKAGE-SAFE TRAIN/VAL/TEST SPLITS — the split assignment a
    // training pipeline actually needs: exact-duplicate CLUSTERS must
    // never straddle splits (a doc in train with its copy in test is the
    // classic eval leak q121/q228's hash splits don't rule out). Cluster
    // = the (char-poly digest, length) exact key; every member inherits
    // the split of the cluster REPRESENTATIVE (min doc_id) via the seeded
    // md5 lane primitive (80/10/10 by bucket mod 100) — leakage-freedom
    // is then BY CONSTRUCTION, and the output still PROVES it in-row: the
    // audit column recomputes max distinct splits over any cluster. One
    // digest exchange + a cluster-sized broadcast-back join; no text in
    // any exchange key.
    Entry(
      "q291_leakage_safe_splits",
      (s, d) => {
        val keyed = T.documents(s, d)
          .select(col("doc_id"), col("source"),
            expr("char_poly(text)").as("dg"),
            length(col("text")).cast("long").as("len"))
          .localCheckpoint() // consumers: reps + member join
        val reps = keyed.groupBy(col("dg"), col("len"))
          .agg(min(col("doc_id")).as("rep"))
          .withColumn("bucket", expr(
            "CAST(conv(substring(md5(concat('split:v1:', " +
              "CAST(rep AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100"))
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val").otherwise("test"))
        val assigned = keyed.join(reps, Seq("dg", "len"))
          .localCheckpoint() // consumers: per-split rollup + straddle audit
        val audit = assigned.groupBy(col("dg"), col("len"))
          .agg(countDistinct(col("split")).as("nsp"))
          .agg(max(col("nsp")).as("max_splits_per_cluster"))
        val total = assigned.agg(count(lit(1)).as("n_total"))
        assigned.groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("dg"), col("len")).as("n_clusters"))
          .crossJoin(broadcast(total))
          .crossJoin(broadcast(audit))
          .select(col("split"), col("n_docs"), col("n_clusters"),
            expr("n_docs * 1000000L div greatest(n_total, 1L)").as("doc_ppm"),
            (col("max_splits_per_cluster") === 1L).as("leakage_free"))
          .orderBy(col("split"))
      },
      Some(sql"""WITH k AS MATERIALIZED (SELECT doc_id, source,
             |    ${charPoly("text")} AS dg,
             |    CAST(length(text) AS BIGINT) AS len
             |  FROM documents),
             |reps AS (SELECT dg, len, min(doc_id) AS rep
             |  FROM k GROUP BY 1, 2),
             |sp AS (SELECT dg, len,
             |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |      ELSE 'test' END AS split
             |  FROM (SELECT dg, len,
             |      ${md5Lane("'split:v1:' || rep::VARCHAR", keyBr = Br(2))} % 100 AS b FROM reps)),
             |a AS MATERIALIZED (SELECT k.doc_id, k.dg, k.len, sp.split
             |  FROM k JOIN sp USING (dg, len)),
             |aud AS (SELECT max(nsp) AS mx FROM (
             |  SELECT count(DISTINCT split) AS nsp FROM a GROUP BY dg, len)),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM a)
             |SELECT a.split, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT (a.dg, a.len)) AS BIGINT) AS n_clusters,
             |  CAST(count(*) AS BIGINT) * 1000000
             |    // greatest(tot.n_total, 1) AS doc_ppm,
             |  aud.mx = 1 AS leakage_free
             |FROM a CROSS JOIN tot CROSS JOIN aud
             |GROUP BY a.split, tot.n_total, aud.mx ORDER BY a.split""")),

    // q293: NEAR-DUP-SAFE SPLITS — q291 upgraded to the cluster relation
    // that actually leaks: EXACT dups are the easy case; a paraphrase/
    // near-copy (q37's Jaccard ≥ 0.95 pairs) in train with its twin in
    // test is the eval leak that survives exact-key splitting. Clusters =
    // q87's connected components over the near-dup pair graph (label
    // propagation + pointer jumping, REUSED via neardupLabels on one
    // checkpointed pair set); every member inherits its component
    // representative's seeded-md5 bucket. The output carries the
    // VALUE-ADD proof, not just the guarantee: naive_leaky_pairs counts
    // the near-dup pairs a per-DOC hash split would scatter across
    // splits (fixture: >0), while this split's straddle count is zero by
    // construction and re-audited in-row. Oracle closes the same pair
    // relation transitively with q87's recursive CTE.
    Entry(
      "q293_neardup_safe_splits",
      (s, d) => {
        // r22: label-propagate over the CONDENSED group graph (the q87/q186
        // structure — identical components by the gid = min-member argument
        // at wordsetNeardupParts) and expand labels to members with one
        // join; the former form ran the loop over the ~191k clique-expanded
        // doc pairs AND re-ran the confirm pipeline shape through
        // wordsetNeardup's output sort. The expanded pair set is still
        // materialized — pair-level, unsorted — for the naive-leak audit,
        // which is the one consumer that needs doc pairs.
        val (repPairs0, members0) = Dedup.wordsetNeardupParts(s, d)
        val members = members0.localCheckpoint() // consumers: node set + label expansion
        val repPairs = repPairs0.localCheckpoint() // consumers: label loop + pair expansion
        val pairs = Dedup.expandRepPairs(repPairs, members, clusterFirst = true)
          .select(col("a_id"), col("b_id"))
          .localCheckpoint() // consumer: naive leak count
        val repLabels = Dedup.minLabelLoop(s,
          members.select(col("gid").as("node")).distinct(),
          repPairs.select(col("ga").as("a_id"), col("gb").as("b_id")))
        val labels = members
          .join(repLabels.select(col("node").as("gid"), col("label")), Seq("gid"))
          .select(col("doc_id").as("node"), col("label"))
          .localCheckpoint() // consumers: split rollup + straddle audit + naive
        def bucket(name: String): Column =
          expr(s"CAST(conv(substring(md5(concat('nsplit:v1:', " +
            s"CAST($name AS STRING))), 1, 8), 16, 10) AS BIGINT) % 100")
        val assigned = labels
          .withColumn("b", bucket("label"))
          .withColumn("split",
            when(col("b") < 80, "train")
              .when(col("b") < 90, "val").otherwise("test"))
        val naive = labels.select(col("node"),
          when(bucket("node") < 80, "train")
            .when(bucket("node") < 90, "val").otherwise("test")
            .as("nsplit"))
        val leaky = pairs
          .join(naive.select(col("node").as("a_id"), col("nsplit").as("sa")), Seq("a_id"))
          .join(naive.select(col("node").as("b_id"), col("nsplit").as("sb")), Seq("b_id"))
          .agg(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
            .as("naive_leaky_pairs"))
        val audit = assigned.groupBy(col("label"))
          .agg(countDistinct(col("split")).as("nsp"))
          .agg(coalesce(max(col("nsp")), lit(1L)).as("mx"))
        val total = assigned.agg(count(lit(1)).as("n_total"))
        assigned.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("label")).as("n_clusters"))
          .crossJoin(broadcast(total))
          .crossJoin(broadcast(leaky))
          .crossJoin(broadcast(audit))
          .select(col("split"), col("n_docs"), col("n_clusters"),
            expr("n_docs * 1000000L div greatest(n_total, 1L)").as("doc_ppm"),
            coalesce(col("naive_leaky_pairs"), lit(0L)).as("naive_leaky_pairs"),
            (col("mx") === 1L).as("leakage_free"))
          .orderBy(col("split"))
      },
      Some(sql"""WITH RECURSIVE s AS (
             |  SELECT doc_id, list_distinct(string_split(text,' ')) AS toks
             |  FROM documents),
             |p AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |  $nearDupPairsFrom,
             |e AS (SELECT a_id AS src, b_id AS dst FROM p
             |      UNION ALL SELECT b_id, a_id FROM p),
             |$reachability,
             |lab AS MATERIALIZED (SELECT node, min(reach) AS label
             |  FROM r GROUP BY node),
             |asg AS MATERIALIZED (SELECT node, label,
             |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |      ELSE 'test' END AS split
             |  FROM (SELECT node, label,
             |      ${md5Lane("'nsplit:v1:' || label::VARCHAR", keyBr = Br(2))} % 100 AS b FROM lab)),
             |nv AS (SELECT node,
             |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |      ELSE 'test' END AS nsplit
             |  FROM (SELECT node,
             |      ${md5Lane("'nsplit:v1:' || node::VARCHAR", keyBr = Br(2))} % 100 AS b FROM lab)),
             |lk AS (SELECT CAST(sum(CASE WHEN na.nsplit != nb.nsplit
             |      THEN 1 ELSE 0 END) AS BIGINT) AS naive_leaky_pairs
             |  FROM p JOIN nv na ON na.node = p.a_id
             |  JOIN nv nb ON nb.node = p.b_id),
             |aud AS (SELECT coalesce(max(nsp), 1) AS mx FROM (
             |  SELECT count(DISTINCT split) AS nsp FROM asg GROUP BY label)),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM asg)
             |SELECT asg.split, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT asg.label) AS BIGINT) AS n_clusters,
             |  CAST(count(*) AS BIGINT) * 1000000
             |    // greatest(tot.n_total, 1) AS doc_ppm,
             |  coalesce(lk.naive_leaky_pairs, 0) AS naive_leaky_pairs,
             |  aud.mx = 1 AS leakage_free
             |FROM asg CROSS JOIN tot CROSS JOIN lk CROSS JOIN aud
             |GROUP BY asg.split, tot.n_total, lk.naive_leaky_pairs, aud.mx
             |ORDER BY asg.split""")),

    // q287: CURATION FUNNEL — the composed END-TO-END pipeline view over
    // the rewrite stages, per source: docs in → exact dedup (char-poly
    // digest + length key, keep global-min doc_id) → q283's span rewrite
    // (block dedup at token-hash level; docs aren't dropped, tokens are)
    // → a length gate on the CLEANED token count (30-500) → multiset
    // near-dup (commutative (Σh, Σh² mod P, count) key over cleaned token
    // hashes — order-independent, so no sort and no set materialization
    // anywhere) — emitting the funnel counts a datasheet quotes: n_in,
    // n_exact, n_rewritten, toks_removed, n_quality, n_final, final_ppm.
    // Every stage keys on integers derived from ONE tokenization pass;
    // stage order matters (quality gates the CLEANED count — boilerplate
    // removal can demote a doc below the floor, which is the point).
    // Plan: one corpus scan → exact-key exchange → block-hash exchange +
    // join-back → multiset-key exchange → per-source rollup; checkpoints
    // at each multi-consumer frame. At 100 TB every exchange carries
    // 8-24-byte integer keys, never text.
    Entry(
      "q287_curation_funnel",
      (s, d) => curationFunnel(
        T.documents(s, d).select(col("doc_id"), col("source"), col("text"))),
      Some(sql"""WITH d AS (SELECT doc_id, source, text FROM documents),
             |k AS MATERIALIZED (SELECT doc_id, source, text,
             |    ${charPoly("text")} AS dg,
             |    CAST(length(text) AS BIGINT) AS len
             |  FROM d),
             |fe AS (SELECT dg, len, min(doc_id) AS mn FROM k GROUP BY 1, 2),
             |ex AS (SELECT k.doc_id, k.source, k.text
             |  FROM k JOIN fe USING (dg, len) WHERE k.doc_id = fe.mn),
             |base AS MATERIALIZED (SELECT doc_id, source, th,
             |    CAST(len(th) AS BIGINT) AS n,
             |    CAST(len(th) // 8 AS BIGINT) AS nblk
             |  FROM (SELECT doc_id, source,
             |      list_transform(string_split(text, ' '), w ->
             |        ${charPoly("w")}) AS th FROM ex)),
             |blk0 AS (SELECT doc_id, unnest(range(1, nblk + 1)) AS bi,
             |    unnest(list_transform(range(1, nblk + 1), i ->
             |      ${polyFold("th[(i - 1) * 8 + 1 : i * 8]")})) AS bh
             |  FROM base),
             |blk AS MATERIALIZED (SELECT doc_id, CAST(bi AS BIGINT) AS bi,
             |    bh, doc_id * 16777216 + bi AS packed FROM blk0),
             |fs AS (SELECT bh, min(packed) AS fk FROM blk GROUP BY 1),
             |kb AS (SELECT doc_id, list_sort(list(bi)) AS kbis
             |  FROM blk JOIN fs USING (bh) WHERE packed = fk GROUP BY doc_id),
             |cl AS (SELECT b.doc_id, b.source, b.n,
             |    flatten(list_transform(coalesce(kb.kbis, CAST([] AS BIGINT[])),
             |      i -> b.th[(i - 1) * 8 + 1 : i * 8]))
             |      || b.th[b.nblk * 8 + 1 : b.n] AS thk
             |  FROM base b LEFT JOIN kb USING (doc_id)),
             |sc AS MATERIALIZED (SELECT doc_id, source, n,
             |    CAST(len(thk) AS BIGINT) AS tc,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT), thk),
             |      (a, h) -> (a + h) % $P) AS s1,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT), thk),
             |      (a, h) -> (a + h * h % $P) % $P) AS s2
             |  FROM cl),
             |fm AS (SELECT s1, s2, tc, min(doc_id) AS mm FROM sc
             |  WHERE tc BETWEEN 30 AND 500 GROUP BY 1, 2, 3),
             |r AS (SELECT sc.source,
             |    CAST(count(*) AS BIGINT) AS n_exact,
             |    CAST(sum(sc.n - sc.tc) AS BIGINT) AS toks_removed,
             |    CAST(sum(CASE WHEN sc.tc < sc.n THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_rewritten,
             |    CAST(sum(CASE WHEN sc.tc BETWEEN 30 AND 500 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_quality,
             |    CAST(sum(CASE WHEN sc.doc_id = fm.mm THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_final
             |  FROM sc LEFT JOIN fm
             |    ON fm.s1 = sc.s1 AND fm.s2 = sc.s2 AND fm.tc = sc.tc
             |  GROUP BY 1),
             |ni AS (SELECT source, CAST(count(*) AS BIGINT) AS n_in
             |  FROM d GROUP BY 1)
             |SELECT ni.source, ni.n_in,
             |  coalesce(r.n_exact, 0) AS n_exact,
             |  coalesce(r.n_rewritten, 0) AS n_rewritten,
             |  coalesce(r.toks_removed, 0) AS toks_removed,
             |  coalesce(r.n_quality, 0) AS n_quality,
             |  coalesce(r.n_final, 0) AS n_final,
             |  coalesce(r.n_final, 0) * 1000000 // greatest(ni.n_in, 1)
             |    AS final_ppm
             |FROM ni LEFT JOIN r USING (source) ORDER BY ni.source"""))
  )

  /** q287's body over any (doc_id, source, text) table — the staged
    * funnel documented on the entry; exposed for the suite's stage-by-
    * stage JVM replay.
    */
  private[graft] def curationFunnel(docs: DataFrame): DataFrame = {
    val nIn = docs.groupBy(col("source")).agg(count(lit(1)).as("n_in"))
    // stage 1 — exact dedup on (char-poly digest, length)
    val keyed = docs
      .withColumn("dg", expr("char_poly(text)"))
      .withColumn("len", length(col("text")).cast("long"))
    val firstsE = keyed.groupBy(col("dg"), col("len"))
      .agg(min(col("doc_id")).as("mn"))
    val exact = keyed.join(firstsE, Seq("dg", "len"))
      .filter(col("doc_id") === col("mn"))
      .select(col("doc_id"), col("source"), col("text"))
    // stage 2 — q283's block-span dedup at token-hash level
    val base = exact
      .withColumn("th", expr(ThExpr))
      .withColumn("n", size(col("th")).cast("long"))
      .withColumn("nblk", expr("n div 8"))
      .withColumn("bharr", expr(BhArrExpr))
      .select(col("doc_id"), col("source"), col("th"), col("n"),
        col("nblk"), col("bharr"))
      .localCheckpoint() // consumers: block path + cleaned rebuild
    val blk = base
      .select(col("doc_id"), posexplode(col("bharr")).as(Seq("p", "bh")))
      .select(col("doc_id"), (col("p") + 1L).as("bi"), col("bh"),
        (col("doc_id") * 16777216L + col("p") + 1L).as("packed"))
      .localCheckpoint() // consumers: first-occurrence table + join-back
    val firstsS = blk.groupBy(col("bh")).agg(min(col("packed")).as("fk"))
    val keptBis = blk.join(firstsS, Seq("bh"))
      .filter(col("packed") === col("fk"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("bi"))).as("kbis"))
    // stages 3+4 — cleaned token list, quality gate, multiset dedup key
    val scored = base.join(keptBis, Seq("doc_id"), "left")
      .withColumn("kbis", coalesce(col("kbis"), typedlit(Seq.empty[Long])))
      .withColumn("thk", expr(
        "concat(flatten(transform(kbis, i -> " +
          "slice(th, cast((i - 1) * 8 + 1 as int), 8))), " +
          "slice(th, cast(nblk * 8 + 1 as int), cast(n % 8 as int)))"))
      .withColumn("tc", size(col("thk")).cast("long"))
      .withColumn("quality", col("tc") >= 30L && col("tc") <= 500L)
      .withColumn("s1", expr(s"aggregate(thk, 0L, (a, h) -> (a + h) % $P)"))
      .withColumn("s2",
        expr(s"aggregate(thk, 0L, (a, h) -> (a + h * h % $P) % $P)"))
      .select(col("doc_id"), col("source"), col("n"), col("tc"),
        col("quality"), col("s1"), col("s2"))
      .localCheckpoint() // consumers: multiset firsts + rollup
    val firstsM = scored.filter(col("quality"))
      .groupBy(col("s1"), col("s2"), col("tc"))
      .agg(min(col("doc_id")).as("mm"))
    val rollup = scored.join(firstsM, Seq("s1", "s2", "tc"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_exact"),
        sum(when(col("tc") < col("n"), 1L).otherwise(0L)).as("n_rewritten"),
        sum(col("n") - col("tc")).as("toks_removed"),
        sum(when(col("quality"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("doc_id") === col("mm"), 1L).otherwise(0L)).as("n_final"))
    nIn.join(rollup, Seq("source"), "left")
      .select(col("source"), col("n_in"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_rewritten"), lit(0L)).as("n_rewritten"),
        coalesce(col("toks_removed"), lit(0L)).as("toks_removed"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        expr("coalesce(n_final, 0L) * 1000000L div greatest(n_in, 1L)")
          .as("final_ppm"))
      .orderBy(col("source"))
  }

  /** q283's body over any (doc_id, source, text) table — exposed so the
    * suite can prove idempotence end-to-end: stats over
    * [[spanDedupRewrite]]'s output must report dup_spans = 0 everywhere.
    */
  private[graft] def spanDedupStats(docs: DataFrame): DataFrame = {
    val base = spanBlocks(docs)
      .localCheckpoint() // consumers: per-source doc stats + block path
    val docstats = base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n")).as("toks_before"),
      sum(col("tailterm")).as("tail_digest"))
    val blk = base
      .select(col("doc_id"), col("source"),
        posexplode(col("bharr")).as(Seq("p", "bh")))
      .select(col("source"), col("bh"),
        (col("p") + 1L).as("bi"),
        (col("doc_id") * 16777216L + col("p") + 1L).as("packed"))
      .localCheckpoint() // consumers: first-occurrence table + join-back
    val firsts = blk.groupBy(col("bh"))
      .agg(min(col("packed")).as("first_key"))
    val blkstats = blk.join(firsts, Seq("bh"))
      .withColumn("keep", col("packed") === col("first_key"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("dup_spans"),
        sum(when(col("keep"), expr(s"bh * bi % $P")).otherwise(0L))
          .as("kept_digest"))
    docstats.join(blkstats, Seq("source"), "left")
      .select(
        col("source"), col("n_docs"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        col("toks_before"),
        (coalesce(col("dup_spans"), lit(0L)) * 8L).as("toks_removed"),
        expr("coalesce(dup_spans, 0L) * 8L * 1000000L " +
          "div greatest(toks_before, 1L)").as("removed_ppm"),
        (coalesce(col("kept_digest"), lit(0L)) + col("tail_digest"))
          .as("span_digest"))
      .orderBy(col("source"))
  }

  /** Per-doc 8-token block decomposition under the q283 span rule — token
    * char-polynomial hashes (the q216 pipeline) folded per block. Output:
    * (doc_id, source, n, nblk, tailterm, bharr); docs shorter than 8
    * tokens produce an empty block array and only a tail term.
    */
  /** Shared q283/q287 expression strings: per-token char-poly hashes and
    * the per-block fold over them (expects columns `text`/`th`/`n`).
    */
  // r21: native kernel forms of the per-token char-poly hashes and the
  // per-block folds — identical arithmetic to the former interpreted HOF
  // chains (PolyKernels scaladoc documents the exact equivalences; the
  // DuckDB oracles still spell the HOF math and keep adjudicating values)
  private val ThExpr = "token_polys(text)"
  private val BhArrExpr = "poly_blocks(th, 8)"

  private[graft] def spanBlocks(docs: DataFrame): DataFrame = {
    val tailterm = s"if(n % 8 > 0, aggregate(" +
      "slice(th, cast(n div 8 * 8 + 1 as int), cast(n % 8 as int)), " +
      s"0L, (a, c) -> (a * 131 + c) % $P) * (n div 8 + 1) % $P, 0L)"
    docs
      .withColumn("th", expr(ThExpr))
      .withColumn("n", size(col("th")).cast("long"))
      .withColumn("nblk", expr("n div 8"))
      .withColumn("tailterm", expr(tailterm))
      .withColumn("bharr", expr(BhArrExpr))
      .select(col("doc_id"), col("source"), col("n"), col("nblk"),
        col("tailterm"), col("bharr"))
  }

  /** The q283 rewrite itself — returns the CLEANED corpus (doc_id, source,
    * text) with every non-first occurrence of an 8-token block dropped.
    * Exposed for the suite's idempotence pin (a second pass removes
    * nothing) and as the user-facing transform; block TEXT rides the
    * doc-keyed exchanges here, which is inherent to emitting a rewrite
    * (the registered stats query ships only hashes).
    */
  private[graft] def spanDedupRewrite(docs: DataFrame): DataFrame = {
    val blocksWithText = docs
      .withColumn("t", split(col("text"), " "))
      .withColumn("th", expr("transform(t, w -> " +
        "aggregate(filter(split(w, ''), ch -> ch != ''), " +
        s"0L, (a, c) -> (a * 131 + ascii(c)) % $P))"))
      .withColumn("n", size(col("t")).cast("long"))
      .withColumn("nblk", expr("n div 8"))
      .withColumn("tailtxt",
        expr("concat_ws(' ', slice(t, cast(n div 8 * 8 + 1 as int), " +
          "cast(n % 8 as int)))"))
      .withColumn("barr", expr(
        "if(n div 8 >= 1, transform(sequence(1L, n div 8), i -> struct(" +
          "aggregate(slice(th, cast((i - 1) * 8 + 1 as int), 8), " +
          s"0L, (a, c) -> (a * 131 + c) % $P) AS bh, " +
          "concat_ws(' ', slice(t, cast((i - 1) * 8 + 1 as int), 8)) AS btxt" +
          ")), array())"))
      .select(col("doc_id"), col("source"), col("tailtxt"),
        posexplode_outer(col("barr")).as(Seq("p", "b")))
      .select(col("doc_id"), col("source"), col("tailtxt"),
        (col("p") + 1L).as("bi"), col("b.bh").as("bh"),
        col("b.btxt").as("btxt"),
        (col("doc_id") * 16777216L + col("p") + 1L).as("packed"))
      .localCheckpoint() // consumers: first-occurrence table + join-back
    val firsts = blocksWithText.filter(col("bh").isNotNull)
      .groupBy(col("bh")).agg(min(col("packed")).as("first_key"))
    blocksWithText
      .join(firsts, Seq("bh"), "left")
      .filter(col("bh").isNull || col("packed") === col("first_key"))
      .groupBy(col("doc_id"), col("source"), col("tailtxt"))
      .agg(sort_array(collect_list(struct(col("bi"), col("btxt"))))
        .as("kept"))
      .select(col("doc_id"), col("source"),
        trim(concat_ws(" ",
          array_join(expr("transform(kept, k -> k.btxt)"), " "),
          col("tailtxt"))).as("text"))
  }

  /** Multi-byte codepoints appended per doc_id residue for q297 — é (2
    * UTF-8 bytes), λ (2), € (3) — so every doc drives at least one
    * multi-byte sequence through the byte-level pipeline and the in-row
    * round-trip proof covers the non-ASCII case, not just the fixture's
    * lowercase prose. Shared verbatim by the Spark plan and the oracle.
    */
  private[graft] val MbChars = Seq("é", "λ", "€")

  /** Byte-serialized corpus for q297: h = UPPERCASE hex of the doc's UTF-8
    * bytes (both engines hex uppercase), s = the q81 double-space
    * serialization over 2-hex-char BYTE symbols — the 256-symbol base
    * alphabet of a byte-level tokenizer. Symbols contain no spaces, so the
    * q81 replace-is-greedy-BPE proof carries over unchanged.
    */
  /** Byte serialization over ANY (doc_id, source, text) frame — shared by
    * the batch q297 and its q304 streaming deployment.
    */
  private[graft] def byteSerialize(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        hex(encode(
          concat(col("text"), lit(" "),
            element_at(array(MbChars.map(lit): _*),
              (col("doc_id") % 3).cast("int") + 1)),
          "UTF-8")).as("h"))
      // r22: native ds_from_hex — identical to
      // concat(" ", concat_ws("  ", regexp_extract_all(h, "..", 0)), " "):
      // the per-2-chars regex scan was the serialization's dominant cost
      .withColumn("s", call_function("ds_from_hex", col("h")))

  private def byteDocs(s: SparkSession, d: String): DataFrame =
    byteSerialize(T.documents(s, d)
      .select(col("doc_id"), col("source"), col("text")))

  /** The ordered (x, y) merge struct array as ONE row, from a (round, x, y)
    * merge-list frame.
    */
  private[graft] def mergeArray(ml: DataFrame): DataFrame =
    ml.agg(expr(
      "transform(array_sort(collect_list(struct(round, x, y))), " +
        "m -> struct(m.x AS x, m.y AS y))").as("marr"))

  /** Fold-apply the 1-row merge array and roll up per source — shared by
    * the batch q297 and the q304 streaming deployment (every output is a
    * commutative sum, so Complete mode over a bounded stream is exact; the
    * merge array enters as a broadcast stream-static equi-join on a
    * constant key, the streaming-legal spelling of the batch crossJoin).
    * No sort here: batch callers append orderBy, the stream sorts its
    * memory table after drain.
    */
  private[graft] def byteEncodeRollup(
      serialized: DataFrame, marr: DataFrame): DataFrame =
    serialized
      .withColumn("j", lit(1))
      .join(broadcast(marr.withColumn("j", lit(1))), Seq("j"))
      // r22: native kernels (see bpeFoldEncode/bpeRollup) — same values
      .withColumn("s", call_function("bpe_apply_merges", col("s"), col("marr")))
      .withColumn("ntk", call_function("ds_token_count", col("s")))
      .withColumn("rt",
        when(replace(col("s"), lit(" "), lit("")) === col("h"), 0L)
          .otherwise(1L))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(expr("length(h) div 2")).as("bytes_total"),
        sum(col("ntk")).as("toks_after"),
        sum(col("rt")).as("roundtrip_fails"))
      .withColumn("compression_ppm",
        expr("toks_after * 1000000L div greatest(bytes_total, 1L)"))
      .select(col("source"), col("n_docs"), col("bytes_total"),
        col("toks_after"), col("compression_ppm"), col("roundtrip_fails"))

  /** q297 oracle: the byte serialization, the 4 learn rounds unrolled as
    * CTEs (q83's machinery over the byte alphabet), and the per-source
    * rollup including the round-trip proof column.
    */
  private[graft] val ByteBpeOracle: String = {
    def enc(r: Int): String = {
      val prev = if (r == 1) "s0" else s"m${r - 1}"
      s"""p$r AS (SELECT unnest(list_transform(range(2, len(toks)+1),
         |    i -> toks[i-1] || ' ' || toks[i])) AS pair
         |  FROM (SELECT list_filter(string_split(trim(s, ' '), '  '), t -> t <> '') AS toks
         |        FROM $prev)),
         |t$r AS (SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y
         |  FROM (SELECT pair, count(*) AS cnt FROM p$r GROUP BY pair
         |        ORDER BY cnt DESC, pair LIMIT 1)),
         |m$r AS MATERIALIZED (SELECT source, h,
         |    replace(s, ' '||x||'  '||y||' ', ' '||x||y||' ') AS s
         |  FROM $prev CROSS JOIN t$r)""".stripMargin
    }
    val mb = MbChars.map(c => s"'$c'").mkString(", ")
    s"""WITH hx AS MATERIALIZED (SELECT source,
       |    hex(text || ' ' || ([$mb])[1 + CAST(doc_id % 3 AS INT)]) AS h
       |  FROM documents),
       |s0 AS MATERIALIZED (SELECT source, h,
       |    ' ' || array_to_string(regexp_extract_all(h, '..'), '  ') || ' ' AS s
       |  FROM hx),
       |${(1 to 4).map(enc).mkString(",\n")},
       |r AS (SELECT source, count(*) AS n_docs,
       |    sum(length(h) // 2) AS bytes_total,
       |    sum(len(list_filter(string_split(trim(s, ' '), '  '), t -> t <> '')))
       |      AS toks_after,
       |    sum(CASE WHEN replace(s, ' ', '') = h THEN 0 ELSE 1 END)
       |      AS roundtrip_fails
       |  FROM m4 GROUP BY source)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(bytes_total AS BIGINT) AS bytes_total,
       |  CAST(toks_after AS BIGINT) AS toks_after,
       |  CAST(toks_after * 1000000 // greatest(bytes_total, 1) AS BIGINT)
       |    AS compression_ppm,
       |  CAST(roundtrip_fails AS BIGINT) AS roundtrip_fails
       |FROM r ORDER BY source""".stripMargin
  }

  /** Round-17 batch (JVM method-size discipline, the entries2 precedent). */
  val entries3: Seq[Entry] = Seq(

    // q297: BYTE-LEVEL BPE ENCODE — the production-tokenizer gap the word
    // family (q81/q83/q282/q288/q289) leaves open: GPT-2-lineage tokenizers
    // operate on UTF-8 BYTES with a 256-symbol base alphabet, so NO input
    // is out-of-vocabulary by construction — multi-byte codepoints are just
    // byte sequences that merges may or may not join. Here the corpus
    // (with per-doc fabricated multi-byte suffixes — é/λ/€ by doc_id
    // residue, the q215/q284 in-query fabrication pattern) serializes as
    // 2-hex-char byte symbols, LEARNS 4 merges with exactly q83's loop
    // (TextOps.bpeLearn — shared machinery, different alphabet), and
    // APPLIES them in the q288 constant-plan fold form (one broadcast merge
    // array, one corpus scan). Fallback-freedom is PROVEN in-row:
    // roundtrip_fails counts docs where stripping the serialization spaces
    // does not reproduce the original byte-hex exactly — 0 means every
    // doc, multi-byte suffix included, decodes back to its input bytes
    // (merges only concatenate symbols, never alter them). Scale: learn =
    // 4 bounded (pair, count) exchanges (map-side partial; pair domain ≤
    // vocab²); apply = ONE linear scan + per-source rollup; at 32k merges
    // the SAME plan applies (the fold is constant-size in merge count).
    Entry(
      "q297_byte_bpe_encode",
      (s, d) => {
        // r22: the learn loop checkpoints every round unconditionally (see
        // bpeLearn) — the r21 finding that per-round checkpointing did not
        // help here predated the native ds_pairs/ds_token_count/ds_from_hex
        // kernels, which removed the interpreted HOF cost that masked the
        // replace-chain recomputation (q297: 8.9 → 2.0 s at sf0.1)
        val ml = TextOps.bpeLearn(
          byteDocs(s, d).select(col("s")), rounds = 4)
          .select(col("round"), col("x"), col("y"))
          .localCheckpoint() // learn ONCE; the apply scan below never re-learns
        byteEncodeRollup(byteDocs(s, d), mergeArray(ml))
          .orderBy(col("source"))
      },
      Some(ByteBpeOracle)),

    // q299: CROSS-CORPUS INDEX PORTABILITY (r16 verdict #8) — every other
    // index lifecycle (q108/q131/q290) builds and serves within ONE fixture
    // generation; the operational story at 100 TB is the opposite: the
    // artifact outlives the corpus that built it and serves every LATER
    // corpus build (decontamination against a frozen benchmark snapshot is
    // the canonical instance). Here the exact-key + span-hash index is
    // built ONCE from the sf0.001 fixture GENERATION (a different driver
    // generation of the same schema — the standard testdata tree,
    // TESTDATA.md; fails loudly when absent), published
    // through the atomic generation manifest, and the CURRENT corpus `d`
    // is classified against the artifact: per source, exact-dup docs
    // (digest+length) and docs sharing any 8-token block with the old
    // corpus. The serve plan reads ONLY artifact + current corpus
    // (suite-pinned: exactly the two artifact scans after the corpus
    // checkpoint; the build ran once behind the manifest guard) — the
    // manifest/generation protocol demonstrably survives the corpus swap.
    // At the suite's sf0.001 the build corpus IS the serve corpus and the
    // output hits its fixed point: every doc an exact dup of itself.
    // The oracle replays both sides; its old-corpus path is the TESTDATA.md
    // layout, matching siblingBuildCorpus by construction.
    Entry(
      "q299_cross_corpus_decon",
      (s, d) => {
        val old = siblingBuildCorpus(d)
        val root = graft.sources.Sources.scratch(d, "cross_corpus_index")
        val cur = Artifacts.ensure(s, root, "gen-build") {
          val docs0 = T.documents(s, old)
            .select(col("doc_id"), col("source"), col("text"))
            .localCheckpoint() // consumers: exact keys + span blocks
          Seq(
            "exact" -> docs0
              .select(expr(DocDigestExpr).as("dg"),
                length(col("text")).cast("long").as("len"))
              .distinct(),
            "spans" -> spanBlocks(docs0)
              .select(explode(col("bharr")).as("bh")).distinct())
        }
        val exactIdx = s.read.parquet(s"$cur/exact").withColumn("xhit", lit(1L))
        val spanIdx = s.read.parquet(s"$cur/spans").withColumn("shit", lit(1L))
        // ONE char-HOF pass computes digest, length AND block hashes; the
        // checkpoint then feeds both the exact join and the span explode
        // (r17 profile: the two-pass form paid the corpus HOFs twice)
        val keyed = T.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"))
          .withColumn("dg", expr(DocDigestExpr))
          .withColumn("len", length(col("text")).cast("long"))
          .withColumn("th", expr(ThExpr))
          .withColumn("n", size(col("th")).cast("long"))
          .withColumn("bharr", expr(BhArrExpr))
          .select(col("doc_id"), col("source"), col("dg"), col("len"),
            col("bharr"))
          .localCheckpoint() // consumers: exact-key join + span explode
        val hits = keyed
          .select(col("doc_id"), explode(col("bharr")).as("bh"))
          .join(spanIdx, Seq("bh"), "left")
          .groupBy(col("doc_id"))
          .agg(max(coalesce(col("shit"), lit(0L))).as("span_hit"))
        keyed
          .select(col("doc_id"), col("source"), col("dg"), col("len"))
          .join(exactIdx, Seq("dg", "len"), "left")
          .join(hits, Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(coalesce(col("xhit"), lit(0L))).as("n_exact_dup"),
            sum(coalesce(col("span_hit"), lit(0L))).as("n_span_hit"))
          .withColumn("span_hit_ppm",
            expr("n_span_hit * 1000000L div greatest(n_docs, 1L)"))
          .orderBy(col("source"))
      },
      Some(sql"""WITH old AS MATERIALIZED (SELECT doc_id, text
             |    FROM '/root/testdata/sf0.001/documents.parquet'),
             |oldk AS (SELECT DISTINCT
             |    ${charPoly("text")} AS dg,
             |    CAST(length(text) AS BIGINT) AS len
             |  FROM old),
             |oldth AS (SELECT list_transform(string_split(text, ' '), w ->
             |    ${charPoly("w")}) AS th
             |  FROM old),
             |olds AS MATERIALIZED (SELECT DISTINCT
             |    unnest(list_transform(range(1, len(th) // 8 + 1), i ->
             |      ${polyFold("th[(i - 1) * 8 + 1 : i * 8]")})) AS bh
             |  FROM oldth),
             |newk AS MATERIALIZED (SELECT doc_id, source,
             |    ${charPoly("text")} AS dg,
             |    CAST(length(text) AS BIGINT) AS len,
             |    list_transform(string_split(text, ' '), w ->
             |      ${charPoly("w")}) AS th
             |  FROM documents),
             |nblk AS (SELECT doc_id,
             |    unnest(list_transform(range(1, len(th) // 8 + 1), i ->
             |      ${polyFold("th[(i - 1) * 8 + 1 : i * 8]")})) AS bh
             |  FROM newk),
             |hits AS (SELECT b.doc_id,
             |    max(CASE WHEN o.bh IS NOT NULL THEN 1 ELSE 0 END) AS span_hit
             |  FROM nblk b LEFT JOIN olds o ON o.bh = b.bh GROUP BY 1)
             |SELECT k.source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN ok.dg IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_exact_dup,
             |  CAST(sum(coalesce(h.span_hit, 0)) AS BIGINT) AS n_span_hit,
             |  CAST(sum(coalesce(h.span_hit, 0)) * 1000000
             |    // greatest(count(*), 1) AS BIGINT) AS span_hit_ppm
             |FROM newk k
             |LEFT JOIN oldk ok ON ok.dg = k.dg AND ok.len = k.len
             |LEFT JOIN hits h ON h.doc_id = k.doc_id
             |GROUP BY k.source ORDER BY k.source"""))
  )

  /** The build-corpus dir for q299/q302/q305: the sf0.001 fixture
    * generation under the standard testdata tree (a sibling of the serve
    * dir). Throws when the sibling is absent — see body comment.
    */
  private[graft] def siblingBuildCorpus(d: String): String = {
    val cand = new java.io.File(new java.io.File(d).getParentFile, "sf0.001")
    // The q299/q302/q305 oracles read the build corpus by absolute path
    // (/root/testdata/sf0.001/...): a silent fallback to the serve dir would
    // make the Spark side quietly degrade to its fixed point while the
    // oracle adjudicates against a different corpus — fail loudly instead.
    require(cand.isDirectory,
      s"cross-generation build corpus missing: ${cand.getPath} " +
        s"(expected as a sibling of the serve dir $d)")
    cand.getPath
  }

  /** Whole-doc char-polynomial digest (the q291 exact-key idiom) — native
    * kernel form (r21), identical value to the former HOF fold.
    */
  private val DocDigestExpr = "char_poly(text)"
}
