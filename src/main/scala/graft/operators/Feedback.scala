package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Entry
import graft.queries.OracleSql._
import graft.{Tables => T}

/** Human-feedback data operators — the measurement layer a preference /
  * RLHF data pipeline runs over rater output before it trains on it:
  * inter-rater agreement (Cohen's κ, q306) and pairwise-preference
  * strength fitting (Bradley–Terry via the Hunter-2004 MM iteration,
  * q307). Both follow the house planted-recovery discipline
  * (StatTests.scala:306 q253 idiom): ratings/outcomes are fabricated from
  * seeded md5 lanes so the same corpus + seed yields the same tables on
  * any engine or partitioning, the planted signal is SF-invariant
  * (κ's accuracy parameter and the 2^i strength ladder are scale-free),
  * and every statistic is exact integer ppm arithmetic — the oracle
  * replays the identical integer recurrences.
  *
  * Scale posture: q306 is one corpus scan into a per-source partial-agged
  * count exchange (9 sums). q307 collapses the game log through ONE
  * (i, j) pair-count exchange (28 rows for 8 items — value-domain
  * bounded); the MM rounds run over the collapsed tables only, so at
  * 100 TB the iterations cost nothing and only the single pair-count
  * shuffle scales with data.
  *
  * Reference scope (JasperWoo/MapReduceCore): the reference ships no
  * statistics verbs — these are the rater-ops its users would run as
  * map/reduce jobs over judgment shards, made first-class (same posture
  * as StatTests.scala:23-27).
  */
object Feedback {

  /** floor(0.8 · 2^32): per-rater accuracy of the planted labels. */
  private val AccThresh = 3435973836L

  /** Planted per-doc rater labels (la, lb) from seeded md5 lanes — shared
    * by q306 (batch) and the q311 streaming sibling; stateless, so it is
    * streaming-legal as a pre-aggregation projection.
    */
  private[graft] def kappaLabels(docs: DataFrame): DataFrame =
    docs
      .withColumn("h",
        expr("md5(concat('rate:v1:', CAST(doc_id AS STRING)))"))
      .select(col("source"),
        expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)").as("u0"),
        expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)").as("ua"),
        expr("CAST(conv(substring(h, 17, 8), 16, 10) AS BIGINT)").as("ub"))
      .select(col("source"),
        expr(s"IF(ua < ${AccThresh}L, u0 % 3, (u0 % 3 + 1 + ua % 2) % 3)")
          .as("la"),
        expr(s"IF(ub < ${AccThresh}L, u0 % 3, (u0 % 3 + 1 + ub % 2) % 3)")
          .as("lb"))

  /** The ONE aggregation (count + agree + both raters' class marginals) —
    * a single commutative stateful agg in streaming terms.
    */
  private[graft] def kappaRollup(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(expr("CAST(la = lb AS BIGINT)")).as("n_agree"),
        sum(expr("CAST(la = 0 AS BIGINT)")).as("a0"),
        sum(expr("CAST(la = 1 AS BIGINT)")).as("a1"),
        sum(expr("CAST(la = 2 AS BIGINT)")).as("a2"),
        sum(expr("CAST(lb = 0 AS BIGINT)")).as("b0"),
        sum(expr("CAST(lb = 1 AS BIGINT)")).as("b1"),
        sum(expr("CAST(lb = 2 AS BIGINT)")).as("b2"))

  /** Stateless κ arithmetic over the rollup counters (runs batch-side in
    * the streaming sibling, after the memory sink).
    */
  private[graft] def kappaProject(agg: DataFrame): DataFrame =
    agg
      .select(col("source"), col("n_docs"), col("n_agree"),
        expr("CAST(n_agree AS DECIMAL(38,0)) * 1000000 " +
          "div greatest(n_docs, 1L)").as("po_ppm"),
        expr("(CAST(a0 AS DECIMAL(38,0)) * b0 + CAST(a1 AS DECIMAL(38,0)) * b1 " +
          "+ CAST(a2 AS DECIMAL(38,0)) * b2) * 1000000 " +
          "div greatest(CAST(n_docs AS DECIMAL(38,0)) * n_docs, 1L)")
          .as("pe_ppm"))
      .withColumn("kappa_ppm",
        expr("(po_ppm - pe_ppm) * 1000000L " +
          "div greatest(1000000L - pe_ppm, 1L)"))
      .withColumn("strength", expr(
        "CASE WHEN kappa_ppm < 0L THEN 'poor' " +
          "WHEN kappa_ppm < 200000L THEN 'slight' " +
          "WHEN kappa_ppm < 400000L THEN 'fair' " +
          "WHEN kappa_ppm < 600000L THEN 'moderate' " +
          "WHEN kappa_ppm < 800000L THEN 'substantial' " +
          "ELSE 'almost_perfect' END"))
      .orderBy(col("source"))

  /** Planted Bradley–Terry games from seeded md5 lanes (stateless):
    * uniform item a, uniform opponent b ≠ a, winner by the exact integer
    * threshold u·(s_a+s_b) < 2^32·s_a over the 2^i strength ladder.
    * Shared by q307 (batch) and the q313 streaming sibling.
    */
  private[graft] def btGames(events: DataFrame): DataFrame =
    events
      .withColumn("h",
        expr("md5(concat('bt:v1:', CAST(event_id AS STRING)))"))
      .select(
        expr("CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT)").as("u0"),
        expr("CAST(conv(substring(h, 9, 8), 16, 10) AS BIGINT)").as("u1"),
        expr("CAST(conv(substring(h, 17, 8), 16, 10) AS BIGINT)").as("u2"))
      .select(expr("u0 % 8").as("a"),
        expr("IF(u1 % 7 >= u0 % 8, u1 % 7 + 1, u1 % 7)").as("b"),
        col("u2"))
      .select(col("a"), col("b"),
        expr("CAST(u2 * (shiftleft(1L, CAST(a AS INT)) " +
          "+ shiftleft(1L, CAST(b AS INT))) " +
          "< 4294967296L * shiftleft(1L, CAST(a AS INT)) AS BIGINT)")
          .as("wa"))

  /** The ONE (i, j) pair-count exchange — a single commutative stateful
    * aggregation in streaming terms (28 state rows).
    */
  private[graft] def btPairs(games: DataFrame): DataFrame =
    games
      .groupBy(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"))
      .agg(count(lit(1)).as("n_ij"),
        sum(expr("IF(a < b, wa, 1L - wa)")).as("w_ij"))

  /** 3 quantized Hunter-MM rounds + rank recovery over a collapsed pair
    * table (runs batch-side in the streaming sibling, after the memory
    * sink — everything here touches ≤56-row frames).
    */
  private[graft] def btRank(s: SparkSession, pr0: DataFrame): DataFrame = {
    val pr = pr0.localCheckpoint() // consumers: directed edges + win totals
    val dir = pr.select(col("i").as("item"), col("j").as("opp"), col("n_ij"))
      .unionByName(
        pr.select(col("j").as("item"), col("i").as("opp"), col("n_ij")))
    val wins = pr.select(col("i").as("item"), col("w_ij").as("w"))
      .unionByName(
        pr.select(col("j").as("item"), (col("n_ij") - col("w_ij")).as("w")))
      .groupBy(col("item")).agg(sum(col("w")).as("wins"))
    val games = dir.groupBy(col("item")).agg(sum(col("n_ij")).as("games"))
    val th0 = s.range(8)
      .select(col("id").as("item"), lit(1000000L).as("th"))
    def mm(th: DataFrame): DataFrame = {
      val den = dir
        .join(th.select(col("item").as("opp"), col("th").as("tho")),
          Seq("opp"))
        .join(th, Seq("item"))
        .groupBy(col("item"))
        .agg(sum(expr("CAST(n_ij AS DECIMAL(38,0)) * 1000000000000 " +
          "div (th + tho)")).as("den"))
      val thp = wins.join(den, Seq("item"))
        .select(col("item"),
          expr("CAST(wins AS DECIMAL(38,0)) * 1000000000000 " +
            "div greatest(den, 1L)").as("thp"))
      thp.crossJoin(thp.agg(sum(col("thp")).as("tot")))
        .select(col("item"),
          expr("CAST(thp AS DECIMAL(38,0)) * 8000000 " +
            "div greatest(tot, 1L)").as("th"))
        .localCheckpoint() // consumed twice by the next round's joins
    }
    val th3 = mm(mm(mm(th0)))
    val wRank = Window.orderBy(col("theta_ppm").desc, col("item"))
    th3.select(col("item"), col("th").as("theta_ppm"))
      .join(wins, Seq("item")).join(games, Seq("item"))
      .withColumn("strength_true",
        expr("shiftleft(1L, CAST(item AS INT))"))
      // 8-row frame: the unpartitioned rank window is value-domain
      // bounded by the item ladder, never by corpus size
      .withColumn("rank_hat", row_number().over(wRank).cast("long"))
      .withColumn("rank_true", lit(8L) - col("item"))
      .withColumn("recovered", col("rank_hat") === col("rank_true"))
      .select(col("item"), col("strength_true"), col("games"),
        col("wins"), col("theta_ppm"), col("rank_true"), col("rank_hat"),
        col("recovered"))
      .orderBy(col("item"))
  }

  /** q306's oracle — shared VERBATIM by the q311 streaming sibling (the
    * q304/q294 batch/stream parity discipline: one oracle string is
    * itself the equivalence proof).
    */
  private[graft] val KappaOracle: String =
    sql"""WITH r AS (SELECT source,
             |    ${md5Lane("'rate:v1:' || doc_id::VARCHAR", keyBr = Br(2))} AS u0,
             |    ${md5Lane("'rate:v1:' || doc_id::VARCHAR", 9, keyBr = Br(2))} AS ua,
             |    ${md5Lane("'rate:v1:' || doc_id::VARCHAR", 17, keyBr = Br(2))} AS ub
             |  FROM documents),
             |l AS (SELECT source,
             |    CASE WHEN ua < $AccThresh THEN u0 % 3
             |      ELSE (u0 % 3 + 1 + ua % 2) % 3 END AS la,
             |    CASE WHEN ub < $AccThresh THEN u0 % 3
             |      ELSE (u0 % 3 + 1 + ub % 2) % 3 END AS lb
             |  FROM r),
             |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_agree,
             |    CAST(sum(CASE WHEN la = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
             |    CAST(sum(CASE WHEN la = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             |    CAST(sum(CASE WHEN la = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
             |    CAST(sum(CASE WHEN lb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             |    CAST(sum(CASE WHEN lb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             |    CAST(sum(CASE WHEN lb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2
             |  FROM l GROUP BY 1),
             |k AS (SELECT source, n_docs, n_agree,
             |    CAST(n_agree * 1000000 // greatest(n_docs, 1) AS BIGINT)
             |      AS po_ppm,
             |    CAST((a0 * b0 + a1 * b1 + a2 * b2) * 1000000
             |      // greatest(n_docs * n_docs, 1) AS BIGINT) AS pe_ppm
             |  FROM g)
             |SELECT source, n_docs, n_agree, po_ppm, pe_ppm,
             |  CAST((po_ppm - pe_ppm) * 1000000
             |    // greatest(1000000 - pe_ppm, 1) AS BIGINT) AS kappa_ppm,
             |  CASE WHEN (po_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 0 THEN 'poor'
             |    WHEN (po_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 200000 THEN 'slight'
             |    WHEN (po_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 400000 THEN 'fair'
             |    WHEN (po_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 600000 THEN 'moderate'
             |    WHEN (po_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 800000 THEN 'substantial'
             |    ELSE 'almost_perfect' END AS strength
             |FROM k ORDER BY source"""

  /** q307's oracle — shared VERBATIM by the q313 streaming sibling
    * (the q304/q294 batch/stream parity discipline).
    */
  private[graft] val BtOracle: String =
    sql"""WITH g AS (SELECT
             |    ${md5Lane("'bt:v1:' || event_id::VARCHAR", keyBr = Br(2))} AS u0,
             |    ${md5Lane("'bt:v1:' || event_id::VARCHAR", 9, keyBr = Br(2))} AS u1,
             |    ${md5Lane("'bt:v1:' || event_id::VARCHAR", 17, keyBr = Br(2))} AS u2
             |  FROM events),
             |ab AS (SELECT u0 % 8 AS a,
             |    CASE WHEN u1 % 7 >= u0 % 8 THEN u1 % 7 + 1
             |      ELSE u1 % 7 END AS b, u2
             |  FROM g),
             |gm AS (SELECT a, b,
             |    CASE WHEN u2 * ((1::BIGINT << a) + (1::BIGINT << b))
             |      < 4294967296 * (1::BIGINT << a) THEN 1 ELSE 0 END AS wa
             |  FROM ab),
             |pr AS MATERIALIZED (SELECT least(a, b) AS i, greatest(a, b) AS j,
             |    CAST(count(*) AS BIGINT) AS n_ij,
             |    CAST(sum(CASE WHEN a < b THEN wa ELSE 1 - wa END) AS BIGINT)
             |      AS w_ij
             |  FROM gm GROUP BY 1, 2),
             |dir AS MATERIALIZED (SELECT i AS item, j AS opp, n_ij FROM pr
             |  UNION ALL SELECT j, i, n_ij FROM pr),
             |wn AS MATERIALIZED (SELECT item, CAST(sum(w) AS BIGINT) AS wins
             |  FROM (SELECT i AS item, w_ij AS w FROM pr
             |    UNION ALL SELECT j, n_ij - w_ij FROM pr) GROUP BY 1),
             |gc AS (SELECT item, CAST(sum(n_ij) AS BIGINT) AS games
             |  FROM dir GROUP BY 1),
             |t0 AS (SELECT unnest(range(0, 8)) AS item,
             |  CAST(1000000 AS BIGINT) AS th),
             |d1 AS (SELECT d.item, CAST(sum(d.n_ij * 1000000000000
             |      // (ti.th + tj.th)) AS BIGINT) AS den
             |  FROM dir d JOIN t0 ti ON ti.item = d.item
             |  JOIN t0 tj ON tj.item = d.opp GROUP BY 1),
             |p1 AS (SELECT w.item, CAST(w.wins * 1000000000000
             |    // greatest(d1.den, 1) AS BIGINT) AS thp
             |  FROM wn w JOIN d1 ON d1.item = w.item),
             |t1 AS MATERIALIZED (SELECT item, CAST(thp * 8000000
             |    // greatest(tot, 1) AS BIGINT) AS th
             |  FROM p1, (SELECT CAST(sum(thp) AS BIGINT) AS tot FROM p1) s1),
             |d2 AS (SELECT d.item, CAST(sum(d.n_ij * 1000000000000
             |      // (ti.th + tj.th)) AS BIGINT) AS den
             |  FROM dir d JOIN t1 ti ON ti.item = d.item
             |  JOIN t1 tj ON tj.item = d.opp GROUP BY 1),
             |p2 AS (SELECT w.item, CAST(w.wins * 1000000000000
             |    // greatest(d2.den, 1) AS BIGINT) AS thp
             |  FROM wn w JOIN d2 ON d2.item = w.item),
             |t2 AS MATERIALIZED (SELECT item, CAST(thp * 8000000
             |    // greatest(tot, 1) AS BIGINT) AS th
             |  FROM p2, (SELECT CAST(sum(thp) AS BIGINT) AS tot FROM p2) s2),
             |d3 AS (SELECT d.item, CAST(sum(d.n_ij * 1000000000000
             |      // (ti.th + tj.th)) AS BIGINT) AS den
             |  FROM dir d JOIN t2 ti ON ti.item = d.item
             |  JOIN t2 tj ON tj.item = d.opp GROUP BY 1),
             |p3 AS (SELECT w.item, CAST(w.wins * 1000000000000
             |    // greatest(d3.den, 1) AS BIGINT) AS thp
             |  FROM wn w JOIN d3 ON d3.item = w.item),
             |t3 AS MATERIALIZED (SELECT item, CAST(thp * 8000000
             |    // greatest(tot, 1) AS BIGINT) AS th
             |  FROM p3, (SELECT CAST(sum(thp) AS BIGINT) AS tot FROM p3) s3),
             |rk AS (SELECT t3.item, t3.th AS theta_ppm, wn.wins, gc.games,
             |    (1::BIGINT << t3.item) AS strength_true,
             |    CAST(row_number() OVER (ORDER BY t3.th DESC, t3.item)
             |      AS BIGINT) AS rank_hat,
             |    8 - t3.item AS rank_true
             |  FROM t3 JOIN wn ON wn.item = t3.item
             |  JOIN gc ON gc.item = t3.item)
             |SELECT item, strength_true, games, wins, theta_ppm, rank_true,
             |  rank_hat, rank_hat = rank_true AS recovered
             |FROM rk ORDER BY item"""

  val entries: Seq[Entry] = Seq(

    // q306: INTER-RATER AGREEMENT (Cohen's κ) — the acceptance gate on a
    // labeling campaign: per source, two planted raters label each doc
    // into 3 classes (true class + 20% symmetric noise, all md5-lane
    // derived); κ = (p_o − p_e)/(1 − p_e) in exact ppm from one 9-sum
    // aggregation (agree count + both raters' per-class marginals), with
    // the Landis–Koch strength band as the interpretive column. The
    // planted κ ≈ 0.49 ("moderate") is accuracy-derived, hence identical
    // at every SF. Products are decimal-widened before `div` (the q305
    // lesson): n² and marginal cross-products exceed int64 at large
    // per-source counts.
    Entry(
      "q306_rater_agreement",
      (s, d) => kappaProject(kappaRollup(kappaLabels(
        T.documents(s, d).select(col("source"), col("doc_id"))))),
      Some(KappaOracle)),

    // q307: BRADLEY–TERRY PREFERENCE STRENGTHS (planted recovery) — fit
    // pairwise-preference strengths with 3 quantized Hunter-MM rounds and
    // recover the planted ranking. Planted model: 8 items with strengths
    // 2^i (geometric — adjacent win rates differ by ≥8 points, so rank
    // recovery is robust at every SF, per the SF-invariance rule); each
    // event becomes one game via md5 lanes (uniform item a, uniform
    // opponent b ≠ a, winner by exact integer threshold
    // u·(s_a+s_b) < 2^32·s_a). EM-style float coupling is quantized each
    // round (θ in ppm; denominators as integer 1e12-scaled sums) so the
    // 3-round recurrence is bit-exact cross-engine. The game log
    // collapses through ONE (i,j) exchange; MM runs on 28-row tables.
    Entry(
      "q307_bradley_terry",
      (s, d) => btRank(s, btPairs(btGames(
        T.events(s, d).select(col("event_id"))))),
      Some(BtOracle)),

    // q317: FLEISS' KAPPA (multi-rater agreement) — the n-rater member of
    // the family (Cohen's 2-rater q306): FIVE planted raters per doc
    // (true class + 20% symmetric noise each, lanes from two seeded md5
    // digests), agreement measured as Fleiss' per-item pairwise
    // concordance P-bar vs the marginal chance P_e, all in exact ppm.
    // Per-doc category counts are stateless arithmetic; the corpus
    // collapses through ONE per-source 5-sum exchange (Σ n_ic(n_ic−1) +
    // the three class totals + count). Planted κ ≈ 0.49 is
    // accuracy-derived, hence identical at every SF.
    Entry(
      "q317_fleiss_kappa",
      (s, d) => {
        val lbl = T.documents(s, d)
          .select(col("source"), col("doc_id"))
          .withColumn("h1",
            expr("md5(concat('rate:v1:', CAST(doc_id AS STRING)))"))
          .withColumn("h2",
            expr("md5(concat('rate:v2:', CAST(doc_id AS STRING)))"))
          .select(col("source"),
            expr("CAST(conv(substring(h1, 1, 8), 16, 10) AS BIGINT)").as("u0"),
            expr("CAST(conv(substring(h1, 9, 8), 16, 10) AS BIGINT)").as("u1"),
            expr("CAST(conv(substring(h1, 17, 8), 16, 10) AS BIGINT)").as("u2"),
            expr("CAST(conv(substring(h1, 25, 8), 16, 10) AS BIGINT)").as("u3"),
            expr("CAST(conv(substring(h2, 1, 8), 16, 10) AS BIGINT)").as("u4"),
            expr("CAST(conv(substring(h2, 9, 8), 16, 10) AS BIGINT)").as("u5"))
        val withL = (1 to 5).foldLeft(lbl) { (df, k) =>
          df.withColumn(s"l$k",
            expr(s"IF(u$k < ${AccThresh}L, u0 % 3, " +
              s"(u0 % 3 + 1 + u$k % 2) % 3)"))
        }
        val perDoc = withL
          .withColumn("n0", expr("CAST(l1 = 0 AS BIGINT) + CAST(l2 = 0 AS " +
            "BIGINT) + CAST(l3 = 0 AS BIGINT) + CAST(l4 = 0 AS BIGINT) + " +
            "CAST(l5 = 0 AS BIGINT)"))
          .withColumn("n1", expr("CAST(l1 = 1 AS BIGINT) + CAST(l2 = 1 AS " +
            "BIGINT) + CAST(l3 = 1 AS BIGINT) + CAST(l4 = 1 AS BIGINT) + " +
            "CAST(l5 = 1 AS BIGINT)"))
          .withColumn("n2", lit(5L) - col("n0") - col("n1"))
          .select(col("source"), col("n0"), col("n1"), col("n2"),
            expr("n0 * (n0 - 1L) + n1 * (n1 - 1L) + n2 * (n2 - 1L)")
              .as("pa"))
        perDoc
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("pa")).as("spa"),
            sum(col("n0")).as("t0"), sum(col("n1")).as("t1"),
            sum(col("n2")).as("t2"))
          .select(col("source"), col("n_docs"),
            expr("CAST(spa AS DECIMAL(38,0)) * 1000000 " +
              "div greatest(n_docs * 20L, 1L)").as("pbar_ppm"),
            expr("(CAST(t0 AS DECIMAL(38,0)) * t0 " +
              "+ CAST(t1 AS DECIMAL(38,0)) * t1 " +
              "+ CAST(t2 AS DECIMAL(38,0)) * t2) * 1000000 " +
              "div greatest(CAST(n_docs AS DECIMAL(38,0)) * n_docs * 25, 1L)")
              .as("pe_ppm"))
          .withColumn("kappa_ppm",
            expr("(pbar_ppm - pe_ppm) * 1000000L " +
              "div greatest(1000000L - pe_ppm, 1L)"))
          .withColumn("strength", expr(
            "CASE WHEN kappa_ppm < 0L THEN 'poor' " +
              "WHEN kappa_ppm < 200000L THEN 'slight' " +
              "WHEN kappa_ppm < 400000L THEN 'fair' " +
              "WHEN kappa_ppm < 600000L THEN 'moderate' " +
              "WHEN kappa_ppm < 800000L THEN 'substantial' " +
              "ELSE 'almost_perfect' END"))
          .orderBy(col("source"))
      },
      Some(sql"""WITH r AS (SELECT source,
             |    ${md5Lane("'rate:v1:' || doc_id::VARCHAR", keyBr = Br(2))} AS u0,
             |    ${md5Lane("'rate:v1:' || doc_id::VARCHAR", 9, keyBr = Br(2))} AS u1,
             |    ${md5Lane("'rate:v1:' || doc_id::VARCHAR", 17, keyBr = Br(2))} AS u2,
             |    ${md5Lane("'rate:v1:' || doc_id::VARCHAR", 25, keyBr = Br(2))} AS u3,
             |    ${md5Lane("'rate:v2:' || doc_id::VARCHAR", keyBr = Br(2))} AS u4,
             |    ${md5Lane("'rate:v2:' || doc_id::VARCHAR", 9, keyBr = Br(2))} AS u5
             |  FROM documents),
             |l AS (SELECT source,
             |    CASE WHEN u1 < $AccThresh THEN u0 % 3
             |      ELSE (u0 % 3 + 1 + u1 % 2) % 3 END AS l1,
             |    CASE WHEN u2 < $AccThresh THEN u0 % 3
             |      ELSE (u0 % 3 + 1 + u2 % 2) % 3 END AS l2,
             |    CASE WHEN u3 < $AccThresh THEN u0 % 3
             |      ELSE (u0 % 3 + 1 + u3 % 2) % 3 END AS l3,
             |    CASE WHEN u4 < $AccThresh THEN u0 % 3
             |      ELSE (u0 % 3 + 1 + u4 % 2) % 3 END AS l4,
             |    CASE WHEN u5 < $AccThresh THEN u0 % 3
             |      ELSE (u0 % 3 + 1 + u5 % 2) % 3 END AS l5
             |  FROM r),
             |c AS (SELECT source,
             |    CAST((l1 = 0)::INT + (l2 = 0)::INT + (l3 = 0)::INT
             |      + (l4 = 0)::INT + (l5 = 0)::INT AS BIGINT) AS n0,
             |    CAST((l1 = 1)::INT + (l2 = 1)::INT + (l3 = 1)::INT
             |      + (l4 = 1)::INT + (l5 = 1)::INT AS BIGINT) AS n1
             |  FROM l),
             |pa AS (SELECT source, n0, n1, 5 - n0 - n1 AS n2,
             |    n0 * (n0 - 1) + n1 * (n1 - 1)
             |      + (5 - n0 - n1) * (4 - n0 - n1) AS pa
             |  FROM c),
             |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(pa) AS BIGINT) AS spa,
             |    CAST(sum(n0) AS BIGINT) AS t0,
             |    CAST(sum(n1) AS BIGINT) AS t1,
             |    CAST(sum(n2) AS BIGINT) AS t2
             |  FROM pa GROUP BY 1),
             |k AS (SELECT source, n_docs,
             |    CAST(spa * 1000000 // greatest(n_docs * 20, 1) AS BIGINT)
             |      AS pbar_ppm,
             |    CAST((t0 * t0 + t1 * t1 + t2 * t2) * 1000000
             |      // greatest(n_docs * n_docs * 25, 1) AS BIGINT) AS pe_ppm
             |  FROM g)
             |SELECT source, n_docs, pbar_ppm, pe_ppm,
             |  CAST((pbar_ppm - pe_ppm) * 1000000
             |    // greatest(1000000 - pe_ppm, 1) AS BIGINT) AS kappa_ppm,
             |  CASE WHEN (pbar_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 0 THEN 'poor'
             |    WHEN (pbar_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 200000 THEN 'slight'
             |    WHEN (pbar_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 400000 THEN 'fair'
             |    WHEN (pbar_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 600000 THEN 'moderate'
             |    WHEN (pbar_ppm - pe_ppm) * 1000000
             |      // greatest(1000000 - pe_ppm, 1) < 800000 THEN 'substantial'
             |    ELSE 'almost_perfect' END AS strength
             |FROM k ORDER BY source"""))
  )
}
