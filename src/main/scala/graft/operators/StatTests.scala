package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Entry
import graft.queries.OracleSql._
import graft.{Tables => T}

/** Nonparametric two-sample drift tests — the statistically-grounded tier
  * of the drift-monitor family (q151 KL, q224 TVD, q227 QQ): the same
  * "did this slice stop looking like the corpus" question, answered with a
  * DISTRIBUTION-FREE test statistic and a significance threshold instead
  * of an unanchored distance. Both operators follow the q224 count-table
  * discipline: the corpus collapses through ONE (group, value) aggregation
  * exchange; every window runs over VALUE-DOMAIN-bounded partitions (the
  * distinct-value axis — fixed by the value domain, independent of corpus
  * row count); all test statistics are exact int64 cross-multiplication
  * arithmetic, so the cross-engine comparison is bit-exact. The only IEEE
  * ops are the final critical-value / z-score scalars, computed from exact
  * longs with identically-parenthesized expressions in both engines.
  *
  * Reference scope (JasperWoo/MapReduceCore): the reference ships no
  * statistics verbs — these are the acceptance checks its users run over
  * engine OUTPUT shards before promoting a corpus build; made first-class
  * here (same posture as the Integrity family, Integrity.scala:16-19).
  */
object StatTests {

  /** q231's oracle — a val so the q301 all-strings canonical variant wraps
    * it verbatim (one source of truth for the semantics).
    */
  private[graft] val Q231Oracle: String =
    """WITH sb AS (SELECT source, n_chars AS v,
      |    CAST(count(*) AS BIGINT) AS n_i
      |  FROM documents GROUP BY 1, 2),
      |marg AS (SELECT v, CAST(sum(n_i) AS BIGINT) AS m_i
      |  FROM sb GROUP BY 1),
      |tot AS (SELECT source, CAST(sum(n_i) AS BIGINT) AS n1
      |  FROM sb GROUP BY 1),
      |bign AS (SELECT CAST(sum(n_i) AS BIGINT) AS nn FROM sb),
      |cells AS (SELECT t.source, t.n1, b.nn, m.v, m.m_i,
      |    CAST(coalesce(sb.n_i, 0) AS BIGINT) AS n_i
      |  FROM tot t CROSS JOIN marg m CROSS JOIN bign b
      |  LEFT JOIN sb ON sb.source = t.source AND sb.v = m.v),
      |cum AS MATERIALIZED (SELECT source, n1, nn, v,
      |    abs(sum(n_i) OVER w * (nn - n1)
      |      - (sum(m_i) OVER w - sum(n_i) OVER w) * n1) AS dnum
      |  FROM cells WINDOW w AS (PARTITION BY source ORDER BY v
      |    ROWS UNBOUNDED PRECEDING)),
      |mx AS (SELECT source, n1, nn, max(dnum) AS mx
      |  FROM cum GROUP BY 1, 2, 3),
      |sel AS (SELECT mx.source, mx.n1 AS n_src,
      |    CAST(mx.mx * 1000000 // (mx.n1 * (mx.nn - mx.n1)) AS BIGINT)
      |      AS d_ppm,
      |    CAST(min(cum.v) AS BIGINT) AS ks_at,
      |    7376656000000 * mx.nn // (mx.n1 * (mx.nn - mx.n1)) AS xr
      |  FROM mx JOIN cum ON cum.source = mx.source AND cum.dnum = mx.mx
      |  GROUP BY 1, 2, 3, 5),
      |seed AS (SELECT *, CAST(floor(sqrt(CAST(xr AS DOUBLE)))
      |    AS BIGINT) AS c0 FROM sel),
      |crit AS (SELECT source, n_src, d_ppm, ks_at,
      |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      range(greatest(c0 - 3, 0), c0 + 4)),
      |      (a, t) -> CASE WHEN t * t <= xr THEN t ELSE a END) + 1) // 2
      |      AS crit_ppm
      |  FROM seed)
      |SELECT source, n_src, d_ppm, ks_at, crit_ppm,
      |  d_ppm > crit_ppm AS drifted
      |FROM crit ORDER BY source""".stripMargin

  val entries: Seq[Entry] = Seq(

    // q231: KOLMOGOROV-SMIRNOV DRIFT AUDIT — for every source, the KS
    // statistic D = sup_v |F_src(v) − F_rest(v)| between the source's
    // doc-length distribution and the REST of the corpus (complement, not
    // the marginal — comparing a slice against a mixture containing
    // itself dilutes exactly the drift being measured), plus the location
    // ks_at where the gap peaks (the actionable part: WHERE the
    // distributions diverge) and the α=0.05 two-sample critical value
    // c(α)·sqrt(N/(n1·n2)), c(0.05)=1.358 (Smirnov's asymptotic form) —
    // so the output is a DECISION per source, scale-aware: the same D
    // that damns a 10⁶-doc source is noise for a 10²-doc one (the flaw of
    // raw-distance rankings like q224's, which this operator complements).
    // Integer-exact: with cum1 = n_src-docs ≤ v and cum2 = rest-docs ≤ v,
    // D·n1·n2 = max_v |cum1·n2 − cum2·n1| — pure int64 (≤ N² ≈ 2.5·10⁷ at
    // sf0.1; Decimal(38) past ~3·10⁹ docs), d_ppm by integer div. Plan:
    // ONE corpus-sized stage (the (source, n_chars) count exchange,
    // map-side partial); the marginal/totals are rollups OF that table;
    // cells = |sources|×|distinct lengths| (value-domain bounded) with
    // per-source windows over the value axis; the argmax location is a
    // max-then-match over the checkpointed cells table, never a sort.
    // r17: the driver-only hash split had the same root cause as q214 —
    // d_ppm in the oracle descends from a window sum() (HUGEINT), so the
    // oracle column was int128 vs our int64. CAST AS BIGINT fixes it; see
    // Integrity.scala q214 note and the type-kind gate in tools/check.py.
    Entry(
      "q231_ks_drift",
      (s, d) => {
        val sb = T.documents(s, d)
          .select(col("source"), col("n_chars").as("v"))
          .groupBy(col("source"), col("v"))
          .agg(count(lit(1)).as("n_i"))
          .localCheckpoint() // consumers: marginal, totals, grand total, cells
        val marg = sb.groupBy(col("v")).agg(sum(col("n_i")).as("m_i"))
        val totals = sb.groupBy(col("source")).agg(sum(col("n_i")).as("n1"))
        val bigN = sb.agg(sum(col("n_i")).as("nn"))
        val w = Window.partitionBy(col("source")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cells = totals.crossJoin(broadcast(marg))
          .join(sb, Seq("source", "v"), "left")
          .withColumn("n_i", coalesce(col("n_i"), lit(0L)))
          .crossJoin(broadcast(bigN))
          .withColumn("cum1", sum(col("n_i")).over(w))
          .withColumn("cumt", sum(col("m_i")).over(w))
          .withColumn("dnum",
            abs(col("cum1") * (col("nn") - col("n1")) -
              (col("cumt") - col("cum1")) * col("n1")))
          .localCheckpoint() // consumers: per-source max + argmax location
        val mx = cells.groupBy(col("source"), col("n1"), col("nn"))
          .agg(max(col("dnum")).as("mx"))
        // crit_ppm = round(1358000·sqrt(nn/(n1·(nn−n1)))) computed INTEGER-
        // EXACT: round(sqrt(A/B)) = (isqrt((4A) div B) + 1) div 2 (exact for
        // positive rationals because floor(sqrt(floor(y))) = floor(sqrt(y))),
        // 4A = 4·1358000²·nn = 7376656000000·nn, B = n1·(nn−n1). isqrt seeds
        // from the double sqrt and corrects over a ±3 candidate window, so a
        // 1-ulp libm or cast-rounding divergence (Spark cast truncates,
        // DuckDB rounds) is structurally impossible — the r15 q231
        // driver-vs-judge hash split implicated exactly this one double.
        mx.join(cells.select(col("source"), col("v"), col("dnum")), Seq("source"))
          .filter(col("dnum") === col("mx"))
          .groupBy(col("source"), col("n1"), col("nn"), col("mx"))
          .agg(min(col("v")).as("ks_at"))
          .select(col("source"), col("n1").as("n_src"),
            expr("mx * 1000000L div (n1 * (nn - n1))").as("d_ppm"),
            col("ks_at"),
            expr("7376656000000L * nn div (n1 * (nn - n1))").as("xr"))
          .withColumn("c0",
            expr("CAST(floor(sqrt(CAST(xr AS DOUBLE))) AS BIGINT)"))
          .withColumn("crit_ppm", expr(
            "(aggregate(sequence(greatest(c0 - 3L, 0L), c0 + 3L), 0L, " +
              "(a, t) -> if(t * t <= xr, t, a)) + 1L) div 2"))
          .drop("xr", "c0")
          .withColumn("drifted", col("d_ppm") > col("crit_ppm"))
          .orderBy(col("source"))
      },
      Some(Q231Oracle)),

    // q232: PAIRWISE MANN-WHITNEY U DRIFT MATRIX — rank-sum comparison of
    // the event `value` distribution between every pair of event types:
    // "does type A systematically pay/score higher than type B", the
    // median-shift question KS's sup-gap doesn't answer. Rank-free
    // formulation (the part that scales): U never touches per-row ranks —
    // over the (type, value) COUNT table, 2·U₁ = Σ_v c1(v)·(2·cum2(<v) +
    // c2(v)), counting wins twice and ties once, exact int64 (≤ 2·n1·n2 ≈
    // 8·10⁸ at sf0.1). A per-row rank assignment would be a corpus-sized
    // global sort; this is a value-axis window over bounded partitions.
    // Tie correction Σ(t³−t) the same way. The normal-approximation
    // z = (U₁ − n1n2/2)/σ_tie is the one IEEE computation, from exact
    // longs, identically parenthesized in both engines, rounded 6dp.
    // Plan: ONE (type, cents) count exchange (map-side partial; the value
    // domain is fixed at any corpus size, so the count table is bounded);
    // the 10-pair × value-grid cells table takes two broadcast-sized
    // joins; windows partition per pair. Nothing corpus-sized moves after
    // the first exchange.
    Entry(
      "q232_mwu_matrix",
      (s, d) => {
        val ct = T.events(s, d)
          .select(col("event_type").as("g"),
            round(col("value") * 100).cast("long").as("v"))
          .groupBy(col("g"), col("v"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // consumers: type list, value grid, two cell joins
        val types = ct.select(col("g")).distinct()
        val pairs = types.select(col("g").as("ga"))
          .crossJoin(types.select(col("g").as("gb")))
          .filter(col("ga") < col("gb"))
        val vals = ct.select(col("v")).distinct()
        val cells = vals.crossJoin(broadcast(pairs))
          .join(ct.select(col("g").as("ga"), col("v"), col("c").as("c1")),
            Seq("ga", "v"), "left")
          .join(ct.select(col("g").as("gb"), col("v"), col("c").as("c2")),
            Seq("gb", "v"), "left")
          .select(col("ga"), col("gb"), col("v"),
            coalesce(col("c1"), lit(0L)).as("c1"),
            coalesce(col("c2"), lit(0L)).as("c2"))
        val wp = Window.partitionBy(col("ga"), col("gb")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val sc = cells
          .withColumn("cum2prev", coalesce(sum(col("c2")).over(wp), lit(0L)))
        val t = col("c1") + col("c2")
        sc.groupBy(col("ga"), col("gb"))
          .agg(
            sum(col("c1")).as("n1"),
            sum(col("c2")).as("n2"),
            sum(col("c1") * (col("cum2prev") * 2 + col("c2"))).as("u2"),
            sum(t * t * t - t).as("t3t"))
          .select(col("ga").as("type_a"), col("gb").as("type_b"),
            col("n1").as("n_a"), col("n2").as("n_b"),
            col("u2"), col("t3t"),
            round(
              (col("u2") - col("n1") * col("n2")).cast("double") /
                (lit(2.0) * sqrt(
                  (col("n1").cast("double") * col("n2").cast("double") / 12.0) *
                    ((col("n1") + col("n2") + 1).cast("double") -
                      col("t3t").cast("double") /
                        ((col("n1") + col("n2")).cast("double") *
                          (col("n1") + col("n2") - 1).cast("double"))))),
              6).as("z"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH e AS (SELECT event_type AS g,
             |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |ct AS MATERIALIZED (SELECT g, v, CAST(count(*) AS BIGINT) AS c
             |  FROM e GROUP BY 1, 2),
             |ty AS (SELECT DISTINCT g FROM ct),
             |pr AS (SELECT a.g AS ga, b.g AS gb
             |  FROM ty a CROSS JOIN ty b WHERE a.g < b.g),
             |vals AS (SELECT DISTINCT v FROM ct),
             |cells AS (SELECT pr.ga, pr.gb, vals.v,
             |    CAST(coalesce(a.c, 0) AS BIGINT) AS c1,
             |    CAST(coalesce(b.c, 0) AS BIGINT) AS c2
             |  FROM pr CROSS JOIN vals
             |  LEFT JOIN ct a ON a.g = pr.ga AND a.v = vals.v
             |  LEFT JOIN ct b ON b.g = pr.gb AND b.v = vals.v),
             |sc AS (SELECT ga, gb, c1, c2,
             |    CAST(coalesce(sum(c2) OVER (PARTITION BY ga, gb ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS cum2prev
             |  FROM cells),
             |ag AS (SELECT ga, gb,
             |    CAST(sum(c1) AS BIGINT) AS n1,
             |    CAST(sum(c2) AS BIGINT) AS n2,
             |    CAST(sum(c1 * (cum2prev * 2 + c2)) AS BIGINT) AS u2,
             |    CAST(sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))
             |      AS BIGINT) AS t3t
             |  FROM sc GROUP BY 1, 2)
             |SELECT ga AS type_a, gb AS type_b, n1 AS n_a, n2 AS n_b, u2, t3t,
             |  round(CAST(u2 - n1 * n2 AS DOUBLE) /
             |    (2.0 * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) *
             |      (CAST(n1 + n2 + 1 AS DOUBLE) -
             |        CAST(t3t AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) *
             |          CAST(n1 + n2 - 1 AS DOUBLE))))), 6) AS z
             |FROM ag ORDER BY type_a, type_b""".stripMargin)),

    // q235: K-ANONYMITY / L-DIVERSITY AUDIT + ONE GENERALIZATION STEP —
    // the privacy gate a corpus must pass before publication: under
    // quasi-identifiers (lang, 200-char length bucket), every equivalence
    // class must hold ≥ k=5 rows (k-anonymity: no row is re-identifiable
    // by its QI combination) and ≥ l=3 distinct values of the sensitive
    // attribute (source — l-diversity: a class whose rows all share one
    // sensitive value leaks it even at size ≥ k). Beside each class the
    // audit emits the SAME check after one generalization-ladder step
    // (bucket → bucket div 2, the standard Samarati/Sweeney coarsening) —
    // the actionable output: does the cheapest generalization already
    // repair the failing classes? Plan: the corpus collapses through ONE
    // (lang, bucket) exchange (map-side partial count + distinct-source
    // expand); the generalized level is a rollup OF the class table
    // (never a second scan); everything downstream is QI-domain-bounded.
    // All-integer compares, exact cross-engine.
    Entry(
      "q235_k_anonymity",
      (s, d) => {
        val cls = T.documents(s, d)
          .select(col("lang"), expr("n_chars div 200").as("bucket"),
            col("source"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("class_size"),
            countDistinct(col("source")).as("n_sens"))
          .localCheckpoint() // consumers: audit rows + generalized rollup
        val gen = cls
          .groupBy(col("lang"), expr("bucket div 2").as("gb"))
          .agg(sum(col("class_size")).as("size_after_gen"))
        cls.withColumn("gb", expr("bucket div 2"))
          .join(broadcast(gen), Seq("lang", "gb"))
          .select(col("lang"), col("bucket"), col("class_size"), col("n_sens"),
            (col("class_size") >= 5).as("k_ok"),
            (col("n_sens") >= 3).as("l_ok"),
            col("size_after_gen"),
            (col("size_after_gen") >= 5).as("k_ok_after"))
          .orderBy(col("lang"), col("bucket"))
      },
      Some("""WITH cls AS MATERIALIZED (SELECT lang, n_chars // 200 AS bucket,
             |    CAST(count(*) AS BIGINT) AS class_size,
             |    CAST(count(DISTINCT source) AS BIGINT) AS n_sens
             |  FROM documents GROUP BY 1, 2),
             |gen AS (SELECT lang, bucket // 2 AS gb,
             |    CAST(sum(class_size) AS BIGINT) AS size_after_gen
             |  FROM cls GROUP BY 1, 2)
             |SELECT cls.lang, cls.bucket, cls.class_size, cls.n_sens,
             |  cls.class_size >= 5 AS k_ok,
             |  cls.n_sens >= 3 AS l_ok,
             |  gen.size_after_gen,
             |  gen.size_after_gen >= 5 AS k_ok_after
             |FROM cls JOIN gen
             |  ON gen.lang = cls.lang AND gen.gb = cls.bucket // 2
             |ORDER BY cls.lang, cls.bucket""".stripMargin)),

    // q253: DETERMINISTIC POISSON BOOTSTRAP CI — a confidence interval for
    // the per-type mean event value WITHOUT resampling-by-index (which
    // needs global row positions — a corpus-sized sort): the Poisson
    // bootstrap (Hanley & MacGibbon 2006; the standard streaming/
    // distributed bootstrap) gives every row an independent Poisson(1)
    // multiplicity per replicate, here DERANDOMIZED: the uniforms are
    // seeded md5 digests of (event_id, group) — the q112/q167 determinism
    // trick, with each 32-hex digest SLICED into four independent 32-bit
    // lanes (replicate g·4+j reads hex chars [1+8j, 8+8j]) so 8 digest
    // calls per row cover all 32 replicates — and the Poisson draw is
    // inverse-CDF via SEVEN HARDCODED
    // integer thresholds (floor(2^32·P(X≤k)), k=0..6; weight = #thresholds
    // ≤ u, i.e. a sum of integer compares; the truncated >7 tail carries
    // 8.3e-5 mass). Same corpus + seed ⇒ the same 32 replicates on any
    // engine or partitioning, so the CI itself is oracle-checkable — no
    // float anywhere (replicate means in exact integer micro-cents). The
    // 32× row amplification is the honest cost of exact replicates, paid
    // BEFORE map-side partial aggregation: the shuffle carries only
    // types×32 partial rows per task, never amplified data. CI = order
    // statistics (2nd/16th/31st of 32) over the per-type replicate-mean
    // table — 32-row window partitions, bounded by construction.
    Entry(
      "q253_poisson_bootstrap",
      (s, d) => {
        // floor(2^32 * P(Pois(1) <= k)), k = 0..6
        val th = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
          4279248373L, 4292415291L, 4294609777L)
        val wExpr = th.map(t => s"CAST(u >= ${t}L AS BIGINT)").mkString(" + ")
        // one md5 = 32 hex chars = FOUR independent 32-bit uniforms: 8
        // digest calls per row cover all 32 replicates (lane j of group g
        // is replicate g*4+j) — 4× less hashing than a digest-per-replicate
        // r22: the four 32-bit lanes of each digest come as one native
        // md5_lanes array (posexplode's pos IS the former j), replacing
        // the hex render + per-lane substring/conv re-parse — identical
        // u values, identical row multiset
        val rep = T.events(s, d)
          .select(col("event_type"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
          .select(col("event_type"), col("cents"), col("event_id"),
            explode(expr("sequence(0, 7)")).as("g"))
          .select(col("event_type"), col("cents"), col("g"),
            posexplode(expr("md5_lanes(concat('boot:v2:', " +
              "CAST(event_id AS STRING), ':', CAST(g AS STRING)), 8, 4, 0)"))
              .as(Seq("j", "u")))
          .select(col("event_type"), col("cents"),
            expr("CAST(g * 4 + j AS BIGINT)").as("b"), col("u"))
          .withColumn("w", expr(wExpr))
          .groupBy(col("event_type"), col("b"))
          .agg(sum(col("w") * col("cents")).as("swc"), sum(col("w")).as("sw"),
            sum(col("cents")).as("sc"), count(lit(1)).as("n"))
          .select(col("event_type"), col("b"),
            // greatest(sw,1) guard: a replicate whose Poisson weights are
            // all zero would NULL in Spark but error in DuckDB '//' —
            // asymmetric failure, so guard like every other division here
            expr("swc * 1000000L div greatest(sw, 1L)").as("m_uc"),
            expr("sc * 1000000L div n").as("point_uc"), col("n"))
        val wRank = Window.partitionBy(col("event_type"))
          .orderBy(col("m_uc"), col("b"))
        rep.withColumn("rn", row_number().over(wRank))
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n"), max(col("point_uc")).as("point_uc"),
            max(when(col("rn") === 16, col("m_uc"))).as("boot_med_uc"),
            max(when(col("rn") === 2, col("m_uc"))).as("lo_uc"),
            max(when(col("rn") === 31, col("m_uc"))).as("hi_uc"))
          .withColumn("ci_width_uc", col("hi_uc") - col("lo_uc"))
          .orderBy(col("event_type"))
      },
      Some {
        val th = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
          4279248373L, 4292415291L, 4294609777L)
        val wExpr = th.map(t => s"CASE WHEN u >= $t THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH e AS (SELECT event_type, event_id,
           |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
           |x AS (SELECT event_type, event_id, cents, g.g, j.j,
           |    g.g * 4 + j.j AS b
           |  FROM e
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS g) g
           |  CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
           |h AS (SELECT event_type, cents, b,
           |    CAST(('0x' || substr(md5('boot:v2:' || event_id::VARCHAR
           |      || ':' || g::VARCHAR), CAST(1 + 8 * j AS INT), 8))
           |      AS BIGINT) AS u
           |  FROM x),
           |w AS (SELECT event_type, b, cents,
           |    CAST($wExpr AS BIGINT) AS w FROM h),
           |r AS (SELECT event_type, b,
           |    CAST(sum(w * cents) AS BIGINT) * 1000000
           |      // greatest(CAST(sum(w) AS BIGINT), 1) AS m_uc,
           |    CAST(sum(cents) AS BIGINT) * 1000000
           |      // CAST(count(*) AS BIGINT) AS point_uc,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM w GROUP BY 1, 2),
           |rk AS (SELECT event_type, m_uc, point_uc, n,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY m_uc, b) AS rn
           |  FROM r)
           |SELECT event_type, max(n) AS n, max(point_uc) AS point_uc,
           |  max(CASE WHEN rn = 16 THEN m_uc END) AS boot_med_uc,
           |  max(CASE WHEN rn = 2 THEN m_uc END) AS lo_uc,
           |  max(CASE WHEN rn = 31 THEN m_uc END) AS hi_uc,
           |  max(CASE WHEN rn = 31 THEN m_uc END)
           |    - max(CASE WHEN rn = 2 THEN m_uc END) AS ci_width_uc
           |FROM rk GROUP BY 1 ORDER BY event_type""".stripMargin
      }),

    // q254: POPULATION STABILITY INDEX — the scorecard-monitoring drift
    // metric beside KS (q231, sup-gap) and MWU (q232, median shift): PSI =
    // Σ_bins (q_i − p_i)·ln(q_i/p_i), a symmetrized-KL over a FIXED 10-bin
    // grid, the number risk teams threshold at 0.1/0.25 (Siddiqi's credit-
    // scoring convention). Reference window = the series' first 15 days,
    // current = the rest; equal-width bins over the global cent range
    // (bin = cents·10 div (max+1) — exact, the 1-row max broadcast). Bins
    // are Laplace-smoothed ((c+1)/(n+10)) so empty cells contribute finite
    // mass instead of ±∞ — and the in-bin shares stay exact rationals:
    // the argmax-shift bin is decided by the INTEGER cross-multiplication
    // |(cc+1)(nr+10) − (cr+1)(nc+10)| (q238 max-then-match, min-bin tie
    // break), so only the final PSI sum is IEEE (each term's expression
    // identically parenthesized cross-engine, rounded 6dp — ln of exact
    // rationals). Plan: one (type, window, bin) count exchange (map-side
    // partial over ≤ 5×2×10 groups); the dense type×bin grid is a
    // broadcast-sized completion join; nothing corpus-sized moves after
    // the first aggregation.
    Entry(
      "q254_psi_drift",
      (s, d) => {
        val ev = T.events(s, d)
          .select(col("event_type"),
            expr("ts div 1000 div 86400000000").as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val bounds = ev.agg(min(col("day")).as("d0"),
          max(col("cents")).as("mc"))
        val binned = ev.crossJoin(broadcast(bounds))
          .select(col("event_type"),
            (col("day") < col("d0") + 15).as("is_ref"),
            expr("cents * 10 div (mc + 1)").as("bin"))
          .groupBy(col("event_type"), col("is_ref"), col("bin"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // consumers: type dim + dense-grid completion
        val grid = binned.select(col("event_type")).distinct()
          .crossJoin(s.sql("SELECT explode(sequence(0L, 9L)) AS bin"))
        val cells = grid
          .join(binned.filter(col("is_ref")).select(col("event_type"),
            col("bin"), col("c").as("cr")), Seq("event_type", "bin"), "left")
          .join(binned.filter(!col("is_ref")).select(col("event_type"),
            col("bin"), col("c").as("cc")), Seq("event_type", "bin"), "left")
          .select(col("event_type"), col("bin"),
            coalesce(col("cr"), lit(0L)).as("cr"),
            coalesce(col("cc"), lit(0L)).as("cc"))
        val wt = Window.partitionBy(col("event_type"))
        val terms = cells
          .withColumn("nr", sum(col("cr")).over(wt))
          .withColumn("nc", sum(col("cc")).over(wt))
          .withColumn("shift_num",
            abs((col("cc") + 1) * (col("nr") + 10) -
              (col("cr") + 1) * (col("nc") + 10)))
          .withColumn("term",
            (((col("cc") + 1).cast("double") / (col("nc") + 10).cast("double")) -
              ((col("cr") + 1).cast("double") / (col("nr") + 10).cast("double"))) *
              log(((col("cc") + 1).cast("double") * (col("nr") + 10).cast("double")) /
                ((col("cr") + 1).cast("double") * (col("nc") + 10).cast("double"))))
        val agg = terms.groupBy(col("event_type"))
          .agg(max(col("nr")).as("n_ref"), max(col("nc")).as("n_cur"),
            round(sum(col("term")), 6).as("psi"),
            max(col("shift_num")).as("mx"))
        agg.join(terms.select(col("event_type"), col("bin"),
            col("shift_num")), Seq("event_type"))
          .filter(col("shift_num") === col("mx"))
          .groupBy(col("event_type"), col("n_ref"), col("n_cur"), col("psi"))
          .agg(min(col("bin")).as("max_shift_bin"))
          .withColumn("drifted", col("psi") > 0.1)
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
             |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
             |b AS (SELECT min(day) AS d0, max(cents) AS mc FROM e),
             |bn AS MATERIALIZED (SELECT event_type,
             |    e.day < b.d0 + 15 AS is_ref,
             |    cents * 10 // (mc + 1) AS bin,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM e CROSS JOIN b GROUP BY 1, 2, 3),
             |grid AS (SELECT ty.event_type, g.bin
             |  FROM (SELECT DISTINCT event_type FROM bn) ty
             |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) g),
             |cells AS (SELECT grid.event_type, grid.bin,
             |    CAST(coalesce(r.c, 0) AS BIGINT) AS cr,
             |    CAST(coalesce(cu.c, 0) AS BIGINT) AS cc
             |  FROM grid
             |  LEFT JOIN bn r ON r.event_type = grid.event_type
             |    AND r.bin = grid.bin AND r.is_ref
             |  LEFT JOIN bn cu ON cu.event_type = grid.event_type
             |    AND cu.bin = grid.bin AND NOT cu.is_ref),
             |t AS MATERIALIZED (SELECT event_type, bin, cr, cc,
             |    CAST(sum(cr) OVER (PARTITION BY event_type) AS BIGINT) AS nr,
             |    CAST(sum(cc) OVER (PARTITION BY event_type) AS BIGINT) AS nc
             |  FROM cells),
             |t2 AS (SELECT event_type, bin, nr, nc,
             |    abs((cc + 1) * (nr + 10) - (cr + 1) * (nc + 10)) AS shift_num,
             |    ((CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
             |      - (CAST(cr + 1 AS DOUBLE) / CAST(nr + 10 AS DOUBLE)))
             |      * ln((CAST(cc + 1 AS DOUBLE) * CAST(nr + 10 AS DOUBLE))
             |        / (CAST(cr + 1 AS DOUBLE) * CAST(nc + 10 AS DOUBLE)))
             |      AS term
             |  FROM t),
             |ag AS (SELECT event_type, max(nr) AS n_ref, max(nc) AS n_cur,
             |    round(sum(term), 6) AS psi, max(shift_num) AS mx
             |  FROM t2 GROUP BY 1)
             |SELECT ag.event_type, ag.n_ref, ag.n_cur, ag.psi,
             |  CAST(min(t2.bin) AS BIGINT) AS max_shift_bin,
             |  ag.psi > 0.1 AS drifted
             |FROM ag JOIN t2 ON t2.event_type = ag.event_type
             |  AND t2.shift_num = ag.mx
             |GROUP BY 1, 2, 3, 4, 6 ORDER BY ag.event_type""".stripMargin)),

    // q255: BENJAMINI-HOCHBERG FDR CORRECTION over the q232 MWU matrix —
    // the missing multiple-testing step: 10 simultaneous pairwise tests at
    // α=0.05 expect ~0.5 false positives; BH (1995) step-up controls the
    // FALSE DISCOVERY RATE — sort p ascending, k* = max{k: p_(k) ≤ kα/m},
    // reject ranks ≤ k*. The pipeline keeps the determinism ladder
    // airtight: the MWU z is q232's exact-int64 U/tie arithmetic with the
    // identical one-IEEE-expression finale, ROUNDED 6dp FIRST (the
    // bit-identical cross-engine anchor q232's gate already proves), then
    // the two-sided p comes from Abramowitz-Stegun 26.2.17 (|ε|<7.5e-8,
    // same literal polynomial text in both engines) applied to that
    // rounded z, then p is QUANTIZED to integer ppm — so the BH compare
    // p_ppm·m·20 ≤ k·10⁶ (α=1/20) and the (p_ppm, pair) rank are pure
    // integer decisions that can never flip cross-engine. Plan: one
    // (type, cents) count exchange (q232's — value-domain bounded), pair
    // windows per pair; the BH step-up runs over the 10-row pair table
    // (1-row k* aggregate broadcast back).
    Entry(
      "q255_bh_fdr",
      (s, d) => {
        val ct = T.events(s, d)
          .select(col("event_type").as("g"),
            round(col("value") * 100).cast("long").as("v"))
          .groupBy(col("g"), col("v"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // consumers: type list, value grid, two cell joins
        val types = ct.select(col("g")).distinct()
        val pairs = types.select(col("g").as("ga"))
          .crossJoin(types.select(col("g").as("gb")))
          .filter(col("ga") < col("gb"))
        val vals = ct.select(col("v")).distinct()
        val cells = vals.crossJoin(broadcast(pairs))
          .join(ct.select(col("g").as("ga"), col("v"), col("c").as("c1")),
            Seq("ga", "v"), "left")
          .join(ct.select(col("g").as("gb"), col("v"), col("c").as("c2")),
            Seq("gb", "v"), "left")
          .select(col("ga"), col("gb"), col("v"),
            coalesce(col("c1"), lit(0L)).as("c1"),
            coalesce(col("c2"), lit(0L)).as("c2"))
        val wp = Window.partitionBy(col("ga"), col("gb")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val t = col("c1") + col("c2")
        val zed = cells
          .withColumn("cum2prev", coalesce(sum(col("c2")).over(wp), lit(0L)))
          .groupBy(col("ga"), col("gb"))
          .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
            sum(col("c1") * (col("cum2prev") * 2 + col("c2"))).as("u2"),
            sum(t * t * t - t).as("t3t"))
          .withColumn("z", round(
            (col("u2") - col("n1") * col("n2")).cast("double") /
              (lit(2.0) * sqrt(
                (col("n1").cast("double") * col("n2").cast("double") / 12.0) *
                  ((col("n1") + col("n2") + 1).cast("double") -
                    col("t3t").cast("double") /
                      ((col("n1") + col("n2")).cast("double") *
                        (col("n1") + col("n2") - 1).cast("double"))))),
            6))
        // A-S 26.2.17 on |z| (identical literal text in the oracle)
        val p = zed.withColumn("az", abs(col("z")))
          .withColumn("tv", expr("1.0 / (1.0 + 0.2316419 * az)"))
          .withColumn("p_ppm", expr(
            "CAST(round(2.0 * 0.3989422804014327 * exp(-az * az / 2.0) * " +
              "(0.319381530 * tv - 0.356563782 * tv * tv " +
              "+ 1.781477937 * tv * tv * tv " +
              "- 1.821255978 * tv * tv * tv * tv " +
              "+ 1.330274429 * tv * tv * tv * tv * tv) * 1000000.0) " +
              "AS BIGINT)"))
        val wR = Window.orderBy(col("p_ppm"), col("ga"), col("gb"))
        val ranked = p
          .withColumn("rank", row_number().over(wR).cast("long"))
          .withColumn("m", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .withColumn("bh_ok",
            col("p_ppm") * col("m") * 20 <= col("rank") * 1000000L)
        val kStar = ranked.agg(
          coalesce(max(when(col("bh_ok"), col("rank"))), lit(0L)).as("k_star"))
        ranked.crossJoin(broadcast(kStar))
          .select(col("ga").as("type_a"), col("gb").as("type_b"), col("z"),
            col("p_ppm"), col("rank"), col("m"), col("k_star"),
            (col("rank") <= col("k_star")).as("rejected"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH e AS (SELECT event_type AS g,
             |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |ct AS MATERIALIZED (SELECT g, v, CAST(count(*) AS BIGINT) AS c
             |  FROM e GROUP BY 1, 2),
             |ty AS (SELECT DISTINCT g FROM ct),
             |pr AS (SELECT a.g AS ga, b.g AS gb
             |  FROM ty a CROSS JOIN ty b WHERE a.g < b.g),
             |vals AS (SELECT DISTINCT v FROM ct),
             |cells AS (SELECT pr.ga, pr.gb, vals.v,
             |    CAST(coalesce(a.c, 0) AS BIGINT) AS c1,
             |    CAST(coalesce(b.c, 0) AS BIGINT) AS c2
             |  FROM pr CROSS JOIN vals
             |  LEFT JOIN ct a ON a.g = pr.ga AND a.v = vals.v
             |  LEFT JOIN ct b ON b.g = pr.gb AND b.v = vals.v),
             |sc AS (SELECT ga, gb, c1, c2,
             |    CAST(coalesce(sum(c2) OVER (PARTITION BY ga, gb ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS cum2prev
             |  FROM cells),
             |ag AS (SELECT ga, gb,
             |    CAST(sum(c1) AS BIGINT) AS n1,
             |    CAST(sum(c2) AS BIGINT) AS n2,
             |    CAST(sum(c1 * (cum2prev * 2 + c2)) AS BIGINT) AS u2,
             |    CAST(sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))
             |      AS BIGINT) AS t3t
             |  FROM sc GROUP BY 1, 2),
             |zt AS (SELECT ga, gb,
             |    round(CAST(u2 - n1 * n2 AS DOUBLE) /
             |      (2.0 * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
             |        * (CAST(n1 + n2 + 1 AS DOUBLE) -
             |          CAST(t3t AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) *
             |            CAST(n1 + n2 - 1 AS DOUBLE))))), 6) AS z
             |  FROM ag),
             |pt AS (SELECT ga, gb, z,
             |    1.0 / (1.0 + 0.2316419 * abs(z)) AS tv,
             |    abs(z) AS az
             |  FROM zt),
             |pp AS (SELECT ga, gb, z,
             |    CAST(round(2.0 * 0.3989422804014327 * exp(-az * az / 2.0) *
             |      (0.319381530 * tv - 0.356563782 * tv * tv
             |      + 1.781477937 * tv * tv * tv
             |      - 1.821255978 * tv * tv * tv * tv
             |      + 1.330274429 * tv * tv * tv * tv * tv) * 1000000.0)
             |      AS BIGINT) AS p_ppm
             |  FROM pt),
             |rk AS (SELECT ga, gb, z, p_ppm,
             |    CAST(row_number() OVER (ORDER BY p_ppm, ga, gb) AS BIGINT)
             |      AS rank,
             |    CAST(count(*) OVER () AS BIGINT) AS m
             |  FROM pp),
             |ks AS (SELECT CAST(coalesce(max(CASE
             |      WHEN p_ppm * m * 20 <= rank * 1000000 THEN rank END), 0)
             |    AS BIGINT) AS k_star FROM rk)
             |SELECT ga AS type_a, gb AS type_b, z, p_ppm, rank, m, k_star,
             |  rank <= k_star AS rejected
             |FROM rk CROSS JOIN ks
             |ORDER BY type_a, type_b""".stripMargin)),

    // q259: SPEARMAN RANK-CORRELATION MATRIX — monotone association
    // between per-order features (o_totalprice, n_items, sum_qty,
    // sum_price), the outlier-robust complement to q150's Pearson-family
    // OLS: Spearman is Pearson over TIE-AWARE AVERAGE RANKS, invariant to
    // any monotone transform, so a heavy-tailed price column can't
    // dominate the statistic. On this fixture the matrix is itself an
    // AUDIT FINDING: o_totalprice is uncorrelated with its own lineitems'
    // sum (~0) while n_items↔sum_qty ≈ 0.87 — the header total is not
    // derived from the lines. Ranks stay integer-exact via the DOUBLED
    // average rank r2(v) = 2·|{u < v}| + cnt(v) + 1 (half-integer average
    // ranks ×2; the ×2 cancels in rho), built by the q135/q189 count-based
    // discipline — per-VALUE count tables, never a corpus-sized global
    // sort: bounded domains (n_items ≤ 7, sum_qty ≤ 350) take one window
    // over the tiny value table; cent-valued domains (corpus-sized) take
    // the q190 two-phase prefix ($10k blocks — the value RANGE is fixed by
    // the price distribution, so the block table stays bounded at any SF).
    // All 15 moment sums are exact int64 (r2 ≤ 2n+1 ⇒ Σr2² ≤ 4n³+…,
    // int64-safe to ~10⁶ orders; Decimal(38) past — q237 posture); rho is
    // the one IEEE expression over exact longs, identically parenthesized
    // in both engines (q150 discipline), rounded 6dp. Plan: orderkey join
    // + per-order agg → localCheckpoint (five consumers) → two shuffled
    // value-keyed rank joins + two broadcast rank joins → ONE 1-row moment
    // aggregate → 6-row stack.
    Entry(
      "q259_spearman_matrix",
      (s, d) => {
        def smallRank(src: DataFrame, vc: String): DataFrame = {
          val vt = src.groupBy(col(vc).as("v")).agg(count(lit(1)).as("cnt"))
          val w = Window.orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, -1)
          vt.select(col("v").as(vc),
            (coalesce(sum(col("cnt")).over(w), lit(0L)) * 2 + col("cnt") + 1)
              .as(vc + "_r2"))
        }
        def bigRank(src: DataFrame, vc: String): DataFrame = {
          val vt = src.groupBy(col(vc).as("v")).agg(count(lit(1)).as("cnt"))
            .withColumn("blk", expr("v div 1000000"))
            .localCheckpoint() // consumers: within-block prefix + rollup
          val wIn = Window.partitionBy(col("blk")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val wB = Window.orderBy(col("blk"))
            .rowsBetween(Window.unboundedPreceding, -1)
          val bOff = vt.groupBy(col("blk")).agg(sum(col("cnt")).as("bn"))
            .select(col("blk"),
              coalesce(sum(col("bn")).over(wB), lit(0L)).as("sm_blk"))
          vt.withColumn("sm_in", coalesce(sum(col("cnt")).over(wIn), lit(0L)))
            .join(broadcast(bOff), Seq("blk"))
            .select(col("v").as(vc),
              ((col("sm_blk") + col("sm_in")) * 2 + col("cnt") + 1)
                .as(vc + "_r2"))
        }
        val lo = T.lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("ni"),
            sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qsum"),
            sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
              .as("psum"))
        val u = T.orders(s, d)
          .select(col("o_orderkey").as("l_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("tp"))
          .join(lo, Seq("l_orderkey"))
          .select(col("tp"), col("ni"), col("qsum"), col("psum"))
          .localCheckpoint() // consumers: 4 rank tables + the moment pass
        val en = u
          .join(bigRank(u, "tp"), Seq("tp"))
          .join(bigRank(u, "psum"), Seq("psum"))
          .join(broadcast(smallRank(u, "ni")), Seq("ni"))
          .join(broadcast(smallRank(u, "qsum")), Seq("qsum"))
        val mom = en.agg(
          count(lit(1)).as("n"),
          sum(col("tp_r2")).as("sa"), sum(col("ni_r2")).as("sb"),
          sum(col("qsum_r2")).as("sc"), sum(col("psum_r2")).as("sd"),
          sum(col("tp_r2") * col("tp_r2")).as("saa"),
          sum(col("ni_r2") * col("ni_r2")).as("sbb"),
          sum(col("qsum_r2") * col("qsum_r2")).as("scc"),
          sum(col("psum_r2") * col("psum_r2")).as("sdd"),
          sum(col("tp_r2") * col("ni_r2")).as("sab"),
          sum(col("tp_r2") * col("qsum_r2")).as("sac"),
          sum(col("tp_r2") * col("psum_r2")).as("sad"),
          sum(col("ni_r2") * col("qsum_r2")).as("sbc"),
          sum(col("ni_r2") * col("psum_r2")).as("sbd"),
          sum(col("qsum_r2") * col("psum_r2")).as("scd"))
        def rho(sxy: Column, sx: Column, sy: Column,
                sxx: Column, syy: Column): Column = {
          val nd = col("n").cast("double")
          round((nd * sxy.cast("double") -
            sx.cast("double") * sy.cast("double")) /
            sqrt((nd * sxx.cast("double") -
              sx.cast("double") * sx.cast("double")) *
              (nd * syy.cast("double") -
                sy.cast("double") * sy.cast("double"))), 6)
        }
        mom
          .withColumn("r_ab",
            rho(col("sab"), col("sa"), col("sb"), col("saa"), col("sbb")))
          .withColumn("r_ac",
            rho(col("sac"), col("sa"), col("sc"), col("saa"), col("scc")))
          .withColumn("r_ad",
            rho(col("sad"), col("sa"), col("sd"), col("saa"), col("sdd")))
          .withColumn("r_bc",
            rho(col("sbc"), col("sb"), col("sc"), col("sbb"), col("scc")))
          .withColumn("r_bd",
            rho(col("sbd"), col("sb"), col("sd"), col("sbb"), col("sdd")))
          .withColumn("r_cd",
            rho(col("scd"), col("sc"), col("sd"), col("scc"), col("sdd")))
          .select(expr("""stack(6,
            'n_items',      'o_totalprice', n, r_ab,
            'n_items',      'sum_price',    n, r_bd,
            'n_items',      'sum_qty',      n, r_bc,
            'o_totalprice', 'sum_price',    n, r_ad,
            'o_totalprice', 'sum_qty',      n, r_ac,
            'sum_price',    'sum_qty',      n, r_cd)
            AS (x_col, y_col, n_orders, spearman)"""))
          .orderBy(col("x_col"), col("y_col"))
      },
      Some("""WITH lo AS (SELECT l_orderkey,
             |    CAST(count(*) AS BIGINT) AS ni,
             |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
             |      AS qsum,
             |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS BIGINT) AS psum
             |  FROM lineitem GROUP BY 1),
             |u AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS tp,
             |    ni, qsum, psum
             |  FROM orders JOIN lo ON o_orderkey = l_orderkey),
             |r AS (SELECT
             |    2 * (CAST(rank() OVER (ORDER BY tp) AS BIGINT) - 1)
             |      + CAST(count(*) OVER (PARTITION BY tp) AS BIGINT) + 1
             |      AS r2a,
             |    2 * (CAST(rank() OVER (ORDER BY ni) AS BIGINT) - 1)
             |      + CAST(count(*) OVER (PARTITION BY ni) AS BIGINT) + 1
             |      AS r2b,
             |    2 * (CAST(rank() OVER (ORDER BY qsum) AS BIGINT) - 1)
             |      + CAST(count(*) OVER (PARTITION BY qsum) AS BIGINT) + 1
             |      AS r2c,
             |    2 * (CAST(rank() OVER (ORDER BY psum) AS BIGINT) - 1)
             |      + CAST(count(*) OVER (PARTITION BY psum) AS BIGINT) + 1
             |      AS r2d
             |  FROM u),
             |ag AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(r2a) AS BIGINT) AS sa,
             |    CAST(sum(r2b) AS BIGINT) AS sb,
             |    CAST(sum(r2c) AS BIGINT) AS sc,
             |    CAST(sum(r2d) AS BIGINT) AS sd,
             |    CAST(sum(r2a*r2a) AS BIGINT) AS saa,
             |    CAST(sum(r2b*r2b) AS BIGINT) AS sbb,
             |    CAST(sum(r2c*r2c) AS BIGINT) AS scc,
             |    CAST(sum(r2d*r2d) AS BIGINT) AS sdd,
             |    CAST(sum(r2a*r2b) AS BIGINT) AS sab,
             |    CAST(sum(r2a*r2c) AS BIGINT) AS sac,
             |    CAST(sum(r2a*r2d) AS BIGINT) AS sad,
             |    CAST(sum(r2b*r2c) AS BIGINT) AS sbc,
             |    CAST(sum(r2b*r2d) AS BIGINT) AS sbd,
             |    CAST(sum(r2c*r2d) AS BIGINT) AS scd
             |  FROM r)
             |SELECT 'n_items' AS x_col, 'o_totalprice' AS y_col,
             |  n AS n_orders,
             |  round((CAST(n AS DOUBLE)*CAST(sab AS DOUBLE)
             |      - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE)
             |        - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
             |      * (CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE)
             |        - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE))), 6)
             |    AS spearman FROM ag
             |UNION ALL
             |SELECT 'n_items', 'sum_price', n,
             |  round((CAST(n AS DOUBLE)*CAST(sbd AS DOUBLE)
             |      - CAST(sb AS DOUBLE)*CAST(sd AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE)
             |        - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE))
             |      * (CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)
             |        - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))), 6) FROM ag
             |UNION ALL
             |SELECT 'n_items', 'sum_qty', n,
             |  round((CAST(n AS DOUBLE)*CAST(sbc AS DOUBLE)
             |      - CAST(sb AS DOUBLE)*CAST(sc AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE)*CAST(sbb AS DOUBLE)
             |        - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE))
             |      * (CAST(n AS DOUBLE)*CAST(scc AS DOUBLE)
             |        - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE))), 6) FROM ag
             |UNION ALL
             |SELECT 'o_totalprice', 'sum_price', n,
             |  round((CAST(n AS DOUBLE)*CAST(sad AS DOUBLE)
             |      - CAST(sa AS DOUBLE)*CAST(sd AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE)
             |        - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
             |      * (CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)
             |        - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))), 6) FROM ag
             |UNION ALL
             |SELECT 'o_totalprice', 'sum_qty', n,
             |  round((CAST(n AS DOUBLE)*CAST(sac AS DOUBLE)
             |      - CAST(sa AS DOUBLE)*CAST(sc AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE)*CAST(saa AS DOUBLE)
             |        - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE))
             |      * (CAST(n AS DOUBLE)*CAST(scc AS DOUBLE)
             |        - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE))), 6) FROM ag
             |UNION ALL
             |SELECT 'sum_price', 'sum_qty', n,
             |  round((CAST(n AS DOUBLE)*CAST(scd AS DOUBLE)
             |      - CAST(sc AS DOUBLE)*CAST(sd AS DOUBLE))
             |    / sqrt((CAST(n AS DOUBLE)*CAST(scc AS DOUBLE)
             |        - CAST(sc AS DOUBLE)*CAST(sc AS DOUBLE))
             |      * (CAST(n AS DOUBLE)*CAST(sdd AS DOUBLE)
             |        - CAST(sd AS DOUBLE)*CAST(sd AS DOUBLE))), 6) FROM ag
             |ORDER BY x_col, y_col""".stripMargin)),

    // q263: DIFFERENTIALLY-PRIVATE HISTOGRAM RELEASE — the publication
    // step after q235's k-anonymity audit: per-source doc counts released
    // through the DISCRETE LAPLACE (two-sided geometric) mechanism, the
    // exact integer-valued ε-DP noise for sensitivity-1 counting queries
    // (Ghosh-Roughgarden-Sundararajan: it is the UNIVERSALLY optimal such
    // mechanism). ε = 0.5; noise drawn by integer inverse-CDF over a
    // seeded md5 uniform (the q253 derandomization: 30 HARDCODED
    // floor(2³²·F(k)) thresholds for k = −15..14, noise = −15 + #{T ≤ u},
    // tail beyond ±15 clamped, mass 2α¹⁶/(1+α) ≈ 4·10⁻⁴) — so the release
    // is REPRODUCIBLE and oracle-checkable end to end; production swaps
    // the seed for real entropy, everything else (mechanism, clamping,
    // post-processed nonnegativity, utility accounting) is what's under
    // test. true_n rides along for the in-row utility audit (abs_err,
    // the 97.7% |noise| ≤ 7 band) — the released artifact is the
    // released_n column. Plan: ONE (source) count exchange + a map; the
    // noise is per-GROUP (20 digests total), never per-row.
    Entry(
      "q263_dp_release",
      (s, d) => {
        val th = Seq(1478639L, 2437863L, 4019358L, 6626801L, 10925748L,
          18013513L, 29699263L, 48965806L, 80730967L, 133102863L,
          219449521L, 361811093L, 596525646L, 983504522L, 1621524825L,
          2673442470L, 3311462773L, 3698441649L, 3933156202L, 4075517774L,
          4161864432L, 4214236328L, 4246001489L, 4265268032L, 4276953782L,
          4284041547L, 4288340494L, 4290947937L, 4292529432L, 4293488656L)
        val nExpr = "-15L + " + th.map(t =>
          s"(CASE WHEN u >= ${t}L THEN 1L ELSE 0L END)").mkString(" + ")
        T.documents(s, d)
          .groupBy(col("source")).agg(count(lit(1)).as("true_n"))
          .withColumn("u", expr("CAST(conv(substring(" +
            "md5(concat('dp:v1:', source)), 1, 8), 16, 10) AS BIGINT)"))
          .withColumn("noise", expr(nExpr))
          .select(col("source"), col("true_n"), col("noise"),
            greatest(col("true_n") + col("noise"), lit(0L)).as("released_n"),
            abs(col("noise")).as("abs_err"),
            (abs(col("noise")) <= 7).as("within_95"),
            lit(500L).as("epsilon_milli"))
          .orderBy(col("source"))
      },
      Some {
        val th = Seq(1478639L, 2437863L, 4019358L, 6626801L, 10925748L,
          18013513L, 29699263L, 48965806L, 80730967L, 133102863L,
          219449521L, 361811093L, 596525646L, 983504522L, 1621524825L,
          2673442470L, 3311462773L, 3698441649L, 3933156202L, 4075517774L,
          4161864432L, 4214236328L, 4246001489L, 4265268032L, 4276953782L,
          4284041547L, 4288340494L, 4290947937L, 4292529432L, 4293488656L)
        val nExpr = "-15 + " + th.map(t =>
          s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)").mkString(" + ")
        sql"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS true_n
           |  FROM documents GROUP BY 1),
           |uu AS (SELECT source, true_n,
           |    ${md5Lane("'dp:v1:' || source", castBr = Br(2))} AS u
           |  FROM c),
           |nz AS (SELECT source, true_n,
           |    CAST($nExpr AS BIGINT) AS noise FROM uu)
           |SELECT source, true_n, noise,
           |  greatest(true_n + noise, 0) AS released_n,
           |  abs(noise) AS abs_err,
           |  abs(noise) <= 7 AS within_95,
           |  CAST(500 AS BIGINT) AS epsilon_milli
           |FROM nz ORDER BY source"""
      }),

    // q280: SEEDED-HASH UNIFORMITY AUDIT — the chi-square goodness-of-fit
    // test of the engine's own determinism primitive: dozens of operators
    // (q112 splits, q161 arms, q253 bootstrap lanes, q260/q261/q275
    // fabrications…) assume md5-bucket assignments are uniform; this
    // registers the proof instead of assuming it. For each keyed family
    // (doc_id and event_id, 64 buckets), χ²·denominator is kept EXACT:
    // with E = n/64, χ² = Σ(O−E)²/E = 64·Σ(64·O−n)²/(64²·n), reported as
    // the exact-integer milli value Σ(64·O−n)²·1000 div (64·n) against
    // the χ²(63) α=0.05 critical 82,529 milli (literal; suite re-derives
    // the Wilson-Hilferty approximation). A failure here would indict
    // every seeded fabrication upstream. Plan: two map passes + two
    // 64-row aggregates — nothing corpus-sized moves.
    Entry(
      "q280_hash_uniformity",
      (s, d) => {
        def audit(df: DataFrame, name: String) = df
          .groupBy(col("b")).agg(count(lit(1)).as("o"))
          .agg(sum(col("o")).as("n"),
            count(lit(1)).as("n_buckets"),
            sum(expr("(64 * o) * (64 * o)")).as("s2x"))
          // Σ(64O−n)² = 64²ΣO² − 2·64n·ΣO + 64n² = Σ(64O)² − 64·n²
          // (since ΣO = n); all int64 at fixture scale
          .select(lit(name).as("family"), col("n"), col("n_buckets"),
            expr("((s2x - 64L * n * n) * 1000L) div (64L * n)")
              .as("chi2_milli"),
            lit(82529L).as("crit_milli"),
            expr("((s2x - 64L * n * n) * 1000L) div (64L * n) <= 82529L")
              .as("uniform_ok"))
        val docs = T.documents(s, d).select(expr(
          "CAST(conv(substring(md5(concat('split:v1:', " +
            "CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 64")
          .as("b"))
        val evs = T.events(s, d).select(expr(
          "CAST(conv(substring(md5(concat('ab:v1:', " +
            "CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 64")
          .as("b"))
        audit(docs, "doc_id_md5").unionByName(audit(evs, "event_id_md5"))
          .orderBy(col("family"))
      },
      Some("""WITH dbk AS (SELECT CAST(('0x' || substr(md5('split:v1:'
             |      || doc_id::VARCHAR), 1, 8)) AS BIGINT) % 64 AS b
             |  FROM documents),
             |ebk AS (SELECT CAST(('0x' || substr(md5('ab:v1:'
             |      || event_id::VARCHAR), 1, 8)) AS BIGINT) % 64 AS b
             |  FROM events),
             |da AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_buckets,
             |    CAST(sum((64 * o) * (64 * o)) AS BIGINT) AS s2x
             |  FROM (SELECT b, CAST(count(*) AS BIGINT) AS o FROM dbk
             |    GROUP BY 1)),
             |ea AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |    CAST(count(*) AS BIGINT) AS n_buckets,
             |    CAST(sum((64 * o) * (64 * o)) AS BIGINT) AS s2x
             |  FROM (SELECT b, CAST(count(*) AS BIGINT) AS o FROM ebk
             |    GROUP BY 1))
             |SELECT * FROM (
             |SELECT 'doc_id_md5' AS family, n, n_buckets,
             |  ((s2x - 64 * n * n) * 1000) // (64 * n) AS chi2_milli,
             |  CAST(82529 AS BIGINT) AS crit_milli,
             |  ((s2x - 64 * n * n) * 1000) // (64 * n) <= 82529 AS uniform_ok
             |FROM da
             |UNION ALL
             |SELECT 'event_id_md5', n, n_buckets,
             |  ((s2x - 64 * n * n) * 1000) // (64 * n),
             |  CAST(82529 AS BIGINT),
             |  ((s2x - 64 * n * n) * 1000) // (64 * n) <= 82529
             |FROM ea
             |) ORDER BY family""".stripMargin))
  )

  /** Round-17 batch (JVM method-size discipline, the entries2 precedent). */
  val entries2: Seq[Entry] = Seq(

    // q305: CORPUS RELEASE GATE — the q231 machinery pointed at the
    // question a data-engineering org actually gates releases on: did THIS
    // corpus build drift from the LAST one? Two-sample KS per source
    // between the previous fixture GENERATION (the sf0.001 sibling dir,
    // the q299/q302 cross-generation pattern) and the current corpus's
    // doc-length distributions, with the α=0.05 decision. Everything is
    // q231's integer-exact discipline: D·n0·n1 = max_v |cum0·n1 − cum1·n0|
    // pure int64 over ONE (source, gen, value) count exchange; the value
    // grid is the corpus marginal (value-domain bounded); crit_ppm =
    // round(1358000·sqrt((n0+n1)/(n0·n1))) via the ±3-window isqrt. At
    // the suite's sf0.001 the generations coincide → D = 0, drifted =
    // false for every source (the fixed point); at sf0.01/0.1 the result
    // is a genuine cross-generation measurement the oracle adjudicates.
    // Plan: two bounded scans (old + new corpus) into one partial-agged
    // count exchange; windows over value-domain-bounded partitions;
    // max-then-match argmax, never a sort. At 100 TB: per-build work is
    // one count-table pass over each side; only (source, v, count) rows
    // move.
    Entry(
      "q305_corpus_release_gate",
      (s, d) => {
        val oldD = T.documents(s, Transforms.siblingBuildCorpus(d))
          .select(col("source"), col("n_chars").as("v"), lit(0L).as("g"))
        val newD = T.documents(s, d)
          .select(col("source"), col("n_chars").as("v"), lit(1L).as("g"))
        val sb = oldD.unionByName(newD)
          .groupBy(col("source"), col("g"), col("v"))
          .agg(count(lit(1)).as("n_i"))
          .localCheckpoint() // consumers: marginal, totals, both gen sides
        val marg = sb.select(col("v")).distinct()
        val totals = sb.groupBy(col("source")).agg(
          sum(when(col("g") === 0L, col("n_i")).otherwise(0L)).as("n0"),
          sum(when(col("g") === 1L, col("n_i")).otherwise(0L)).as("n1"))
        def side(g: Int, as: String): DataFrame = sb
          .filter(col("g") === g.toLong)
          .select(col("source"), col("v"), col("n_i").as(as))
        val w = Window.partitionBy(col("source")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cells = totals.crossJoin(broadcast(marg))
          .join(side(0, "a_i"), Seq("source", "v"), "left")
          .join(side(1, "b_i"), Seq("source", "v"), "left")
          .withColumn("a_i", coalesce(col("a_i"), lit(0L)))
          .withColumn("b_i", coalesce(col("b_i"), lit(0L)))
          .withColumn("dnum",
            abs(sum(col("a_i")).over(w) * col("n1") -
              sum(col("b_i")).over(w) * col("n0")))
          .localCheckpoint() // consumers: per-source max + argmax location
        val mx = cells.groupBy(col("source"), col("n0"), col("n1"))
          .agg(max(col("dnum")).as("mx"))
        mx.join(cells.select(col("source"), col("v"), col("dnum")), Seq("source"))
          .filter(col("dnum") === col("mx"))
          .groupBy(col("source"), col("n0"), col("n1"), col("mx"))
          .agg(min(col("v")).as("ks_at"))
          .select(col("source"), col("n0").as("n_old"), col("n1").as("n_new"),
            // decimal-widened + greatest-guarded: a source present in only
            // one generation (n0=0 or n1=0 — the very case a release gate
            // exists to catch) is D=1 by definition; and mx·1e6 / the xr
            // product can exceed int64 at large per-source counts.
            expr("CASE WHEN n0 = 0L OR n1 = 0L THEN 1000000L ELSE " +
              "CAST(mx AS DECIMAL(38,0)) * 1000000 div greatest(n0 * n1, 1L) " +
              "END").as("d_ppm"),
            col("ks_at"),
            expr("CAST(7376656000000 AS DECIMAL(38,0)) * (n0 + n1) " +
              "div greatest(n0 * n1, 1L)").as("xr"))
          .withColumn("c0",
            expr("CAST(floor(sqrt(CAST(xr AS DOUBLE))) AS BIGINT)"))
          .withColumn("crit_ppm", expr(
            "(aggregate(sequence(greatest(c0 - 3L, 0L), c0 + 3L), 0L, " +
              "(a, t) -> if(t * t <= xr, t, a)) + 1L) div 2"))
          .drop("xr", "c0")
          .withColumn("drifted",
            col("n_old") === 0L || col("n_new") === 0L ||
              col("d_ppm") > col("crit_ppm"))
          .orderBy(col("source"))
      },
      Some("""WITH u AS (SELECT source, n_chars AS v, 0 AS g
             |    FROM '/root/testdata/sf0.001/documents.parquet'
             |  UNION ALL SELECT source, n_chars, 1 FROM documents),
             |sb AS MATERIALIZED (SELECT source, g, v,
             |    CAST(count(*) AS BIGINT) AS n_i
             |  FROM u GROUP BY 1, 2, 3),
             |marg AS (SELECT DISTINCT v FROM sb),
             |tot AS (SELECT source,
             |    CAST(sum(CASE WHEN g = 0 THEN n_i ELSE 0 END) AS BIGINT) AS n0,
             |    CAST(sum(CASE WHEN g = 1 THEN n_i ELSE 0 END) AS BIGINT) AS n1
             |  FROM sb GROUP BY 1),
             |cells AS (SELECT t.source, t.n0, t.n1, m.v,
             |    CAST(coalesce(s0.n_i, 0) AS BIGINT) AS a_i,
             |    CAST(coalesce(s1.n_i, 0) AS BIGINT) AS b_i
             |  FROM tot t CROSS JOIN marg m
             |  LEFT JOIN sb s0 ON s0.source = t.source AND s0.v = m.v AND s0.g = 0
             |  LEFT JOIN sb s1 ON s1.source = t.source AND s1.v = m.v AND s1.g = 1),
             |cum AS MATERIALIZED (SELECT source, n0, n1, v,
             |    abs(sum(a_i) OVER w * n1 - sum(b_i) OVER w * n0) AS dnum
             |  FROM cells WINDOW w AS (PARTITION BY source ORDER BY v
             |    ROWS UNBOUNDED PRECEDING)),
             |mx AS (SELECT source, n0, n1, max(dnum) AS mx
             |  FROM cum GROUP BY 1, 2, 3),
             |sel AS (SELECT mx.source, mx.n0 AS n_old, mx.n1 AS n_new,
             |    CAST(CASE WHEN mx.n0 = 0 OR mx.n1 = 0 THEN 1000000
             |      ELSE mx.mx * 1000000 // greatest(mx.n0 * mx.n1, 1)
             |      END AS BIGINT) AS d_ppm,
             |    CAST(min(cum.v) AS BIGINT) AS ks_at,
             |    7376656000000 * (mx.n0 + mx.n1)
             |      // greatest(mx.n0 * mx.n1, 1) AS xr
             |  FROM mx JOIN cum ON cum.source = mx.source AND cum.dnum = mx.mx
             |  GROUP BY 1, 2, 3, 4, 6),
             |seed AS (SELECT *, CAST(floor(sqrt(CAST(xr AS DOUBLE)))
             |    AS BIGINT) AS c0 FROM sel),
             |crit AS (SELECT source, n_old, n_new, d_ppm, ks_at,
             |    CAST((list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      range(greatest(c0 - 3, 0), c0 + 4)),
             |      (a, t) -> CASE WHEN t * t <= xr THEN t ELSE a END) + 1) // 2
             |      AS BIGINT) AS crit_ppm
             |  FROM seed)
             |SELECT source, n_old, n_new, d_ppm, ks_at, crit_ppm,
             |  (n_old = 0 OR n_new = 0 OR d_ppm > crit_ppm) AS drifted
             |FROM crit ORDER BY source""".stripMargin))
  )
}
