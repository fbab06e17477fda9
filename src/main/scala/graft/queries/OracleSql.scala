package graft.queries

/** Named DuckDB fragments for oracle SQL. Each fragment is the DuckDB
  * encoding of one decision a Scala kernel makes (`PolyKernels`,
  * `HashKernels.md5Lane`, `HashKernels.tokenShingles`,
  * `PolyKernels.clsScore`), written once here instead of once per oracle.
  *
  * Only oracle strings use this object: the Spark side of a query never
  * calls it, so a query and its oracle still share no code. A composed
  * oracle must read byte for byte as the literal it replaced, because
  * check.py keys its oracle cache on sha256 of the SQL text;
  * `OracleCacheSuite` fails on any oracle whose cache entries are missing.
  *
  * Fragments are composed with the [[OracleSql.SqlInterpolator.sql]]
  * interpolator, which keeps a multi-line fragment's shape wherever it is
  * spliced. Fragments spell line breaks with [[Br]] (a newline plus the
  * continuation's indent, relative to the fragment's first column).
  */
object OracleSql {

  implicit final class SqlInterpolator(private val sc: StringContext) extends AnyVal {

    /** `s"""...""".stripMargin` for the literal parts; an argument is
      * spliced as text, and each later line of a multi-line argument is
      * indented by the column the argument starts at, so the fragment
      * keeps its relative indentation.
      */
    def sql(args: Any*): String = {
      val parts = sc.parts.map(StringContext.processEscapes)
      val out = new StringBuilder(parts.head.stripMargin)
      args.zip(parts.tail).foreach { case (arg, part) =>
        val col = out.length - out.lastIndexOf('\n') - 1
        out ++= arg.toString.replace("\n", "\n" + " " * col)
        val nl = part.indexOf('\n')
        out ++= (if (nl < 0) part else part.take(nl) + part.drop(nl).stripMargin)
      }
      out.toString
    }
  }

  /** A line break whose next line is indented `n` columns past the
    * fragment's first column. */
  def Br(n: Int): String = "\n" + " " * n

  /** The house digest modulus, 2^31 - 1. */
  val HouseP = 2147483647L

  /** The `PolyKernels` fold over a BIGINT list: a = (a * 131 + v) % [[HouseP]]
    * from a = 0. */
  def polyFold(list: String, v: String = "c"): String =
    sql"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  $list),
         |  (a, $v) -> (a * 131 + $v) % $HouseP)"""

  /** `PolyKernels.charPoly`: the [[polyFold]] of the codepoints of `s`. */
  def charPoly(s: String): String =
    polyFold(sql"""list_transform(range(1, length($s) + 1),
                  |  i -> CAST(unicode($s[i]) AS BIGINT))""")

  /** `HashKernels.md5Lane`: the `len`-hex-digit lane of md5(key) at 1-based
    * hex offset `pos`, as a BIGINT. `keyBr` and `castBr` are the spaces (or
    * [[Br]] line breaks) before the offset and before `AS BIGINT`. */
  def md5Lane(key: String, pos: Any = 1, len: Int = 8,
      keyBr: String = " ", castBr: String = " "): String =
    s"CAST(('0x' || substr(md5($key),$keyBr$pos, $len))${castBr}AS BIGINT)"

  /** The CTE `name` of `HashKernels.tokenShingles(text, 3)`: the distinct
    * 3-word shingles `sh` of each row's space-split tokens `toks`. */
  def tokenShingles(name: String, id: String = "doc_id", from: String = "t"): String =
    sql"""$name AS (SELECT $id, list_distinct(list_transform(
         |    range(1, greatest(len(toks)-2, 1) + 1),
         |    i -> array_to_string(list_slice(toks, i, i+2), ' '))) AS sh
         |  FROM $from)"""

  /** A WITH clause opening on the CTEs `t` (lowercase alphanumeric tokens
    * `u`) and `f` (`u` plus its word bigrams, `feats`) that
    * `PolyKernels.clsScore` reads; `cols` are the columns `f` keeps. */
  def withClsFeatures(cols: String): String =
    sql"""WITH t AS (SELECT doc_id, lang,
         |    list_filter(string_split(lower(text), ' '),
         |      w -> regexp_matches(w, '^[a-z0-9]+$$')) AS u
         |  FROM documents),
         |f AS (SELECT $cols,
         |    list_concat(u, list_transform(range(2, len(u)+1),
         |      i -> u[i-1] || ' ' || u[i])) AS feats
         |  FROM t)"""

  /** `PolyKernels.clsScore` of the feature list `feats`: each feature's
    * ×31 mod 4096 char polynomial, scrambled into [-1001, 1001], summed. */
  val clsScore: String =
    sql"""CAST(coalesce(list_sum(list_transform(feats, g ->
         |  ((list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(g)+1),
         |        i -> CAST(unicode(g[i]) AS BIGINT))),
         |    (a, c) -> (a * 31 + c) % 4096) * 2654435761) % 2003)
         |  - 1001)), 0) AS BIGINT) AS score"""

  /** The CTEs `tk` through `lab` that give each doc_id q88's repetition
    * label `pos` (`TextOps.repetitionCounts` and `TextOps.lowQuality`:
    * not low quality). */
  val qualityLabels: String =
    sql"""tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |wc AS (SELECT doc_id, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest(toks) AS w FROM tk) GROUP BY doc_id, w),
         |ws AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         |    CAST(max(cnt) AS BIGINT) AS max_w,
         |    CAST(count(*) AS BIGINT) AS n_distinct FROM wc GROUP BY doc_id),
         |bgc AS (SELECT doc_id, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest(list_transform(range(2, len(toks)+1),
         |      i -> toks[i-1] || ' ' || toks[i])) AS bg FROM tk)
         |  GROUP BY doc_id, bg),
         |bs AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bg,
         |    CAST(max(cnt) AS BIGINT) AS max_bg FROM bgc GROUP BY doc_id),
         |lab AS (SELECT ws.doc_id,
         |    NOT (ws.max_w * 25 > ws.n_words * 3
         |      OR (ws.n_words - ws.n_distinct) * 20 > ws.n_words * 13
         |      OR coalesce(bs.max_bg, 0) * 50
         |         > greatest(coalesce(bs.n_bg, 0), 1) * 3) AS pos
         |  FROM ws LEFT JOIN bs USING (doc_id))"""

  /** The CTEs `wc`, `ws` and `bc` of `TextOps.repetitionCounts` over CTE
    * `t` (doc_id, space-split `toks`): word counts, their per-doc
    * n_words/max_w/n_distinct, and word-bigram counts. */
  val repetitionCtes: String =
    sql"""wc AS (SELECT doc_id, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w),
         |ws AS (SELECT doc_id, sum(cnt) AS n_words, max(cnt) AS max_w,
         |    count(*) AS n_distinct FROM wc GROUP BY doc_id),
         |bc AS (SELECT doc_id, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest(list_transform(range(2, len(toks)+1),
         |      i -> toks[i-1] || ' ' || toks[i])) AS bg FROM t) GROUP BY doc_id, bg)"""

  /** [[repetitionCtes]], then `bs` (bigram max and total) and `q`: each
    * doc's n_words and its `TextOps.lowQuality` flag `low_quality`. */
  val lowQualityDocs: String =
    sql"""$repetitionCtes,
         |bs AS (SELECT doc_id, max(cnt) AS max_bg, sum(cnt) AS n_bg FROM bc
         |    GROUP BY doc_id),
         |q AS (SELECT t.doc_id, ws.n_words,
         |    (ws.max_w * 25 > ws.n_words * 3
         |     OR (ws.n_words - ws.n_distinct) * 20 > ws.n_words * 13
         |     OR coalesce(bs.max_bg, 0) * 50 > greatest(coalesce(bs.n_bg, 0), 1) * 3)
         |      AS low_quality
         |  FROM t JOIN ws USING (doc_id) LEFT JOIN bs USING (doc_id))"""

  /** A WITH clause opening on the CTEs of [[withClsFeatures]], `e`
    * (`doc_id` and its [[clsScore]]) and [[qualityLabels]]: the per-doc
    * (score, label) that `CorpusStats.scoredLabeledDocs` computes. */
  val withScoredLabels: String =
    sql"""${withClsFeatures("doc_id")},
         |e AS (SELECT doc_id,
         |    $clsScore
         |  FROM f),
         |$qualityLabels"""

  /** The CTEs `j` and `ps`: per classifier score (CTE `e`), its doc count
    * `cnt` and positive count `npos` under [[qualityLabels]]. */
  val labelsByScore: String =
    sql"""j AS (SELECT e.score, lab.pos FROM e JOIN lab USING (doc_id)),
         |ps AS (SELECT score, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS npos
         |  FROM j GROUP BY score)"""

  /** The CTE `g` of `HashKernels.tokenShingles(text, 8)`: one row per
    * distinct 8-token gram `gram` of each doc's tokens `toks` in CTE `t`. */
  val eightGrams: String =
    sql"""g AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(toks)-7, 0)+1),
         |    i -> array_to_string(list_slice(toks, i, i+7), ' ')))) AS gram
         |  FROM t)"""

  /** The body of the near-duplicate pair CTE after its SELECT list: doc
    * pairs of CTE `s` whose distinct-token sets `toks` have Jaccard >= 0.95
    * (q87's pair relation). */
  val nearDupPairsFrom: String =
    sql"""FROM s a JOIN s b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
         |  (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.95)"""

  /** The recursive CTE `r(node, reach)`: every document paired with every
    * document its edges `e(src, dst)` reach, itself included; min(reach)
    * per node labels its connected component. */
  val reachability: String =
    sql"""r(node, reach) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.node, e.dst FROM r JOIN e ON e.src = r.reach)"""

  /** Sessions and events per user, a session starting after a gap of more
    * than 30 minutes (ties by event_id): the oracle of every sessionize
    * variant. */
  val sessionCounts: String =
    sql"""WITH g AS (
         | SELECT user_id,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |        OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         |       THEN 1 ELSE 0 END AS new_session
         | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
         | count(*) AS n_events
         |FROM g GROUP BY user_id ORDER BY user_id"""

  /** A WITH clause opening on CTEs `e` (events with their hour `hr` and
    * value in cents) and `h`: the hourly cents `y` per event type. */
  val withHourlyCents: String =
    sql"""WITH e AS (SELECT event_type,
         |    CAST(epoch_us(ts) AS BIGINT) // 3600000000 AS hr,
         |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
         |h AS (SELECT event_type, hr, CAST(sum(cents) AS BIGINT) AS y
         |  FROM e GROUP BY 1, 2)"""

  /** The per-source rollup of the image decoders over CTE `d` (rows with
    * `bad`, `pix` and a digest `dg`), the oracle twin of their
    * `imgRollup`. */
  val imageRollup: String =
    sql"""SELECT source, CAST(count(*) AS BIGINT) AS n_images,
         |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
         |  CAST(sum(pix) AS BIGINT) AS pix_bytes,
         |  CAST(sum(dg) % $HouseP AS BIGINT) AS pix_digest
         |FROM d GROUP BY source ORDER BY source"""
}
