package graft.operators

import org.apache.spark.sql.functions._
import graft.queries.Entry
import graft.queries.OracleSql._
import graft.{Tables => T}

/** URL canonicalization — the FIRST dedup key a web-crawl pipeline
  * computes (before any content hash): lowercase scheme/host, strip the
  * scheme's default port, drop the fragment, drop tracking (utm_*)
  * params, sort the surviving query params, strip a www. prefix, and
  * trim a trailing slash. Two fetches of the same page under different
  * spellings must collapse to one canonical key.
  *
  * Engine shape: PURE CATALYST EXPRESSIONS end to end — string splits,
  * higher-order filter/sort over the param array, and an aggregate()
  * char fold for the digest; no mapPartitions, no UDF, whole-stage
  * codegen throughout. The messy URL is synthesized per doc from the
  * row's own doc_id (no URL column in the fixture — the q308/q319
  * synthesis discipline), and the ORACLE RE-PARSES it generically in
  * DuckDB rather than rebuilding the answer from residues, so the
  * canonicalization logic itself is what the comparison checks.
  *
  * Reference scope (JasperWoo/MapReduceCore): the reference tokenizes
  * text only (user_tasks.cc:15); URL keying is the map task its crawl
  * users write first, made first-class.
  */
object UrlOps {

  private val P = 2147483647L

  /** The messy synthesized URL — one generator, the cast type name and
    * integer-division spelling the only dialect differences (Spark
    * STRING/div vs DuckDB VARCHAR,//). CONTENT derives from the logical
    * URL id u = doc_id div 2; SPELLING variation (case, www., default
    * port, param order, tracking param, trailing slash, fragment) from
    * doc_id itself — so ids 2k and 2k+1 are two spellings of the SAME
    * page and the canonical key MUST collapse them, at every SF.
    */
  private[graft] def messy(t: String, dv: String): String = {
    // u = logical URL id; v = spelling index. The fixture assigns
    // sources round-robin (source = doc_id % 20), so same-source
    // neighbors are doc_id and doc_id + 20: with u = doc_id div 40 they
    // share a logical URL half the time, and with v = doc_id div 20
    // they ALWAYS differ in spelling — guaranteed real collapse of
    // genuinely different spellings, at every SF.
    val u = s"(doc_id $dv 40)"
    val v = s"(doc_id $dv 20)"
    s"concat(CASE WHEN $u % 2 = 0 THEN " +
      s"CASE WHEN $v % 2 = 0 THEN 'HTTP' ELSE 'http' END " +
      s"ELSE CASE WHEN $v % 2 = 0 THEN 'HTTPS' ELSE 'https' END END, " +
      "'://', " +
      s"CASE WHEN $v % 2 = 0 THEN concat('WWW.Example', " +
      s"CAST($u % 7 AS $t), '.COM') " +
      s"ELSE concat('example', CAST($u % 7 AS $t), '.com') END, " +
      s"CASE WHEN $u % 2 = 0 AND $v % 4 = 0 THEN ':80' " +
      s"WHEN $u % 2 = 1 AND $v % 4 = 2 THEN ':443' ELSE '' END, " +
      s"'/A/b/', CAST($u % 50 AS $t), " +
      s"CASE WHEN $v % 5 = 0 THEN '/' ELSE '' END, " +
      s"CASE WHEN $v % 2 = 0 THEN concat('?b=2&a=', " +
      s"CAST($u % 9 AS $t), '&utm_source=feed') " +
      s"ELSE concat('?a=', CAST($u % 9 AS $t), '&b=2') END, " +
      s"CASE WHEN $v % 3 = 0 THEN concat('#sec', " +
      s"CAST($v % 4 AS $t)) ELSE '' END)"
  }

  val entries: Seq[Entry] = Seq(

    // q339: URL CANONICALIZATION + canonical-key dedup accounting.
    // Same-source neighbor ids pair up as two SPELLINGS of one logical
    // URL (content from doc_id div 40, spelling from doc_id div 20 —
    // see messy()), so the canonical key provably collapses ~2:1 at
    // every SF and n_unique measures real dedup.
    Entry(
      "q339_url_canonicalize",
      (s, d) => {
        val u = T.documents(s, d)
          .select(col("source"), col("doc_id"), expr(messy("STRING", "div")).as("messy"))
          .withColumn("nofrag", expr("substring_index(messy, '#', 1)"))
          .withColumn("scheme",
            expr("lower(substring_index(nofrag, '://', 1))"))
          .withColumn("rest", expr("substring(nofrag, length(scheme) + 4)"))
          .withColumn("hostport", expr("substring_index(rest, '/', 1)"))
          .withColumn("pathq", expr("substring(rest, length(hostport) + 1)"))
          .withColumn("host", expr(
            "lower(CASE WHEN scheme = 'http' AND hostport LIKE '%:80' " +
              "THEN left(hostport, length(hostport) - 3) " +
              "WHEN scheme = 'https' AND hostport LIKE '%:443' " +
              "THEN left(hostport, length(hostport) - 4) " +
              "ELSE hostport END)"))
          .withColumn("host2", expr(
            "CASE WHEN host LIKE 'www.%' THEN substring(host, 5) " +
              "ELSE host END"))
          .withColumn("path", expr("substring_index(pathq, '?', 1)"))
          .withColumn("path2", expr(
            "CASE WHEN length(path) > 1 AND path LIKE '%/' " +
              "THEN left(path, length(path) - 1) ELSE path END"))
          .withColumn("qs", expr(
            "CASE WHEN pathq LIKE '%?%' " +
              "THEN substring_index(pathq, '?', -1) ELSE '' END"))
          .withColumn("params", expr(
            "array_join(array_sort(filter(split(qs, '&'), " +
              "p -> substring(p, 1, 4) != 'utm_')), '&')"))
          .withColumn("canon", expr(
            "concat(scheme, '://', host2, path2, " +
              "CASE WHEN params = '' THEN '' " +
              "ELSE concat('?', params) END)"))
        u.groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_urls"),
            countDistinct(col("canon")).as("n_unique"),
            sum(expr("CAST(messy LIKE '%#%' AS BIGINT)"))
              .as("n_frag_dropped"),
            // both default ports: canonicalization strips :80 from http
            // AND :443 from https, so the metric counts both carriers
            // (r19 ADVICE — previously :80 only, under-reporting)
            sum(expr("CAST(hostport LIKE '%:80' OR hostport LIKE '%:443' " +
              "AS BIGINT)")).as("n_port_stripped"),
            pmod(sum(expr(
              s"aggregate(sequence(1, length(canon)), 0L, (a, i) -> " +
                s"(a * 131L + ascii(substring(canon, i, 1))) % ${P}L)")),
              lit(P)).as("url_digest"))
          .orderBy(col("source"))
      },
      Some(s"""WITH u0 AS (SELECT source, doc_id, ${messy("VARCHAR", "//")} AS messy
         |  FROM documents),
         |u1 AS (SELECT source, messy,
         |    split_part(messy, '#', 1) AS nofrag FROM u0),
         |u2 AS (SELECT source, messy, nofrag,
         |    lower(split_part(nofrag, '://', 1)) AS scheme FROM u1),
         |u3 AS (SELECT source, messy, scheme,
         |    substr(nofrag, length(scheme) + 4) AS rest FROM u2),
         |u4 AS (SELECT source, messy, scheme, rest,
         |    split_part(rest, '/', 1) AS hostport FROM u3),
         |u5 AS (SELECT source, messy, scheme, hostport,
         |    substr(rest, length(hostport) + 1) AS pathq FROM u4),
         |u6 AS (SELECT source, messy, scheme, hostport, pathq,
         |    lower(CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
         |      THEN left(hostport, length(hostport) - 3)
         |      WHEN scheme = 'https' AND hostport LIKE '%:443'
         |      THEN left(hostport, length(hostport) - 4)
         |      ELSE hostport END) AS host FROM u5),
         |u7 AS (SELECT source, messy, scheme, hostport, pathq,
         |    CASE WHEN host LIKE 'www.%' THEN substr(host, 5)
         |      ELSE host END AS host2,
         |    split_part(pathq, '?', 1) AS path FROM u6),
         |u8 AS (SELECT source, messy, scheme, hostport, host2,
         |    CASE WHEN length(path) > 1 AND path LIKE '%/'
         |      THEN left(path, length(path) - 1) ELSE path END AS path2,
         |    CASE WHEN contains(pathq, '?')
         |      THEN split_part(pathq, '?', 2) ELSE '' END AS qs FROM u7),
         |u9 AS (SELECT source, messy, hostport,
         |    concat(scheme, '://', host2, path2,
         |      CASE WHEN params = '' THEN ''
         |        ELSE concat('?', params) END) AS canon
         |  FROM (SELECT *, array_to_string(list_sort(list_filter(
         |      string_split(qs, '&'),
         |      p -> substr(p, 1, 4) != 'utm_')), '&') AS params FROM u8))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(count(DISTINCT canon) AS BIGINT) AS n_unique,
         |  CAST(sum(CASE WHEN contains(messy, '#') THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_frag_dropped,
         |  CAST(sum(CASE WHEN hostport LIKE '%:80'
         |      OR hostport LIKE '%:443' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_port_stripped,
         |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(canon) + 1),
         |        i -> CAST(unicode(canon[i]) AS BIGINT))),
         |      (a, c) -> (a * 131 + c) % $P)) % $P AS BIGINT)
         |    AS url_digest
         |FROM u9 GROUP BY source ORDER BY source""".stripMargin)),

    // q342: REGISTRABLE-DOMAIN (eTLD+1) ROLLUP — the host-level unit
    // every crawl quota, politeness and per-site dedup system keys on.
    // An embedded public-suffix rule SAMPLE exercises all four rule
    // kinds of the public-suffix algorithm: exact single-label (com),
    // exact multi-label (co.uk, github.io), wildcard (*.kawasaki.jp),
    // exception (!city.kawasaki.jp — its registrable domain is
    // city.kawasaki.jp itself, so every siteN host under it collapses
    // to ONE domain), and the implicit default-* rule (.example).
    // Hosts are synthesized with case noise (doc_id parity upper-cases
    // the spelling; ids 2k/2k+1 are the same logical host) and
    // subdomain depth noise (www. / a.b. / bare). PURE CATALYST end to
    // end — label split, unrolled suffix candidates k=1..4, literal
    // rule array membership — one exchange on the ~30-key domain
    // rollup; the oracle re-runs the same public-suffix ALGORITHM
    // generically over DuckDB lists.
    Entry(
      "q342_etld1_rollup",
      (s, d) => {
        val rules = EtldRulesSpark
        T.documents(s, d)
          .select(col("source"), col("doc_id"),
            expr(hostExpr("STRING", "div")).as("host"))
          .withColumn("hostc", expr("lower(host)"))
          .withColumn("labels", expr("split(hostc, '[.]')"))
          .withColumn("n", expr("size(labels)"))
          .withColumn("suf1", expr(
            "IF(n >= 1, array_join(slice(labels, -1, 1), '.'), NULL)"))
          .withColumn("suf2", expr(
            "IF(n >= 2, array_join(slice(labels, -2, 2), '.'), NULL)"))
          .withColumn("suf3", expr(
            "IF(n >= 3, array_join(slice(labels, -3, 3), '.'), NULL)"))
          .withColumn("suf4", expr(
            "IF(n >= 4, array_join(slice(labels, -4, 4), '.'), NULL)"))
          .withColumn("exc", expr("greatest(" + (2 to 4).map(k =>
            s"IF(suf$k IS NOT NULL AND array_contains($rules, " +
              s"concat('!', suf$k)), $k, 0)").mkString(", ") + ")"))
          .withColumn("exact", expr("greatest(" + (1 to 4).map(k =>
            s"IF(suf$k IS NOT NULL AND array_contains($rules, suf$k), " +
              s"$k, 0)").mkString(", ") + ")"))
          .withColumn("wild", expr("greatest(" + (2 to 4).map(k =>
            s"IF(suf${k - 1} IS NOT NULL AND n >= $k AND array_contains(" +
              s"$rules, concat('*.', suf${k - 1})), $k, 0)")
            .mkString(", ") + ")"))
          .withColumn("ps", expr(
            "IF(exc > 0, exc - 1, greatest(exact, wild, 1))"))
          .withColumn("rule_kind", expr(
            "CASE WHEN exc > 0 THEN 'exception' " +
              "WHEN wild > exact THEN 'wildcard' " +
              "WHEN exact > 0 THEN 'exact' ELSE 'default' END"))
          .withColumn("etld1", expr(
            "IF(n > ps, array_join(slice(labels, -(ps + 1), ps + 1), '.'), " +
              "NULL)"))
          .groupBy(col("etld1"))
          .agg(
            count(lit(1)).as("n_pages"),
            countDistinct(col("hostc")).as("n_hosts"),
            countDistinct(col("source")).as("n_sources"),
            min(col("rule_kind")).as("rule_kind"),
            sum(expr("CAST(n > ps + 1 AS BIGINT)")).as("n_deep"))
          .orderBy(col("etld1"))
      },
      Some(s"""WITH d0 AS (SELECT source, doc_id,
         |    ${hostExpr("VARCHAR", "//")} AS host FROM documents),
         |d1 AS (SELECT source, lower(host) AS hostc FROM d0),
         |d2 AS (SELECT source, hostc, string_split(hostc, '.') AS labels,
         |    len(string_split(hostc, '.')) AS n FROM d1),
         |d3 AS (SELECT source, hostc, labels, n,
         |    CASE WHEN n >= 1 THEN array_to_string(labels[n:n], '.') END AS suf1,
         |    CASE WHEN n >= 2 THEN array_to_string(labels[n-1:n], '.') END AS suf2,
         |    CASE WHEN n >= 3 THEN array_to_string(labels[n-2:n], '.') END AS suf3,
         |    CASE WHEN n >= 4 THEN array_to_string(labels[n-3:n], '.') END AS suf4
         |  FROM d2),
         |d4 AS (SELECT source, hostc, labels, n,
         |    greatest(${(2 to 4).map(k =>
              s"CASE WHEN suf$k IS NOT NULL AND list_contains($EtldRulesSql, " +
                s"'!' || suf$k) THEN $k ELSE 0 END").mkString(", ")}) AS exc,
         |    greatest(${(1 to 4).map(k =>
              s"CASE WHEN suf$k IS NOT NULL AND list_contains($EtldRulesSql, " +
                s"suf$k) THEN $k ELSE 0 END").mkString(", ")}) AS exact,
         |    greatest(${(2 to 4).map(k =>
              s"CASE WHEN suf${k - 1} IS NOT NULL AND n >= $k AND " +
                s"list_contains($EtldRulesSql, '*.' || suf${k - 1}) " +
                s"THEN $k ELSE 0 END").mkString(", ")}) AS wild
         |  FROM d3),
         |d5 AS (SELECT source, hostc, labels, n,
         |    CASE WHEN exc > 0 THEN exc - 1
         |      ELSE greatest(exact, wild, 1) END AS ps,
         |    CASE WHEN exc > 0 THEN 'exception'
         |      WHEN wild > exact THEN 'wildcard'
         |      WHEN exact > 0 THEN 'exact' ELSE 'default' END AS rule_kind
         |  FROM d4),
         |d6 AS (SELECT source, hostc, rule_kind, n, ps,
         |    CASE WHEN n > ps
         |      THEN array_to_string(labels[n-ps:n], '.') END AS etld1
         |  FROM d5)
         |SELECT etld1, CAST(count(*) AS BIGINT) AS n_pages,
         |  CAST(count(DISTINCT hostc) AS BIGINT) AS n_hosts,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  min(rule_kind) AS rule_kind,
         |  CAST(sum(CASE WHEN n > ps + 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_deep
         |FROM d6 GROUP BY etld1 ORDER BY etld1""".stripMargin))
  )

  val entries2: Seq[Entry] = Seq(

    // q344: ROBOTS.TXT POLITENESS EVALUATION — the gate every crawl URL
    // passes after canonicalization (q339) and before fetch: RFC 9309
    // longest-match rule resolution — the most specific (longest)
    // matching pattern wins, ALLOW wins ties, unmatched paths default
    // to allow — over an embedded rule sample exercising prefix rules,
    // a suffix-anchored wildcard rule (*.json), an allow carve-out
    // INSIDE a disallowed subtree (/private/pub/ under /private/), and
    // the carve-out-vs-wildcard interaction (a .json under /private/pub/
    // stays allowed: 13 > 6). PURE CATALYST: per-rule prefix/LIKE tests
    // + greatest() specificity fold, one exchange for the per-source
    // rollup; the oracle re-runs the same ALGORITHM in DuckDB.
    Entry(
      "q344_robots_politeness",
      (s, d) => {
        T.documents(s, d)
          .select(col("source"), col("doc_id"),
            expr(pathExpr("STRING", "div")).as("path"))
          // specificity of each matching rule, -1 when unmatched:
          // allow rules and disallow rules folded separately so the
          // allow-wins-ties rule is a single >= comparison
          .withColumn("a_spec", expr(
            "greatest(IF(startswith(path, '/private/pub/'), 13, -1), " +
              "IF(startswith(path, '/'), 1, -1))"))
          .withColumn("d_spec", expr(
            "greatest(IF(startswith(path, '/private/'), 9, -1), " +
              "IF(startswith(path, '/tmp'), 4, -1), " +
              "IF(path LIKE '%.json', 6, -1))"))
          .withColumn("allowed", expr("CAST(a_spec >= d_spec AS BIGINT)"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_urls"),
            sum(col("allowed")).as("n_allowed"),
            sum(expr("1L - allowed")).as("n_blocked"),
            sum(expr("CAST(allowed = 0 AND path LIKE '%.json' AS BIGINT)"))
              .as("n_json_blocked"),
            pmod(sum(expr(
              s"IF(allowed = 0, aggregate(sequence(1, length(path)), 0L, " +
                s"(a, i) -> (a * 131L + ascii(substring(path, i, 1))) " +
                s"% ${P}L), 0L)")), lit(P)).as("blocked_digest"))
          .orderBy(col("source"))
      },
      Some(sql"""WITH p0 AS (SELECT source, ${pathExpr("VARCHAR", "//")} AS path
         |  FROM documents),
         |p1 AS (SELECT source, path,
         |    greatest(CASE WHEN starts_with(path, '/private/pub/')
         |        THEN 13 ELSE -1 END,
         |      CASE WHEN starts_with(path, '/') THEN 1 ELSE -1 END)
         |      AS a_spec,
         |    greatest(CASE WHEN starts_with(path, '/private/')
         |        THEN 9 ELSE -1 END,
         |      CASE WHEN starts_with(path, '/tmp') THEN 4 ELSE -1 END,
         |      CASE WHEN path LIKE '%.json' THEN 6 ELSE -1 END) AS d_spec
         |  FROM p0),
         |p2 AS (SELECT source, path,
         |    CASE WHEN a_spec >= d_spec THEN 1 ELSE 0 END AS allowed
         |  FROM p1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_urls,
         |  CAST(sum(allowed) AS BIGINT) AS n_allowed,
         |  CAST(sum(1 - allowed) AS BIGINT) AS n_blocked,
         |  CAST(sum(CASE WHEN allowed = 0 AND path LIKE '%.json'
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_json_blocked,
         |  CAST(sum(CASE WHEN allowed = 0 THEN
         |      ${charPoly("path")}
         |    ELSE 0 END) % $P AS BIGINT) AS blocked_digest
         |FROM p2 GROUP BY source ORDER BY source"""))
  )

  /** q344 path synthesis: u = doc_id div 2 picks the subtree lane
    * (public / private / the private/pub carve-out / tmp), doc_id % 7
    * appends the .json suffix the wildcard rule targets.
    */
  private[graft] def pathExpr(t: String, dv: String): String = {
    val u = s"(doc_id $dv 2)"
    s"concat(CASE $u % 4 WHEN 0 THEN '/public/p' WHEN 1 THEN '/private/x' " +
      s"WHEN 2 THEN '/private/pub/y' ELSE '/tmp/z' END, " +
      s"CAST($u % 20 AS $t), " +
      s"CASE WHEN doc_id % 7 = 0 THEN '.json' ELSE '' END)"
  }

  /** Shared host synthesis for q342: u = doc_id div 2 makes ids 2k/2k+1
    * two SPELLINGS (case) of one logical host; u % 7 picks the suffix
    * lane (exact / multi-label exact / wildcard / exception / default),
    * u % 3 the subdomain depth, u % 4 the site label.
    */
  private[graft] def hostExpr(t: String, dv: String): String = {
    val u = s"(doc_id $dv 2)"
    s"CASE WHEN doc_id % 2 = 0 THEN upper(h0) ELSE h0 END".replace("h0",
      s"concat(CASE WHEN $u % 3 = 0 THEN 'www.' WHEN $u % 3 = 1 " +
        s"THEN 'a.b.' ELSE '' END, 'site', CAST($u % 4 AS $t), '.', " +
        s"CASE $u % 7 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk' " +
        s"WHEN 2 THEN 'org' WHEN 3 THEN 'github.io' " +
        s"WHEN 4 THEN 'blog.kawasaki.jp' WHEN 5 THEN 'city.kawasaki.jp' " +
        s"ELSE 'example' END)")
  }

  // ONE rule list rendered into both dialects — a rule added to only one
  // side would make engine and oracle diverge on the rule SET rather
  // than the algorithm. defs, not vals: entries is initialized ABOVE
  // these declarations, so a val here would still be null while the
  // oracle string interpolates it.
  private def EtldRules: Seq[String] = Seq("com", "org", "net", "uk",
    "co.uk", "ac.uk", "jp", "github.io", "io", "*.kawasaki.jp",
    "!city.kawasaki.jp")
  private def EtldRulesSpark: String =
    EtldRules.map(r => s"'$r'").mkString("array(", ",", ")")
  private def EtldRulesSql: String =
    EtldRules.map(r => s"'$r'").mkString("[", ",", "]")
}
