package graft.operators

import graft.Tables
import graft.queries.Entry
import graft.queries.OracleSql._
import graft.sources.Artifacts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed clustering over the embedding corpus.
  *
  * The production shape this models: Lloyd's k-means over billions of
  * embedding vectors is THE workhorse of training-data curation — SemDeDup
  * (q147) needs cluster assignments, IVF (q109) needs a codebook,
  * DSIR-style domain balancing needs per-cluster counts. At 100 TB the
  * algorithm is embarrassingly Spark-shaped: the k centroids broadcast
  * (k·dim ≪ executor memory), assignment is a map-side argmin over the
  * broadcast table, and the centroid update is one partial-aggregated
  * shuffle keyed on (cluster, dimension) — nothing corpus-sized ever
  * crosses the wire. Each round's driver barrier materializes ONLY the
  * k-row centroid table (localCheckpoint — the q120 discipline), never an
  * assignment.
  *
  * Everything runs in FIXED-POINT micro-units (round(x·10⁶) as long) so
  * distances, argmins, and centroid means are integer-exact and therefore
  * bit-identical in any summation order — which is what makes an exact
  * cross-engine oracle possible at all (float k-means is reduction-order
  * sensitive; the oracle proves the integer plan, and the float production
  * variant is the same plan with the cast dropped). Magnitudes: |comp| ≤
  * ~5.3·10⁵ µu, so a 64-dim squared distance ≤ ~7·10¹³ and corpus inertia
  * ≤ ~10¹⁷ — comfortably inside int64, and inside double's 2^53 integer
  * range for the oracle's dot-product formulation.
  */
object Clustering {

  private val T = Tables

  private val K = 8
  private val Rounds = 3
  private val Dim = 64

  /** Fixed-point micro-unit quantization of the embedding column. The float
    * component is widened to double FIRST (exact), multiplied in double
    * (IEEE-identical in DuckDB), then half-away-from-zero rounded — the
    * q190 cents discipline applied per dimension.
    */
  private def quantized(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d).select(
      col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("v"))

  /** Shared DuckDB oracle fragments for the Lloyd recursion: quantized
    * points with norm, one assignment round, one update round. DuckDB's
    * list_dot_product runs in double — exact here because every value stays
    * below 2^53.
    */
  private def oracleAsg(c: String, a: String, pts: String = "q"): String =
    s"""$a AS (
       |  SELECT vec_id, v, vd, qq, cid, dist FROM (
       |    SELECT e.vec_id, e.v, e.vd, e.qq, c.cid,
       |      CAST(e.qq + list_dot_product(c.cvd, c.cvd)
       |           - 2 * list_dot_product(e.vd, c.cvd) AS BIGINT) AS dist,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY CAST(e.qq + list_dot_product(c.cvd, c.cvd)
       |           - 2 * list_dot_product(e.vd, c.cvd) AS BIGINT), c.cid) AS rn
       |    FROM $pts e CROSS JOIN $c c) WHERE rn = 1)""".stripMargin

  private def oracleUpd(prev: String, a: String, c: String): String =
    s"""${c}_u AS (
       |  SELECT cid, list(comp ORDER BY i) AS v FROM (
       |    SELECT t.cid, r.i, CAST(sum(t.v[r.i]) AS BIGINT) // count(*) AS comp
       |    FROM $a t, range(1, ${Dim + 1}) r(i) GROUP BY t.cid, r.i) GROUP BY cid),
       |$c AS (
       |  SELECT p.cid, coalesce(u.v, p.v) AS v,
       |    CAST(coalesce(u.v, p.v) AS DOUBLE[]) AS cvd
       |  FROM $prev p LEFT JOIN ${c}_u u USING (cid))""".stripMargin

  /** The full 3-round Lloyd CTE chain (`q`, `c0`, `a1`..`c3`) both
    * clustering oracles share — q196 reads the final stats, q202 assigns a
    * re-keyed batch against `c3`.
    */
  private def oracleLloydChain: String =
    s"""q AS (
       |  SELECT vec_id,
       |    [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) for x in embedding] AS v,
       |    [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS DOUBLE) for x in embedding] AS vd,
       |    list_dot_product(
       |      [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS DOUBLE) for x in embedding],
       |      [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS DOUBLE) for x in embedding]) AS qq
       |  FROM embeddings),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
       |    v, CAST(v AS DOUBLE[]) AS cvd
       |  FROM q ORDER BY vec_id LIMIT $K),
       |${oracleAsg("c0", "a1")},
       |${oracleUpd("c0", "a1", "c1")},
       |${oracleAsg("c1", "a2")},
       |${oracleUpd("c1", "a2", "c2")},
       |${oracleAsg("c2", "a3")},
       |${oracleUpd("c2", "a3", "c3")}""".stripMargin

  /** One Lloyd round: map-side argmin against the broadcast k-row centroid
    * table, then one (cluster, dimension)-keyed aggregate rebuilds the
    * centroids. Component mean is TRUNCATING integer division (Spark `div`
    * ≡ DuckDB `//`), ties in the argmin break to the lowest cluster id, and
    * a cluster that loses every point keeps its previous centroid
    * (left-join + coalesce) — every branch deterministic, so the oracle
    * can replay the identical recursion.
    */
  private def assign(points: DataFrame, centroids: DataFrame): DataFrame = {
    // native codegen kernel (VectorOps.l2sqLong) — the interpreted
    // aggregate(zip_with(...)) HOF pair allocates an intermediate array
    // per point·centroid and falls out of whole-stage codegen
    val dist = graft.functions.GraftColumns.kernel("l2sq_long", col("v"), col("cv"))
    val scored = points
      .crossJoin(broadcast(centroids.select(col("cid"), col("v").as("cv"))))
      .withColumn("dist", dist)
      .drop("cv")
    scored
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** The Lloyd recursion: quantize once, seed from the k lowest vec_ids
    * (TakeOrdered k rows FIRST, then the row_number window runs over k rows
    * only — never a corpus-sized unpartitioned window), then
    * assign/update `rounds` times materializing ONLY the k-row centroid
    * table per round. Returns (final assignment, final centroids).
    */
  private[graft] def run(
      s: SparkSession, d: String, rounds: Int): (DataFrame, DataFrame) = {
    val pts = quantized(s, d).localCheckpoint() // consumed once per round
    val init = pts
      .orderBy(col("vec_id"))
      .limit(K)
      .withColumn("rn", row_number().over(Window.orderBy(col("vec_id"))))
      .select((col("rn") - 1).cast("long").as("cid"), col("v"))
      .localCheckpoint()
    (1 to rounds).foldLeft((Option.empty[DataFrame], init)) { case ((_, c), _) =>
      val a = assign(pts, c)
      (Some(a), update(a, c).localCheckpoint())
    } match { case (a, c) => (a.get, c) }
  }

  /** Exact inertia of the FINAL assignment after `rounds` Lloyd rounds —
    * the suite's monotonicity probe ONLY (never on a registered query
    * path; the action is a 1-row aggregate).
    */
  private[graft] def inertiaAfter(s: SparkSession, d: String, rounds: Int): Long =
    run(s, d, rounds)._1.agg(sum(col("dist"))).head().getLong(0)

  private def update(assigned: DataFrame, centroids: DataFrame): DataFrame = {
    val comps = assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i"))
      .agg(expr("sum(x) div count(1)").as("comp"))
    val rebuilt = comps
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(i, comp))), s -> s.comp)").as("nv"))
    centroids
      .join(rebuilt, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("nv"), col("v")).as("v"))
  }

  /** vec_id re-keys of the scored batch in q202 (serve), q204 (update) and
    * q205 (stream). Constants, so `entries` can read them while the
    * object initializes: a plain val declared below `entries` still reads
    * 0 there, which the oracle SQL would embed. The offset cannot reach
    * any of the three outputs: vec_id only keys the per-vector argmin
    * (every id stays distinct) and q205's parity split (the offsets are
    * even), and no output column carries it.
    */
  private[graft] final val batchIdOffset = 10000000L
  private[graft] final val updBatchIdOffset = 20000000L
  private[graft] final val streamBatchIdOffset = 30000000L

  val entries: Seq[Entry] = Seq(
    // q196: K-MEANS (Lloyd, k=8, 3 rounds) over the embedding corpus in
    // exact fixed-point. Init = the k lowest vec_ids (deterministic, the
    // standard "first k" seeding both engines share). Per round only the
    // 8-row centroid table is materialized; the final round's assignment
    // feeds per-cluster size + inertia. The oracle replays the identical
    // recursion in DuckDB using the |q|²+|c|²−2q·c expansion over double
    // dot products (exact: all intermediates < 2^53) — two independent
    // distance formulations agreeing per round is the correctness proof.
    Entry(
      "q196_kmeans",
      (s, d) => {
        val (lastAssign, centroids) = run(s, d, Rounds)
        val stats = lastAssign
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("inertia"))
        stats
          .join(centroids, Seq("cid"))
          .select(
            col("cid"),
            col("n_points"),
            col("inertia"),
            element_at(col("v"), 1).as("c1"),
            element_at(col("v"), 2).as("c2"),
            element_at(col("v"), 3).as("c3"),
            element_at(col("v"), 4).as("c4"),
            aggregate(col("v"), lit(0L), (acc: Column, x: Column) => acc + x).as("csum"))
          .orderBy(col("cid"))
      },
      Some {
        s"""WITH $oracleLloydChain
           |SELECT s.cid, s.n_points, s.inertia,
           |  c.v[1] AS c1, c.v[2] AS c2, c.v[3] AS c3, c.v[4] AS c4,
           |  CAST(list_aggregate(c.v, 'sum') AS BIGINT) AS csum
           |FROM (SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
           |        CAST(sum(dist) AS BIGINT) AS inertia FROM a3 GROUP BY cid) s
           |JOIN c3 c USING (cid) ORDER BY cid""".stripMargin
      }),

    // q199: FARTHEST-FIRST TRAVERSAL (greedy k-center, Gonzalez '85) —
    // the deterministic seeding/diversity-sampling primitive: pick the
    // min-vec_id point, then 7× pick the point FARTHEST from the chosen
    // set (exact integer distance, ties to the lowest vec_id). This is
    // the 2-approximation to k-center and the standard "maximally
    // diverse exemplars" selector for curation and k-means seeding. The
    // distributed shape: per round, ONE new center broadcasts (1 row),
    // the per-point running min-distance updates map-side, and the only
    // shuffles are the 1-row TakeOrdered argmax + max-radius aggregate —
    // the O(n) state table materializes once per round (localCheckpoint,
    // 8 rounds), nothing corpus-sized shuffles. Output per step: the
    // picked center, its distance to the prior set (pick_dist — the
    // coverage radius BEFORE the pick), and the corpus max-min-distance
    // AFTER the pick (radius_after, the k-center objective). pick_dist
    // is non-increasing and radius_after(t) = pick_dist(t+1) by
    // construction — both suite-asserted; the oracle replays the
    // identical greedy recursion in DuckDB.
    Entry(
      "q199_kcenter_seed",
      (s, d) => {
        import org.apache.spark.sql.DataFrame
        val dist2 = (vcol: Column, ccol: Column) =>
          graft.functions.GraftColumns.kernel("l2sq_long", vcol, ccol)
        val pts = quantized(s, d).localCheckpoint()
        val c0 = pts.orderBy(col("vec_id")).limit(1).localCheckpoint()
        val s0 = pts
          .crossJoin(broadcast(c0.select(col("v").as("cv"))))
          .withColumn("dmin", dist2(col("v"), col("cv")))
          .drop("cv")
          .localCheckpoint()
        val r0 = c0
          .select(lit(0L).as("step"), col("vec_id").as("center_id"),
            lit(0L).as("pick_dist"))
          .crossJoin(broadcast(s0.agg(max(col("dmin")).as("radius_after"))))
        val (rows, _) = (1 until K).foldLeft((Seq(r0), s0)) {
          case ((acc, state), t) =>
            val pick = state
              .orderBy(col("dmin").desc, col("vec_id"))
              .limit(1)
              .localCheckpoint() // two consumers: output row + broadcast update
            val next = state
              .crossJoin(broadcast(pick.select(col("v").as("pv"))))
              .withColumn("dmin", least(col("dmin"), dist2(col("v"), col("pv"))))
              .drop("pv")
              .localCheckpoint()
            val row = pick
              .select(lit(t.toLong).as("step"), col("vec_id").as("center_id"),
                col("dmin").as("pick_dist"))
              .crossJoin(broadcast(next.agg(max(col("dmin")).as("radius_after"))))
            (acc :+ row, next)
        }
        rows.reduce((a: DataFrame, b: DataFrame) => a.unionAll(b)).orderBy(col("step"))
      },
      Some {
        def pick(prev: String, p: String): String =
          s"""$p AS (SELECT vec_id, vd, qq, dmin FROM $prev
             |  ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
        def updStep(prev: String, p: String, sN: String): String =
          s"""$sN AS (SELECT s.vec_id, s.vd, s.qq,
             |  least(s.dmin, CAST(s.qq + p.qq
             |    - 2 * list_dot_product(s.vd, p.vd) AS BIGINT)) AS dmin
             |  FROM $prev s CROSS JOIN $p p)""".stripMargin
        def rowStep(t: Int, p: String, sN: String): String =
          s"""r$t AS (SELECT CAST($t AS BIGINT) AS step, p.vec_id AS center_id,
             |  p.dmin AS pick_dist,
             |  (SELECT max(dmin) FROM $sN) AS radius_after FROM $p p)""".stripMargin
        val steps = (1 until K).map { t =>
          Seq(pick(s"s${t - 1}", s"p$t"), updStep(s"s${t - 1}", s"p$t", s"s$t"),
            rowStep(t, s"p$t", s"s$t")).mkString(",\n")
        }.mkString(",\n")
        val unions = (0 until K).map(t => s"SELECT * FROM r$t").mkString(" UNION ALL ")
        s"""WITH q AS (
           |  SELECT vec_id,
           |    [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS DOUBLE) for x in embedding] AS vd,
           |    list_dot_product(
           |      [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS DOUBLE) for x in embedding],
           |      [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS DOUBLE) for x in embedding]) AS qq
           |  FROM embeddings),
           |c0 AS (SELECT * FROM q ORDER BY vec_id LIMIT 1),
           |s0 AS (SELECT s.vec_id, s.vd, s.qq,
           |  CAST(s.qq + c.qq - 2 * list_dot_product(s.vd, c.vd) AS BIGINT) AS dmin
           |  FROM q s CROSS JOIN c0 c),
           |r0 AS (SELECT CAST(0 AS BIGINT) AS step, c.vec_id AS center_id,
           |  CAST(0 AS BIGINT) AS pick_dist,
           |  (SELECT max(dmin) FROM s0) AS radius_after FROM c0 c),
           |$steps
           |SELECT step, center_id, pick_dist, radius_after
           |FROM ($unions) ORDER BY step""".stripMargin
      }),

    // q200: EMBEDDING DIMENSION QC — the pre-indexing health report every
    // embedding corpus gets before ANN/clustering trusts it: per
    // dimension, n/mean/min/max, the EXACT variance numerator n·Σx²−(Σx)²
    // (catches dead/collapsed dimensions: var_num = 0), and the count of
    // z-outliers via the all-integer identity z² > 16 ⟺ (x·n − S)² >
    // 16·(n·Q − S²) — no division, no sqrt, no float compare anywhere.
    // Milli-unit quantization (round(x·10³)) keeps every intermediate
    // inside int64 out to ~10⁶ vectors per stat group; past that the same
    // plan runs on Decimal(38). Two passes by design: pass 1 aggregates
    // the 64-row stat table, pass 2 re-scans the (columnar, cheap) source
    // and joins the BROADCAST stats — materializing the 64×-exploded
    // corpus to save a parquet re-scan would be the wrong trade at 100 TB.
    Entry(
      "q200_embedding_dim_qc",
      (s, d) => {
        def expl = T.embeddings(s, d).select(
          posexplode(transform(
            col("embedding"),
            x => round(x.cast("double") * 1e3).cast("long"))).as(Seq("i", "x")))
        val stats = expl
          .groupBy(col("i"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("x")).as("s"),
            sum(col("x") * col("x")).as("q"),
            min(col("x")).as("min_mu"),
            max(col("x")).as("max_mu"))
          .withColumn("var_num", col("n") * col("q") - col("s") * col("s"))
          .localCheckpoint() // 64 rows; two consumers (join + output)
        val outliers = expl
          .join(broadcast(stats.select(col("i"), col("n"), col("s"), col("var_num"))), Seq("i"))
          .filter((col("x") * col("n") - col("s")) * (col("x") * col("n") - col("s"))
            > lit(16L) * col("var_num"))
          .groupBy(col("i")).agg(count(lit(1)).as("n_outliers"))
        stats
          .join(outliers, Seq("i"), "left")
          .select(
            (col("i") + 1).cast("long").as("dim"),
            col("n"),
            expr("s div n").as("mean_mu"),
            col("min_mu"), col("max_mu"), col("var_num"),
            (col("var_num") === 0L).as("is_dead"),
            coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
          .orderBy(col("dim"))
      },
      Some("""WITH e AS (SELECT r.i,
             |    CAST(round(CAST(embedding[r.i] AS DOUBLE) * 1000.0) AS BIGINT) AS x
             |  FROM embeddings, range(1, 65) r(i)),
             |st AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(x) AS BIGINT) AS s,
             |    CAST(sum(x * x) AS BIGINT) AS q,
             |    min(x) AS min_mu, max(x) AS max_mu
             |  FROM e GROUP BY i),
             |v AS (SELECT *, n * q - s * s AS var_num FROM st),
             |o AS (SELECT e.i, CAST(count(*) AS BIGINT) AS n_outliers
             |  FROM e JOIN v USING (i)
             |  WHERE (e.x * v.n - v.s) * (e.x * v.n - v.s) > 16 * v.var_num
             |  GROUP BY e.i)
             |SELECT CAST(v.i AS BIGINT) AS dim, v.n, v.s // v.n AS mean_mu,
             |  v.min_mu, v.max_mu, v.var_num,
             |  v.var_num = 0 AS is_dead,
             |  coalesce(o.n_outliers, 0) AS n_outliers
             |FROM v LEFT JOIN o USING (i) ORDER BY dim""".stripMargin)),

    // q202: PERSISTED K-MEANS MODEL — PUBLISH + SERVE. The lifecycle verb
    // the clustering family needs to be usable (the q131/q108 pattern
    // applied to the centroid model): training (q196's 3 Lloyd rounds)
    // runs ONCE and the k-row centroid table publishes as an atomic
    // generational artifact; scoring a new batch is then a map-side
    // argmin against the ~kB model read from the artifact — NO
    // re-clustering, NO corpus re-scan (suite-pinned: the served plan
    // scans embeddings.parquet exactly once — the batch — plus the model
    // dir). Batch = the corpus re-keyed +10M (the q132 fixture
    // discipline: every batch vector has a known nearest centroid the
    // oracle can recompute). Output: per-cluster batch counts + exact
    // inertia/min/max distance. The oracle retrains from scratch and
    // re-scores — artifact-served equals recomputed-from-corpus, which is
    // the whole claim of a model artifact.
    Entry(
      "q202_kmeans_publish_serve",
      (s, d) => {
        val gen = modelEnsure(s, d)
        val model = s.read.parquet(s"$gen/model") // k rows: (cid, v)
        val batch = quantized(s, d)
          .select((col("vec_id") + batchIdOffset).as("vec_id"), col("v"))
        val scored = batch
          .crossJoin(broadcast(model.select(col("cid"), col("v").as("cv"))))
          .withColumn("dist", graft.functions.GraftColumns.kernel("l2sq_long", col("v"), col("cv")))
          .withColumn(
            "rn",
            row_number().over(Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))))
          .filter(col("rn") === 1)
        scored
          .groupBy(col("cid"))
          .agg(
            count(lit(1)).as("n_batch"),
            sum(col("dist")).as("batch_inertia"),
            min(col("dist")).as("min_dist"),
            max(col("dist")).as("max_dist"))
          .orderBy(col("cid"))
      },
      Some {
        s"""WITH $oracleLloydChain,
           |batch AS (SELECT vec_id + $batchIdOffset AS vec_id, v, vd, qq FROM q),
           |${oracleAsg("c3", "served", "batch")}
           |SELECT cid, CAST(count(*) AS BIGINT) AS n_batch,
           |  CAST(sum(dist) AS BIGINT) AS batch_inertia,
           |  min(dist) AS min_dist, max(dist) AS max_dist
           |FROM served GROUP BY cid ORDER BY cid""".stripMargin
      }),

    // q203: DBSCAN over the embedding corpus — DENSITY clustering, the
    // complement k-means can't give (k-means forces every point into a
    // ball; DBSCAN finds arbitrary-shape dense regions AND names the
    // noise). Neighborhood = cosine ≥ 0.4 (q39's verified exact
    // grid-blocked theta-join REUSED as the ε-neighborhood — never an
    // all-pairs join); core = ≥3 neighbors; clusters = min-label
    // components over CORE-CORE edges (the q87 pointer-jumping loop over
    // a checkpointed bounded edge set); border = non-core with a core
    // neighbor, assigned the MIN core-neighbor cluster (classic DBSCAN
    // border assignment is arrival-order-dependent — the min rule makes
    // it deterministic and oracle-checkable); rest = noise (cluster −1).
    // Output: per-cluster core/border counts + the noise row. The oracle
    // recomputes everything from brute-force pairs with a recursive-CTE
    // closure — agreement proves the pruned neighbor join and the
    // iterative labeling lose nothing.
    Entry(
      "q203_dbscan",
      (s, d) => {
        val pairs = Dedup.embeddingNeardup(s, d)
          .select(col("a_id"), col("b_id"))
          .localCheckpoint() // consumers: degree, core-core edges, border join
        val sym = pairs
          .select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("dg"))
        val core = deg.filter(col("dg") >= 3).select(col("id")).localCheckpoint()
        val coreEdges = sym
          .join(core.select(col("id").as("src")), Seq("src"))
          .join(core.select(col("id").as("dst")), Seq("dst"))
          .localCheckpoint()
        val comp = minLabelComponents(s, core, coreEdges) // (node, label)
        val border = sym
          .join(core.select(col("id").as("dst")), Seq("dst")) // core neighbor
          .join(comp.select(col("node").as("dst"), col("label")), Seq("dst"))
          .join(core.select(col("id").as("src")), Seq("src"), "left_anti") // src NOT core
          .groupBy(col("src").as("node"))
          .agg(min(col("label")).as("label"))
        val coreStats = comp.groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_core"))
        val bordStats = border.groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_border"))
        val clusters = coreStats
          .join(bordStats, Seq("cluster_id"), "left_outer")
          .select(col("cluster_id"), col("n_core"),
            coalesce(col("n_border"), lit(0L)).as("n_border"))
          .withColumn("n_points", col("n_core") + col("n_border"))
        val total = T.embeddings(s, d).agg(count(lit(1)).as("n_total"))
        val clustered = clusters.agg(
          coalesce(sum(col("n_points")), lit(0L)).as("n_clustered"))
        val noise = total
          .crossJoin(broadcast(clustered))
          .select(
            lit(-1L).as("cluster_id"),
            lit(0L).as("n_core"),
            lit(0L).as("n_border"),
            (col("n_total") - col("n_clustered")).as("n_points"))
        clusters
          .select(col("cluster_id"), col("n_core"), col("n_border"), col("n_points"))
          .unionByName(noise)
          .orderBy(col("cluster_id"))
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT a.vec_id AS a, b.vec_id AS b FROM e a JOIN e b
             |  ON a.vec_id < b.vec_id
             |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
             |sym AS (SELECT a AS src, b AS dst FROM p
             |  UNION ALL SELECT b, a FROM p),
             |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS dg
             |  FROM sym GROUP BY 1),
             |core AS (SELECT id FROM deg WHERE dg >= 3),
             |ce AS (SELECT s.src, s.dst FROM sym s
             |  JOIN core c1 ON s.src = c1.id JOIN core c2 ON s.dst = c2.id),
             |reach(id, lbl) AS (
             |  SELECT id, id FROM core
             |  UNION
             |  SELECT ce.src, r.lbl FROM ce JOIN reach r ON r.id = ce.dst),
             |comp AS (SELECT id, min(lbl) AS label FROM reach GROUP BY id),
             |bord AS (SELECT s.src AS id, min(comp.label) AS label
             |  FROM sym s JOIN core c2 ON s.dst = c2.id
             |  JOIN comp ON comp.id = s.dst
             |  WHERE s.src NOT IN (SELECT id FROM core) GROUP BY 1),
             |cs AS (SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS n_core
             |  FROM comp GROUP BY 1),
             |bs AS (SELECT label AS cluster_id, CAST(count(*) AS BIGINT) AS n_border
             |  FROM bord GROUP BY 1),
             |cl AS (SELECT cs.cluster_id, cs.n_core,
             |    coalesce(bs.n_border, 0) AS n_border,
             |    cs.n_core + coalesce(bs.n_border, 0) AS n_points
             |  FROM cs LEFT JOIN bs USING (cluster_id)),
             |noise AS (SELECT CAST(-1 AS BIGINT) AS cluster_id,
             |    CAST(0 AS BIGINT) AS n_core, CAST(0 AS BIGINT) AS n_border,
             |    (SELECT count(*) FROM e)
             |      - coalesce((SELECT sum(n_points) FROM cl), 0) AS n_points)
             |SELECT cluster_id, n_core, n_border, CAST(n_points AS BIGINT) AS n_points
             |FROM (SELECT * FROM cl UNION ALL SELECT * FROM noise)
             |ORDER BY cluster_id""".stripMargin)),

    // q204: K-MEANS MODEL UPDATE — the incremental fold-in verb
    // (mini-batch k-means, Sculley '10 shape): an arriving batch is
    // assigned against the CURRENT centroids, then each centroid moves to
    // the count-weighted mean new_c = (old_c·n_old + Σ_batch) div
    // (n_old + n_batch) — exact integer arithmetic, no re-clustering of
    // history (the model stores per-cluster sizes for exactly this). The
    // updated model publishes as a FRESH generation (gen-upd-1 — the
    // q126 no-in-place-rewrite rule) on the update lifecycle's OWN root,
    // so q202's serve root stays pristine; redelivery is a no-op by
    // committed-check (manifest already past gen-base ⇒ skip). The
    // report reads BOTH generations back through their artifacts: per
    // cluster n_old/n_batch/n_new + exact integer centroid drift
    // (l2sq_long(old, new)). Oracle: retrain, re-assign the +20M batch,
    // re-fold — artifact math equals recomputed math.
    Entry(
      "q204_kmeans_update",
      (s, d) => {
        val root = graft.sources.Sources.scratch(d, "kmeans_model_upd")
        val cur = modelEnsureAt(s, d, root)
        val upd = if (!cur.endsWith("gen-base")) cur else {
          val model = s.read.parquet(s"$cur/model").localCheckpoint()
          val batch = quantized(s, d)
            .select((col("vec_id") + updBatchIdOffset).as("vec_id"), col("v"))
          val asg = assign(batch, model.select(col("cid"), col("v")))
            .localCheckpoint() // two consumers: per-dim sums + counts
          val bn = asg.groupBy(col("cid")).agg(count(lit(1)).as("bn"))
          val bs = asg
            .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
            .groupBy(col("cid"), col("i")).agg(sum(col("x")).as("sx"))
            .groupBy(col("cid"))
            .agg(expr("transform(array_sort(collect_list(struct(i, sx))), s -> s.sx)").as("bs"))
          Artifacts.publish(s, root, "gen-upd-1")("model" -> model
            .join(bn, Seq("cid"), "left_outer")
            .join(bs, Seq("cid"), "left_outer")
            .withColumn("nn", col("n") + coalesce(col("bn"), lit(0L)))
            .select(
              col("cid"),
              when(col("bn").isNull || col("nn") === 0L, col("v"))
                .otherwise(expr("zip_with(v, bs, (a, b) -> (a * n + b) div nn)"))
                .as("v"),
              col("nn").as("n")))
        }
        val base = s.read.parquet(s"$root/gen-base/model")
          .select(col("cid"), col("v").as("v_old"), col("n").as("n_old"))
        base
          .join(s.read.parquet(s"$upd/model")
            .select(col("cid"), col("v").as("v_new"), col("n").as("n_new")), Seq("cid"))
          .select(
            col("cid"),
            col("n_old"),
            (col("n_new") - col("n_old")).as("n_batch"),
            col("n_new"),
            graft.functions.GraftColumns.kernel("l2sq_long", col("v_old"), col("v_new")).as("drift"),
            element_at(col("v_new"), 1).as("c1_new"))
          .orderBy(col("cid"))
      },
      Some {
        s"""WITH $oracleLloydChain,
           |sizes AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM a3 GROUP BY cid),
           |base AS (SELECT c3.cid, c3.v, c3.cvd, coalesce(sizes.n, 0) AS n
           |  FROM c3 LEFT JOIN sizes USING (cid)),
           |batch AS (SELECT vec_id + $updBatchIdOffset AS vec_id, v, vd, qq FROM q),
           |${oracleAsg("base", "bas", "batch")},
           |bsum AS (SELECT t.cid, r.i, CAST(sum(t.v[r.i]) AS BIGINT) AS sx
           |  FROM bas t, range(1, ${Dim + 1}) r(i) GROUP BY t.cid, r.i),
           |bn AS (SELECT cid, CAST(count(*) AS BIGINT) AS bn FROM bas GROUP BY cid),
           |uc AS (SELECT b.cid, r.i, b.v[r.i] AS oldc,
           |    CASE WHEN x.bn IS NULL OR b.n + coalesce(x.bn, 0) = 0
           |      THEN b.v[r.i]
           |      ELSE (b.v[r.i] * b.n + coalesce(s.sx, 0))
           |        // (b.n + coalesce(x.bn, 0)) END AS comp
           |  FROM base b CROSS JOIN range(1, ${Dim + 1}) r(i)
           |  LEFT JOIN bsum s ON s.cid = b.cid AND s.i = r.i
           |  LEFT JOIN bn x ON x.cid = b.cid)
           |SELECT b.cid, b.n AS n_old, coalesce(x.bn, 0) AS n_batch,
           |  b.n + coalesce(x.bn, 0) AS n_new,
           |  (SELECT CAST(sum((oldc - comp) * (oldc - comp)) AS BIGINT)
           |     FROM uc WHERE uc.cid = b.cid) AS drift,
           |  (SELECT comp FROM uc WHERE uc.cid = b.cid AND uc.i = 1) AS c1_new
           |FROM base b LEFT JOIN bn x ON x.cid = b.cid ORDER BY b.cid""".stripMargin
      }),

    // q205: STREAMING MODEL INFERENCE — the q202 serve deployed on the
    // live stream (the q139/q176 pattern: batch operator → foreachBatch
    // epoch): embedding chunks arrive as files, each micro-batch scores
    // against the BROADCAST persisted model (no corpus scan, no model
    // mutation), and per-epoch per-cluster counts land in content-keyed
    // Overwrite dirs so a redelivered chunk rewrites identical bytes —
    // exactly-once accounting without a transaction log. The final
    // report aggregates across epochs; the oracle scores the whole
    // re-keyed corpus in one shot against the retrained centroids —
    // chunk-order invariance is structural (assignment is per-row).
    Entry(
      "q205_stream_cluster_assign",
      (s, d) => streamAssign(s, d),
      Some {
        s"""WITH $oracleLloydChain,
           |batch AS (SELECT vec_id + $streamBatchIdOffset AS vec_id, v, vd, qq
           |  FROM q),
           |${oracleAsg("c3", "served", "batch")}
           |SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned,
           |  TRUE AS multi_epoch_ok
           |FROM served GROUP BY cid ORDER BY cid""".stripMargin
      }),

    // q208: DAVIES-BOULDIN CLUSTER QUALITY (squared-distance variant) —
    // the "is k right / did clustering collapse" diagnostic consumed
    // before anyone trusts q196's assignment: per cluster the scatter
    // S_i = inertia_i/n_i vs the separation M_ij = ‖c_i−c_j‖², worst-case
    // ratio max_j (S_i+S_j)/M_ij per cluster, and the index = mean of the
    // worst ratios (lower = tighter/better-separated). Squared distances
    // keep every numerator an exact int64 (the classic sqrt form would
    // put a reduction-order-sensitive mean-of-sqrts in the pipeline);
    // ratios are single IEEE divisions of exact longs, the max is a
    // deterministic double compare with a j tie-break, and only the
    // final 8-term mean is rounded (1e-6). Plan: q196's recursion + an
    // 8×8 broadcast pair matrix — nothing corpus-sized beyond the
    // training pass itself.
    Entry(
      "q208_davies_bouldin",
      (s, d) => {
        val (lastAssign, centroids) = run(s, d, Rounds)
        val stats = lastAssign
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("inertia"))
          .join(centroids, Seq("cid"))
          .localCheckpoint() // 8 rows; consumers: both pair sides + output
        val a = stats.select(col("cid"), col("n_points").as("na"),
          col("inertia").as("ia"), col("v").as("va"))
        val b = stats.select(col("cid").as("cj"), col("n_points").as("nb"),
          col("inertia").as("ib"), col("v").as("vb"))
        val pairs = a
          .crossJoin(broadcast(b))
          .filter(col("cid") =!= col("cj"))
          .withColumn("m", graft.functions.GraftColumns.kernel("l2sq_long", col("va"), col("vb")))
          .withColumn(
            "ratio",
            (col("ia").cast("double") / col("na").cast("double")
              + col("ib").cast("double") / col("nb").cast("double"))
              / col("m").cast("double"))
        val worst = pairs
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("cid")).orderBy(col("ratio").desc, col("cj"))))
          .filter(col("rn") === 1)
          .select(col("cid"), col("cj").as("worst_j"),
            round(col("ratio"), 6).as("worst_ratio"), col("ratio"))
        val db = worst.agg(round(avg(col("ratio")), 6).as("db_index"))
        stats
          .select(col("cid"), col("n_points"), col("inertia"))
          .join(worst.select(col("cid"), col("worst_j"), col("worst_ratio")), Seq("cid"))
          .crossJoin(broadcast(db))
          .orderBy(col("cid"))
      },
      Some {
        s"""WITH $oracleLloydChain,
           |st AS (SELECT s.cid, s.n_points, s.inertia, c.v, c.cvd
           |  FROM (SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
           |          CAST(sum(dist) AS BIGINT) AS inertia FROM a3 GROUP BY cid) s
           |  JOIN c3 c USING (cid)),
           |pr AS (SELECT a.cid, b.cid AS cj, a.n_points AS na, a.inertia AS ia,
           |    b.n_points AS nb, b.inertia AS ib,
           |    CAST(list_dot_product(a.cvd, a.cvd) + list_dot_product(b.cvd, b.cvd)
           |      - 2 * list_dot_product(a.cvd, b.cvd) AS BIGINT) AS m
           |  FROM st a CROSS JOIN st b WHERE a.cid <> b.cid),
           |rt AS (SELECT cid, cj,
           |    (CAST(ia AS DOUBLE) / CAST(na AS DOUBLE)
           |     + CAST(ib AS DOUBLE) / CAST(nb AS DOUBLE)) / CAST(m AS DOUBLE)
           |      AS ratio FROM pr),
           |w AS (SELECT cid, cj AS worst_j, round(ratio, 6) AS worst_ratio, ratio,
           |    row_number() OVER (PARTITION BY cid ORDER BY ratio DESC, cj) AS rn
           |  FROM rt),
           |w1 AS (SELECT cid, worst_j, worst_ratio, ratio FROM w WHERE rn = 1),
           |db AS (SELECT round(avg(ratio), 6) AS db_index FROM w1)
           |SELECT st.cid, st.n_points, st.inertia, w1.worst_j, w1.worst_ratio,
           |  db.db_index
           |FROM st JOIN w1 USING (cid) CROSS JOIN db ORDER BY st.cid""".stripMargin
      }),

    // q222: DOMINANT PRINCIPAL DIRECTION BY POWER ITERATION — the linear-
    // algebra primitive under PCA whitening, spectral outlier checks, and
    // "is this embedding space collapsing to one axis" QC, built from the
    // engine's own verbs with NO floating-point drift anywhere: the 64×64
    // uncentered Gram matrix is an exact int64 aggregate over the micro-
    // unit vectors (scaled div 2^0→1e6 after summing so the iteration
    // stays in range — |C'|≤5e10 at sf0.1, y = C'x ≤ 64·5e10·1e6 ≈ 3e18
    // < 2^63; past sf1 the same plan runs on Decimal(38)); each of the 10
    // iterations is y = C'x (a 4096-row broadcast-scale join), then an
    // INTEGER renormalization x' = y div max(|y|) scaled to micro-units —
    // truncating division is identical in both engines, so the iterate is
    // bit-reproducible, sign convention included. Plan: ONE corpus-sized
    // stage (the Gram aggregate: posexplode² → 4096-key partial-agg
    // shuffle; at 100 TB this is the map-side-combine pattern — 4096
    // accumulators per task, nothing corpus-sized ever exchanges); the
    // iteration touches only 64/4096-row tables (per-round
    // localCheckpoint, the q87/q196 fixed-point discipline). The 1-row
    // max(|y|) head() per round is the adaptiveBandSalt plan-knob idiom.
    Entry(
      "q222_power_iteration",
      (s, d) => {
        val cs = quantized(s, d)
          .select(posexplode(col("v")).as(Seq("i", "vi")), col("v"))
          .select(col("i"), col("vi"), posexplode(col("v")).as(Seq("j", "vj")))
          .groupBy(col("i"), col("j"))
          .agg(sum(col("vi") * col("vj")).as("c"))
          .withColumn("cs", expr("c div 1000000L"))
          .select(col("i"), col("j"), col("cs"))
          .localCheckpoint() // 4096 rows; consumed once per iteration
        var x = s.sql("SELECT explode(sequence(0, 63)) AS j, 1000000L AS x")
          .localCheckpoint()
        var lambdaScale = 0L
        for (_ <- 1 to 10) {
          val y = cs.join(x, Seq("j"))
            .groupBy(col("i"))
            .agg(sum(col("cs") * col("x")).as("y"))
            .localCheckpoint() // 64 rows; consumers: max + renormalize
          val m = y.agg(greatest(expr("max(abs(y)) div 1000000L"), lit(1L)))
            .head().getLong(0)
          lambdaScale = m
          x = y.select(col("i").as("j"), expr(s"y div ${m}L").as("x"))
            .localCheckpoint()
        }
        x.select(col("j").cast("long").as("dim"), col("x").as("x_mu"),
            lit(lambdaScale).as("lambda_scale"))
          .orderBy(col("dim"))
      },
      Some {
        val q =
          """q AS (SELECT vec_id,
            |  [CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
            |    for x in embedding] AS v FROM embeddings),
            |dims AS (SELECT unnest(range(0, 64)) AS d),
            |cs AS MATERIALIZED (SELECT d1.d AS i, d2.d AS j,
            |    CAST(sum(q.v[d1.d + 1] * q.v[d2.d + 1]) AS BIGINT) // 1000000
            |      AS cs
            |  FROM q CROSS JOIN dims d1 CROSS JOIN dims d2
            |  GROUP BY 1, 2),
            |x0 AS (SELECT d AS j, CAST(1000000 AS BIGINT) AS x FROM dims)"""
            .stripMargin
        val iters = (1 to 10).map { k =>
          s"""y$k AS MATERIALIZED (
             |  SELECT cs.i, CAST(sum(cs.cs * x${k - 1}.x) AS BIGINT) AS y
             |  FROM cs JOIN x${k - 1} ON cs.j = x${k - 1}.j GROUP BY cs.i),
             |m$k AS (SELECT greatest(max(abs(y)) // 1000000, 1) AS m FROM y$k),
             |x$k AS MATERIALIZED (
             |  SELECT i AS j, y // m$k.m AS x FROM y$k CROSS JOIN m$k)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $q,
           |$iters
           |SELECT x10.j AS dim, CAST(x10.x AS BIGINT) AS x_mu,
           |  CAST(m10.m AS BIGINT) AS lambda_scale
           |FROM x10 CROSS JOIN m10 ORDER BY dim""".stripMargin
      })
  )

  /** Round-16 additions kept out of the primary Seq (JVM method-size). */
  val entries2: Seq[Entry] = Seq(

    // q296: PAGERANK WITH PLANTED-HUB RECOVERY — link analysis joins the
    // iterative family (q87 components, q222 power iteration): damping-
    // 0.85 PageRank, 8 unrolled rounds, over a 200-node multigraph
    // FABRICATED by the seeded-md5 primitive (the q260/q261 planted-
    // recovery pattern: the fixtures carry no graph, so the method is
    // proven by recovering a planted signal). Each node u emits 4 random
    // out-edges (md5 lanes) plus one edge to the HUB (node 7) — outdegree
    // exactly 5 by construction, multiset semantics — so the hub must
    // dominate and the in-row recovery flag (hub_pr > 2× the best
    // non-hub; measured ratio ≈5) is SF-invariant (nodes = doc_id mod 200, all 200 present
    // at every SF). INTEGER-EXACT iteration (the quantized-coupling
    // idiom): pr is held in ppm, each round
    // pr'(v) = 150000 + 850000·(Σ_{u→v} pr(u) div 5) div 10⁶ — no float
    // anywhere, so 8 rounds accumulate zero cross-engine drift. Scale:
    // the edge table is value-domain-bounded (1000 rows); on a real graph
    // the same plan keys one exchange per round on dst (partial-agged
    // contribution sums), the documented production shape.
    Entry(
      "q296_pagerank_planted",
      (s, d) => {
        val nodes = Tables.documents(s, d)
          .select((col("doc_id") % 200L).as("u")).distinct()
          .localCheckpoint() // consumers: edge build + pr seed
        val edges = nodes
          .select(col("u"), explode(expr(
            "concat(transform(sequence(0, 3), j -> " +
              "CAST(conv(substring(md5(concat('pr:v1:', CAST(u AS STRING), " +
              "':', CAST(j AS STRING))), 1, 8), 16, 10) AS BIGINT) % 200), " +
              "array(7L))")).as("v"))
          .localCheckpoint() // consumers: 8 per-round contribution joins
        var pr = nodes.select(col("u").as("node"), lit(1000000L).as("pr"))
        for (_ <- 1 to 8) {
          val contrib = edges
            .join(pr.select(col("node").as("u"), col("pr")), Seq("u"))
            .groupBy(col("v").as("node"))
            .agg(sum(expr("pr div 5L")).as("inflow"))
          pr = pr.select(col("node"))
            .join(contrib, Seq("node"), "left")
            .select(col("node"),
              expr("150000L + 850000L * coalesce(inflow, 0L) div 1000000L")
                .as("pr"))
            .localCheckpoint() // two consumers next round (join + reseed)
        }
        val hub = pr.agg(
          max(when(col("node") === 7L, col("pr"))).as("hub_pr"),
          max(when(col("node") =!= 7L, col("pr"))).as("best_other"))
        pr.crossJoin(broadcast(hub))
          .select(col("node"), col("pr").as("pr_ppm"),
            (col("node") === 7L).as("is_hub"),
            (col("hub_pr") > col("best_other") * 2L).as("hub_recovered"))
          .orderBy(col("node"))
      },
      Some {
        def round(r: Int): String =
          s"""c$r AS (SELECT e.v AS node,
             |    CAST(sum(p.pr // 5) AS BIGINT) AS inflow
             |  FROM e JOIN p${r - 1} p ON p.node = e.u GROUP BY e.v),
             |p$r AS MATERIALIZED (SELECT n.node,
             |    150000 + 850000 * coalesce(c.inflow, 0) // 1000000 AS pr
             |  FROM (SELECT node FROM p${r - 1}) n
             |  LEFT JOIN c$r c ON c.node = n.node)""".stripMargin
        s"""WITH nodes AS (SELECT DISTINCT doc_id % 200 AS u FROM documents),
           |e AS MATERIALIZED (SELECT u,
           |    unnest(list_append(list_transform(range(0, 4), j ->
           |      CAST(('0x' || substr(md5('pr:v1:' || CAST(u AS VARCHAR)
           |        || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 200),
           |      CAST(7 AS BIGINT))) AS v
           |  FROM nodes),
           |p0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
           |${(1 to 8).map(round).mkString(",\n")},
           |h AS (SELECT max(CASE WHEN node = 7 THEN pr END) AS hub_pr,
           |    max(CASE WHEN node != 7 THEN pr END) AS best_other FROM p8)
           |SELECT p8.node, CAST(p8.pr AS BIGINT) AS pr_ppm,
           |  p8.node = 7 AS is_hub,
           |  h.hub_pr > h.best_other * 2 AS hub_recovered
           |FROM p8 CROSS JOIN h ORDER BY p8.node""".stripMargin
      }),

    // q314: LABEL-PROPAGATION COMMUNITY RECOVERY (planted SBM) — the
    // community-detection member of the iterative family (q87 exact
    // components, q296 PageRank): a 120-node stochastic block model is
    // FABRICATED by the seeded-md5 primitive (3 planted blocks of 40;
    // edge probability 0.3 inside a block, 0.02 across — both exact
    // integer thresholds on the pair digest), and 4 synchronous
    // majority-vote LPA rounds run over it. Tie-breaks use the HASHED
    // label (max packed cnt·2^32 + md5-lane(label), then min label on
    // lane ties) — the classic min-label tie-break cascades the globally
    // smallest ids across 0.02-edges in round 1 and merges blocks; the
    // hash tie-break keeps round-1 adoption uniform over neighbors, so
    // intra-block labels (expected degree 11.7 vs 1.6) win from round 2
    // on. The graph is corpus-INDEPENDENT (nodes = doc_id mod 120, all
    // present at every SF), so recovery flags cannot flip across SFs.
    // Plan: edge table value-domain bounded (~1.8k rows); each round is
    // a join + count + max-then-match over 120-node frames (per-round
    // localCheckpoint, the q87/q196 fixed-point discipline). On a real
    // graph the same plan keys one exchange per round on the neighbor id.
    Entry(
      "q314_label_prop_planted",
      (s, d) => {
        val nodes = Tables.documents(s, d)
          .select((col("doc_id") % 120L).as("u")).distinct()
          .localCheckpoint() // consumers: pair build + label seed + rounds
        val pairs = nodes.crossJoin(nodes.select(col("u").as("v")))
          .filter(col("u") < col("v"))
          .withColumn("h", expr("CAST(conv(substring(md5(concat('lp:v1:', " +
            "CAST(u AS STRING), ':', CAST(v AS STRING))), 1, 8), 16, 10) " +
            "AS BIGINT)"))
          .filter(expr("h < IF(u div 40 = v div 40, 1288490188L, 85899345L)"))
        val dir = pairs.select(col("u"), col("v"))
          .unionByName(pairs.select(col("v").as("u"), col("u").as("v")))
          .localCheckpoint() // consumers: 4 per-round neighbor joins
        var lbl = nodes.select(col("u").as("node"), col("u").as("l"))
          .localCheckpoint()
        for (_ <- 1 to 4) {
          val cnts = dir
            .join(lbl.select(col("node").as("v"), col("l")), Seq("v"))
            .groupBy(col("u"), col("l"))
            .agg(count(lit(1)).as("c"))
            .withColumn("pk", expr("c * 4294967296L + " +
              "CAST(conv(substring(md5(concat('lt:v1:', " +
              "CAST(l AS STRING))), 1, 8), 16, 10) AS BIGINT)"))
            .localCheckpoint() // consumers: per-node max + the match-back
          val mx = cnts.groupBy(col("u")).agg(max(col("pk")).as("mx"))
          val nl = cnts.join(mx, Seq("u"))
            .filter(col("pk") === col("mx"))
            .groupBy(col("u")).agg(min(col("l")).as("nl"))
          lbl = lbl.join(nl.select(col("u").as("node"), col("nl")),
              Seq("node"), "left")
            .select(col("node"), coalesce(col("nl"), col("l")).as("l"))
            .localCheckpoint()
        }
        val fb = lbl.select(expr("node div 40").as("block"), col("l"))
        val bc = fb.groupBy(col("block"), col("l"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint() // consumers: block max + the match-back
        val bm = bc.groupBy(col("block"))
          .agg(max(col("c")).as("mc"), count(lit(1)).as("n_labels"),
            sum(col("c")).as("n_nodes"))
        bm.join(bc, Seq("block"))
          .filter(col("c") === col("mc"))
          .groupBy(col("block"), col("n_nodes"), col("n_labels"),
            col("mc"))
          .agg(min(col("l")).as("maj_label"))
          .select(col("block"), col("n_nodes"), col("n_labels"),
            col("maj_label"),
            expr("mc * 1000000L div greatest(n_nodes, 1L)").as("purity_ppm"))
          .withColumn("recovered", col("purity_ppm") >= 900000L)
          .orderBy(col("block"))
      },
      Some {
        // one propagation round: each node takes its neighbours' most
        // frequent label, ties to the label with the larger md5 lane
        def round(r: Int): String =
          sql"""c$r AS MATERIALIZED (SELECT d.u, l.l,
             |    CAST(count(*) AS BIGINT) AS c,
             |    CAST(count(*) AS BIGINT) * 4294967296
             |      + ${md5Lane("'lt:v1:' || l.l::VARCHAR", keyBr = Br(0))} AS pk
             |  FROM dir d JOIN l${r - 1} l ON l.node = d.v GROUP BY 1, 2),
             |m$r AS (SELECT u, max(pk) AS mx FROM c$r GROUP BY 1),
             |n$r AS (SELECT c$r.u, min(c$r.l) AS nl FROM c$r
             |  JOIN m$r ON m$r.u = c$r.u AND c$r.pk = m$r.mx GROUP BY 1),
             |l$r AS MATERIALIZED (SELECT l${r - 1}.node,
             |    coalesce(n$r.nl, l${r - 1}.l) AS l
             |  FROM l${r - 1} LEFT JOIN n$r ON n$r.u = l${r - 1}.node)"""
        sql"""WITH nodes AS MATERIALIZED (SELECT DISTINCT
             |    CAST(doc_id % 120 AS BIGINT) AS u FROM documents),
             |pairs AS MATERIALIZED (SELECT n1.u, n2.u AS v
             |  FROM nodes n1 JOIN nodes n2 ON n1.u < n2.u
             |  WHERE CAST(('0x' || substr(md5('lp:v1:' || n1.u::VARCHAR
             |      || ':' || n2.u::VARCHAR), 1, 8)) AS BIGINT)
             |    < CASE WHEN n1.u // 40 = n2.u // 40
             |      THEN 1288490188 ELSE 85899345 END),
             |dir AS MATERIALIZED (SELECT u, v FROM pairs
             |  UNION ALL SELECT v, u FROM pairs),
             |l0 AS (SELECT u AS node, u AS l FROM nodes),
             |${(1 to 4).map(round).mkString(",\n")},
             |fb AS (SELECT node // 40 AS block, l FROM l4),
             |bc AS MATERIALIZED (SELECT block, l,
             |    CAST(count(*) AS BIGINT) AS c FROM fb GROUP BY 1, 2),
             |bm AS (SELECT block, max(c) AS mc,
             |    CAST(count(*) AS BIGINT) AS n_labels,
             |    CAST(sum(c) AS BIGINT) AS n_nodes FROM bc GROUP BY 1)
             |SELECT bm.block, bm.n_nodes, bm.n_labels,
             |  CAST(min(bc.l) AS BIGINT) AS maj_label,
             |  CAST(bm.mc * 1000000 // greatest(bm.n_nodes, 1) AS BIGINT)
             |    AS purity_ppm,
             |  bm.mc * 1000000 // greatest(bm.n_nodes, 1) >= 900000
             |    AS recovered
             |FROM bm JOIN bc ON bc.block = bm.block AND bc.c = bm.mc
             |GROUP BY 1, 2, 3, bm.mc ORDER BY bm.block"""
      })
  )

  /** q205's streaming body: arrivals land as files (the q139 discipline),
    * `maxFilesPerTrigger=1` makes each a micro-batch, and every epoch runs
    * the same broadcast-model argmin as q202's batch serve, writing its
    * per-cluster counts to a CONTENT-KEYED output dir (chunk parity) in
    * Overwrite mode — a redelivered chunk rewrites identical bytes, so the
    * final accounting is exactly-once without a transaction log.
    */
  private def streamAssign(s: SparkSession, d: String): DataFrame = {
    val gen = modelEnsure(s, d) // read-only model serve root
    val model = s.read.parquet(s"$gen/model")
      .select(col("cid"), col("v")).localCheckpoint()
    val outRoot = graft.sources.Sources.scratch(d, "kmeans_stream_out")
    val batch = quantized(s, d)
      .select((col("vec_id") + streamBatchIdOffset).as("vec_id"), col("v"))
      .localCheckpoint()
    val src = graft.streaming.BoundedStreams.arrivals(s, "assign",
      Seq(batch.filter(col("vec_id") % 2 === 0), batch.filter(col("vec_id") % 2 === 1)))
    val nEpochs = new java.util.concurrent.atomic.AtomicLong(0L)
    graft.streaming.BoundedStreams.forEachBatch(src, "graft_stream_assign") { (chunk, _) =>
      nEpochs.incrementAndGet()
      // content key, not batchId: redelivery lands on the same dir. A
      // 1-row scalar steering the output path — the adaptiveBandSalt
      // plan-knob discipline (Dedup.scala:140), not a data collect.
      val parity = chunk.agg(min(pmod(col("vec_id"), lit(2L)))).head().getLong(0)
      assign(chunk, model)
        .groupBy(col("cid")).agg(count(lit(1)).as("n"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$outRoot/chunk_$parity")
    }
    s.read.parquet(s"$outRoot/chunk_*")
      .groupBy(col("cid")).agg(sum(col("n")).as("n_assigned"))
      .select(col("cid"), col("n_assigned"),
        lit(nEpochs.get() >= 2L).as("multi_epoch_ok"))
      .orderBy(col("cid"))
  }

  /** Min-label connected components over an explicit edge set — the q87
    * pointer-jumping loop generalized to a caller-supplied node/edge table
    * (per-round localCheckpoint, constant-size plans, loud failure on
    * non-convergence; see neardupClusters' doc for why iterate-with-
    * materialization IS the canonical Spark shape here).
    */
  /** r21: delegate to the shared [[graft.operators.Dedup.minLabelLoop]]
    * (self-loop-carried prev + two pointer jumps per round — see its doc;
    * same fixed point, fewer rounds). `edges` arrives already symmetrized
    * here (q203's core-core edge set); minLabelLoop re-symmetrizes, which
    * only duplicates each directed row — harmless under min.
    */
  private def minLabelComponents(
      s: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame =
    Dedup.minLabelLoop(s,
      nodes.select(col("id").as("node")),
      edges.select(col("src").as("a_id"), col("dst").as("b_id")))

  private[graft] def modelRoot(d: String): String =
    graft.sources.Sources.scratch(d, "kmeans_model")

  /** Train-once / publish-once: if the model root has no manifest, run the
    * q196 recursion and publish the centroid table as generation `gen-base`
    * behind the atomic manifest swap ([[Artifacts.ensure]]).
    * Deterministic content → idempotent by
    * construction (a re-run writes identical bytes); the Overwrite mode
    * also heals a half-written dir from a crashed earlier attempt.
    */
  private[graft] def modelEnsure(s: SparkSession, d: String): String =
    modelEnsureAt(s, d, modelRoot(d))

  /** Root-parameterized build (the dedup family's own-root discipline:
    * q204's update lifecycle mutates ITS root's manifest, so it gets a
    * separate root and q202's serve path stays pristine). The published
    * model carries per-cluster sizes (final-assignment counts) alongside
    * the centroids — the weights the incremental update verb needs.
    */
  private[graft] def modelEnsureAt(s: SparkSession, d: String, root: String): String =
    Artifacts.ensure(s, root, "gen-base") {
      val (lastAssign, centroids) = run(s, d, Rounds)
      val sizes = lastAssign.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      Seq("model" -> centroids
        .join(sizes, Seq("cid"), "left_outer")
        .select(col("cid"), col("v"), coalesce(col("n"), lit(0L)).as("n")))
    }
}
