package graft.operators

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** One-off stage-budget diagnostic for q37 (wordset near-dup): prints the
  * cardinality of every pipeline stage and wall-times cumulative sub-plans
  * so the irreducible term can be named with its measured variance.
  * Maintenance tool, not part of the driver contract.
  */
object Q37Budget {
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Tables.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val featOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => array_distinct(split(t, " "))
    val sigOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => call_function("minhash_sig", t, lit(32), lit(1))

    // replicate clusteredNeardup's stages (clusterFirst=true, threshold .95)
    val base = docs
      .select(col("doc_id"), array_sort(featOf(col("text"))).as("feat"))
      .withColumn("fh", xxhash64(col("feat")))
    val groups = base.groupBy(col("fh"), col("feat")).agg(min(col("doc_id")).as("gid"))
    val reps = groups.select(
      col("gid"), col("feat"), sigOf(concat_ws(" ", col("feat"))).as("sig"))
      .withColumn("bands", call_function("bands_from_sig", col("sig"), lit(2)))
    val banded = reps.select(col("gid").as("doc_id"), explode(col("bands")).as("band"))
    // r12: q37 switched to the dedup-free first-shared-band emission — the
    // budget measures THAT stage (the old distinct form remains available
    // via Dedup.bandCandidates(banded) for comparison runs)
    val candidates = Dedup.bandCandidatesNoDistinct(
      reps.select(col("gid").as("doc_id"), col("bands")))
    val withFeat = Dedup.attachFeatures(
      candidates,
      reps.select(col("gid").as("doc_id"),
        array_sort(transform(col("feat"), x => xxhash64(x))).as("hf")),
      "hf")
    val confirmed = withFeat
      .withColumn("jac",
        graft.functions.GraftColumns.kernel("jaccard_sorted_unchecked", col("a_hf"), col("b_hf")))
      .filter(col("jac") >= 0.95)

    def t(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[budget] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    println(s"[budget] n_docs          = ${docs.count()}")
    println(s"[budget] n_groups        = ${groups.count()}")
    println(s"[budget] n_banded_rows   = ${banded.count()}")
    println(s"[budget] n_cand_pairs    = ${candidates.count()}")
    println(s"[budget] n_confirmed_rep = ${confirmed.count()}")
    val full = graft.queries.Registry.byName("q37_wordset_jaccard")
    println(s"[budget] n_output_rows   = ${full.q(spark, d).count()}")
    (1 to 3).foreach { i =>
      t(s"cluster_stage (run $i)") { exec(groups) }
      t(s"candidates (run $i)") { exec(candidates) }
      t(s"confirm (run $i)") { exec(confirmed) }
      t(s"full_q37 (run $i)") { exec(full.q(spark, d)) }
    }
    spark.stop()
  }
}
