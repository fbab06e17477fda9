package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Benchmark main: headline queries on SPARK_GRAFT_SF_DIR, one JSON line out.
  * Results are fully materialized via the noop sink (no count-style column
  * pruning shortcuts), each query timed end-to-end including planning.
  */
object Bench {

  /** Headline subset: one representative per operator family — scan-agg,
    * top-k join, multiway join, selective scan, window, sessionization,
    * text stats, MinHash LSH, ANN top-k.
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q07_window_top_orders",
    "q25_events_hourly",
    "q26_sessionize",
    "q31_token_stats",
    "q35_dedup_exact",
    "q36_minhash_lsh",
    "q40_cosine_topk",
    "q41_ann_lsh",
    // r22 ADDITIONS (never removed or renamed — the r21 verdict's item 8):
    // the original 12 are all ≤1.3 s at sf0.1 and scheduler-bound, so the
    // driver's core-count scaling block could not see parallelism; these
    // three heavy secondary queries (also still timed under their standing
    // secondary keys) give it real parallel work. Subtract them when
    // comparing the headline total against pre-r22 artifacts.
    "q87_neardup_clusters",
    "q219_containment",
    "q297_byte_bpe_encode")

  /** Secondary timed list: the heavy pair/decontamination queries. Their
    * runtime is output-density-bound on the synthetic corpus (~191k true
    * near-dup pairs at sf0.1), so they're timed under a separate key — the
    * headline total stays comparable across rounds while these stay
    * machine-checkable instead of anecdotal.
    */
  val secondary: Seq[String] = Seq(
    "q37_wordset_jaccard",
    "q39_embedding_neardup",
    "q55_ngram_jaccard",
    "q76_decontamination",
    // added round 11 with the operator (~5 s at sf0.1): winnowing overlap —
    // subtract it when comparing secondary_total against pre-r11 artifacts
    "q86_winnow_overlap",
    // added round 12: the heavy round-11 operators, previously profiled only
    // once (BASELINE.md r11 rows) — without standing coverage a regression in
    // any of them is invisible to every future BENCH_r*.json (how the r10
    // kernel regression hid for a round). Subtract these five when comparing
    // secondary_total against pre-r12 artifacts.
    "q87_neardup_clusters",
    "q91_simhash_hamming",
    "q94_ann_pq",
    "q96_sequence_packing",
    "q103_phash_neardup",
    // added round 13: the heavy round-12 operators (≥2 s each at sf0.1),
    // previously profiled only in one-off dedicated runs — the same
    // standing-coverage blindness the r11/r12 verdicts flagged, recurring
    // per cohort. Subtract these four when comparing secondary_total
    // against pre-r13 artifacts.
    "q110_boilerplate_scrub",
    "q119_stream_enrich",
    "q120_knn_graph",
    "q121_split_packing",
    // round-13 cohort, standing FROM BIRTH — ending the promote-one-round-
    // late pattern the r11/r12 verdicts both flagged: every operator added
    // this round has cross-round coverage in its first artifact. Subtract
    // these three when comparing secondary_total against pre-r13 artifacts.
    "q126_ann_index_delete",
    "q127_boilerplate_hash",
    "q128_funnel_5step",
    // the dedup-index lifecycle (also round 13, standing from birth):
    // build + artifact-served incremental batch dedup + index update
    "q131_dedup_index_build",
    "q132_dedup_index_query",
    "q133_dedup_index_update",
    // round-13 selection/calibration ops, standing from birth
    "q134_token_budget_select",
    "q135_quality_calibration",
    // dedup-index compliance delete + generation GC, standing from birth
    "q136_dedup_index_delete",
    "q137_dedup_index_gc",
    // the composed ingest loop (classify vs index -> admit novels) and
    // its streaming deployment (one ingest turn per micro-batch)
    "q138_ingest_dedup",
    "q139_stream_ingest",
    // LATERAL decorrelation (round 13, standing from birth)
    "q140_lateral_topk",
    // ANN near-dup-gated ingest (round 13, standing from birth)
    "q141_ann_ingest",
    // segmented (LSM) index: O(delta) append + compaction proof, both sides
    "q142_ann_segment_append",
    "q143_ann_segment_compact",
    "q144_dedup_segment_append",
    // retrieval + semantic-dedup + resample cohort (round 13, standing
    // from birth). Subtract these four when comparing secondary_total
    // against earlier r13 artifacts.
    "q145_bm25_topk",
    "q146_rrf_fusion",
    "q147_semdedup",
    "q148_resample_gapfill",
    // recursive-CTE BFS reachability (round 13, standing from birth)
    "q149_reachability_bfs",
    // per-series OLS trend + split KL-drift monitor (round 13, standing
    // from birth)
    "q150_trend_ols",
    "q151_split_drift",
    // mergeable HLL sketch rollup (round 13, standing from birth)
    "q152_hll_rollup",
    // integer-exact 3-sigma anomaly flags + reproducible weighted sampling
    // (round 13, standing from birth)
    "q153_anomaly_3sigma",
    "q154_weighted_sample",
    // behavioral-analytics + matching + graph cohort (round 13, standing
    // from birth). Subtract these seven when comparing secondary_total
    // against earlier r13 artifacts.
    "q155_fuzzy_match",
    "q156_transition_matrix",
    "q157_cumulative_unique",
    "q158_pareto_frontier",
    "q159_concurrency_sweep",
    "q160_pagerank",
    "q161_ab_test",
    // LM-familiarity filter + EWMA smoothing (round 13, standing from
    // birth). Subtract these two when comparing secondary_total against
    // earlier r13 artifacts.
    "q162_lm_familiarity",
    "q163_ewma_smooth",
    // key-skew profiler + last-touch attribution (round 13, standing from
    // birth). Subtract these two when comparing secondary_total against
    // earlier r13 artifacts.
    "q164_key_skew_profile",
    "q165_attribution",
    // posting-gap encoding + epoch shuffle (round 13, standing from
    // birth). Subtract these two when comparing secondary_total against
    // earlier r13 artifacts.
    "q166_posting_gaps",
    "q167_epoch_shuffle",
    // join-explosion diagnostic + novelty curve (round 13, standing from
    // birth). Subtract these two when comparing secondary_total against
    // earlier r13 artifacts.
    "q168_join_explosion",
    "q169_novelty_curve",
    // pivot/unpivot reshaping surface (round 13, standing from birth).
    // Subtract these two when comparing secondary_total against earlier
    // r13 artifacts.
    "q170_pivot_matrix",
    "q171_unpivot_melt",
    // near-dup-suppressed ranking (round 13, standing from birth).
    // Subtract it when comparing secondary_total against earlier r13
    // artifacts.
    "q172_dedup_ranking",
    // triangle count + hard-negative mining (round 13, standing from
    // birth). Subtract these two when comparing secondary_total against
    // earlier r13 artifacts.
    "q173_triangle_count",
    "q174_hard_negatives",
    // PMI collocations + streaming anomaly monitor (round 13, standing
    // from birth). Subtract these two when comparing secondary_total
    // against earlier r13 artifacts.
    "q175_pmi_collocations",
    "q176_stream_anomaly",
    // MR grep + range-frame window (round 13, standing from birth).
    // Subtract these two when comparing secondary_total against earlier
    // r13 artifacts.
    "q177_mr_grep",
    "q178_range_frame",
    // session path mining + one-pass schema profile (round 13, standing
    // from birth). Subtract these two when comparing secondary_total
    // against earlier r13 artifacts.
    "q179_session_paths",
    "q180_schema_profile",
    // magic-byte content sniffing (round 13, standing from birth).
    // Subtract it when comparing secondary_total against earlier r13
    // artifacts.
    "q181_magic_sniff",
    // event-time disorder profile (round 13, standing from birth).
    // Subtract it when comparing secondary_total against earlier r13
    // artifacts.
    "q182_disorder_profile",
    // point-in-time SCD2 dimension join (round 13, standing from birth).
    // Subtract it when comparing secondary_total against earlier r13
    // artifacts.
    "q183_scd2_join",
    // positional phrase search (round 13, standing from birth). Subtract
    // it when comparing secondary_total against earlier r13 artifacts.
    "q184_phrase_search",
    // market-basket lift (round 13, standing from birth). Subtract it
    // when comparing secondary_total against earlier r13 artifacts.
    "q185_market_basket",
    // dup-cluster size histogram (round 13, standing from birth; contains
    // the full q87 computation). Subtract it when comparing
    // secondary_total against earlier r13 artifacts.
    "q186_cluster_size_histogram",
    // typed-Aggregator price-quantum UDAF (round 13, standing from
    // birth). Subtract it when comparing secondary_total against earlier
    // r13 artifacts.
    "q187_price_quantum",
    // optimizer-rule proof query (round 13, standing from birth).
    // Subtract it when comparing secondary_total against earlier r13
    // artifacts.
    "q188_normalize_collapse",
    // RFM segmentation (round 13, standing from birth). Subtract it when
    // comparing secondary_total against earlier r13 artifacts.
    "q189_rfm_segments",
    // revenue-concentration Gini (round 13, standing from birth).
    // Subtract it when comparing secondary_total against earlier r13
    // artifacts.
    "q190_revenue_gini",
    // round-14 cohort, standing from birth: dedup-side LSM compaction,
    // profile-driven adaptive salt (runs the q36 join twice), JPEG SOF
    // decode, hashed-n-gram linear quality classifier. Subtract these
    // four when comparing secondary_total against r13 artifacts.
    "q191_dedup_segment_compact",
    "q192_adaptive_salt",
    "q193_jpeg_decode",
    "q194_quality_classifier",
    // approx (HLL++) schema-profiler production form (round 14, standing
    // from birth). Subtract it when comparing secondary_total against
    // earlier artifacts.
    "q195_schema_profile_approx",
    // fixed-point k-means, Heaps vocabulary-growth curve, Kneser-Ney
    // bigram LM (round 14, standing from birth). Subtract these three
    // when comparing secondary_total against earlier artifacts.
    "q196_kmeans",
    "q197_vocab_growth",
    "q198_kneser_ney",
    // greedy k-center seeding (round 14, standing from birth). Subtract
    // it when comparing secondary_total against earlier artifacts.
    "q199_kcenter_seed",
    // embedding per-dimension QC + per-language Chao1 richness (round 14,
    // standing from birth). Subtract these two when comparing
    // secondary_total against earlier artifacts.
    "q200_embedding_dim_qc",
    "q201_chao1_richness",
    // persisted k-means model publish+serve (round 14, standing from
    // birth). Subtract it when comparing secondary_total against earlier
    // artifacts.
    "q202_kmeans_publish_serve",
    // DBSCAN density clustering over the embedding corpus (round 14,
    // standing from birth). Subtract it when comparing secondary_total
    // against earlier artifacts.
    "q203_dbscan",
    // incremental k-means model update (round 14, standing from birth).
    // Subtract it when comparing secondary_total against earlier
    // artifacts.
    "q204_kmeans_update",
    // streaming model inference (round 14, standing from birth).
    // Subtract it when comparing secondary_total against earlier
    // artifacts.
    "q205_stream_cluster_assign",
    // Benford first-digit audit (round 14, standing from birth).
    // Subtract it when comparing secondary_total against earlier
    // artifacts.
    "q206_benford_audit",
    // source x lang chi-square independence audit (round 14, standing
    // from birth). Subtract it when comparing secondary_total against
    // earlier artifacts.
    "q207_source_lang_independence",
    // Davies-Bouldin cluster-quality index (round 14, standing from
    // birth). Subtract it when comparing secondary_total against earlier
    // artifacts.
    "q208_davies_bouldin",
    // exact tie-aware classifier AUC (round 14, standing from birth).
    // Subtract it when comparing secondary_total against earlier
    // artifacts.
    "q209_classifier_auc",
    // classifier confusion matrix + MCC (round 14, standing from birth).
    // Subtract it when comparing secondary_total against earlier
    // artifacts.
    "q210_classifier_confusion",
    // source-level duplication matrix (round 14, standing from birth;
    // contains the full q37 pair computation). Subtract it when comparing
    // secondary_total against earlier artifacts.
    "q211_dup_source_matrix",
    // native session_window sessionize (round 14, standing from birth).
    // Subtract it when comparing secondary_total against earlier
    // artifacts.
    "q212_session_window_native",
    // integrity family: order-independent checksum, HRW reshard, Merkle
    // copy diff (round 15, standing from birth). Subtract these three when
    // comparing secondary_total against r14 artifacts.
    "q213_table_checksum",
    "q214_rendezvous_reshard",
    "q215_copy_diff",
    // substring-dup profile, Simpson diversity, vocab overlap (round 15,
    // standing from birth). Subtract these three when comparing
    // secondary_total against r14 artifacts.
    "q216_dup_spans",
    "q217_simpson_diversity",
    "q218_vocab_overlap",
    // containment near-dup + streaming dead-letter split (round 15,
    // standing from birth). Subtract these two when comparing
    // secondary_total against r14 artifacts.
    "q219_containment",
    "q220_stream_dead_letter",
    // schema-drift audit + power-iteration principal direction (round 15,
    // standing from birth). Subtract these two when comparing
    // secondary_total against r14 artifacts.
    "q221_schema_drift",
    "q222_power_iteration",
    // join-cardinality sampling + TVD distribution drift (round 15,
    // standing from birth). Subtract these two when comparing
    // secondary_total against r14 artifacts.
    "q223_join_card_sample",
    "q224_distribution_drift",
    // PCM sample-level audio audit + incremental checksum maintenance
    // (round 15, standing from birth). Subtract these two when comparing
    // secondary_total against r14 artifacts.
    "q225_wav_pcm_audit",
    "q226_checksum_incremental",
    // cross-source quantile calibration (round 15, standing from birth).
    // Subtract it when comparing secondary_total against r14 artifacts.
    "q227_quantile_qq_map",
    // split rebalancing after curation (round 15, standing from birth).
    // Subtract it when comparing secondary_total against r14 artifacts.
    "q228_split_rebalance",
    // content-defined chunking (round 15, standing from birth). Subtract
    // it when comparing secondary_total against r14 artifacts.
    "q229_cdc_chunking",
    // hash-only containment production variant (round 15, standing from
    // birth). Subtract it when comparing secondary_total against r14
    // artifacts.
    "q230_containment_hash",
    // nonparametric drift tests: KS per-source audit + pairwise MWU matrix
    // (round 15, standing from birth). Subtract these two when comparing
    // secondary_total against r14 artifacts.
    "q231_ks_drift",
    "q232_mwu_matrix",
    // in-engine training + operating-point evaluation: batch perceptron,
    // decile PR curve (round 15, standing from birth). Subtract these two
    // when comparing secondary_total against r14 artifacts.
    "q233_perceptron",
    "q234_pr_curve",
    // privacy audit + retrieval ranking metric (round 15, standing from
    // birth). Subtract these two when comparing secondary_total against
    // r14 artifacts.
    "q235_k_anonymity",
    "q236_ndcg",
    // time-series diagnostics: ACF, CUSUM changepoint, Holt backtest
    // (round 15, standing from birth). Subtract these three when
    // comparing secondary_total against r14 artifacts.
    "q237_acf",
    "q238_cusum",
    "q239_holt_linear",
    // retrieval MRR/MAP + LOO source valuation (round 15, standing from
    // birth). Subtract these two when comparing secondary_total against
    // earlier artifacts.
    "q240_mrr_map",
    "q241_loo_source_value",
    // compaction planner + Zipf slope (round 15, standing from birth).
    // Subtract these two when comparing secondary_total against earlier
    // artifacts.
    "q242_compaction_plan",
    "q243_zipf_slope",
    // Holt-Winters seasonal duel + interval overlap join (round 15,
    // standing from birth). Subtract when comparing secondary_total
    // against earlier artifacts.
    "q244_holt_winters",
    "q245_interval_join",
    // JL projection audit + isotonic calibration (round 15, standing from
    // birth). Subtract when comparing secondary_total against earlier
    // artifacts.
    "q246_jl_projection",
    "q247_isotonic_calibration",
    // robust MAD outlier flags (round 15, standing from birth). Subtract
    // when comparing secondary_total against earlier artifacts.
    "q248_mad_outliers",
    // zone-map audit / TWAP / mojibake / Misra-Gries (round 15, standing
    // from birth). Subtract when comparing against earlier artifacts.
    "q249_zonemap_skipping",
    "q250_twap",
    "q251_mojibake_audit",
    "q252_heavy_hitters",
    // bootstrap CI / PSI / BH-FDR (round 15, standing from birth).
    // Subtract when comparing against earlier artifacts.
    "q253_poisson_bootstrap",
    "q254_psi_drift",
    "q255_bh_fdr",
    // Markov attribution / Kaplan-Meier (round 15, standing from birth).
    // Subtract when comparing secondary_total against earlier artifacts.
    "q256_markov_attribution",
    "q257_kaplan_meier",
    // log-rank survival test (round 15, standing from birth).
    "q258_logrank_test",
    // Spearman rank-correlation matrix (round 15, standing from birth).
    "q259_spearman_matrix",
    // quantized-EM Gaussian mixture fit (round 15, standing from birth).
    "q260_gmm_em",
    // two-state Viterbi burst detection (round 15, standing from birth).
    "q261_burst_viterbi",
    // columnar encoding advisor (round 15, standing from birth).
    "q262_encoding_advisor",
    // differentially-private histogram release (round 15, standing from birth).
    "q263_dp_release",
    // Wald SPRT early-stopping audit (round 15, standing from birth).
    "q264_sprt",
    // sample-NDV estimation + bloom skipping audits (round 15, standing
    // from birth).
    "q265_ndv_estimate",
    "q266_bloom_skipping",
    // streaming native session_window (round 15, standing from birth).
    "q267_stream_session_window",
    // 5-fold cross-validated perceptron (round 15, standing from birth).
    "q268_cv_perceptron",
    // distribution-free median CI (round 15, standing from birth).
    "q269_median_ci",
    // corpus datasheet rollup (round 15, standing from birth).
    "q270_corpus_datasheet",
    // CUPED variance-reduced A/B readout (round 15, standing from birth).
    "q271_cuped",
    // index-of-dispersion Poissonity test (round 15, standing from birth).
    "q272_dispersion_test",
    // real GIF block-walk decode (round 15, standing from birth).
    "q273_gif_decode",
    // Decimal(38) escape-hatch proof (round 15, standing from birth).
    "q274_decimal_moments",
    // derandomized RANSAC robust fit (round 15, standing from birth).
    "q275_ransac_fit",
    // incremental join-view maintenance (round 15, standing from birth).
    "q276_incremental_join_view",
    // AS-OF-generation time-travel read (round 15, standing from birth).
    "q277_time_travel",
    // Theil-Sen + Mann-Kendall trend family (round 15, standing from birth).
    "q278_theil_sen",
    "q279_mann_kendall",
    // seeded-hash uniformity audit (round 15, standing from birth).
    "q280_hash_uniformity",
    // split conformal prediction intervals (round 15, standing from birth).
    "q281_conformal",
    // corpus rewrite transforms: BPE tokenizer-apply, repeated-span
    // removal, PII scan/redact (round 16, standing from birth). Subtract
    // these three when comparing secondary_total against r15 artifacts.
    "q282_bpe_encode",
    "q283_span_dedup",
    "q284_pii_redact",
    // IVF-PQ composed ANN + PDF head decode (round 16, standing from
    // birth). Subtract these two when comparing secondary_total against
    // r15 artifacts.
    "q285_ann_ivfpq",
    "q286_pdf_decode",
    // composed curation funnel + BPE merge-array fold + tokenizer
    // publish/serve lifecycle (round 16, standing from birth). Subtract
    // these three when comparing secondary_total against r15 artifacts.
    "q287_curation_funnel",
    "q288_bpe_encode_fold",
    "q289_tokenizer_publish_serve",
    // span-index O(delta) ingest + leakage-safe splits (round 16, standing
    // from birth). Subtract these two when comparing secondary_total
    // against r15 artifacts.
    "q290_span_index_delta",
    "q291_leakage_safe_splits",
    // multi-resolution duplication ladder (round 16, standing from birth).
    // Subtract it when comparing secondary_total against r15 artifacts.
    "q292_dup_resolution_ladder",
    // near-dup-safe splits (contains the q37 pair join + q87 label loop)
    // + streaming PII redact (round 16, standing from birth). Subtract
    // these two when comparing secondary_total against r15 artifacts.
    "q293_neardup_safe_splits",
    "q294_stream_pii_redact",
    // token-budget water-filling allocation (round 16, standing from
    // birth). Subtract it when comparing secondary_total against r15
    // artifacts.
    "q295_token_budget_waterfill",
    // planted-hub PageRank (round 16, standing from birth). Subtract it
    // when comparing secondary_total against r15 artifacts.
    "q296_pagerank_planted",
    // round-17 cohort, standing from birth
    "q297_byte_bpe_encode",
    "q298_png_pixel_decode",
    "q299_cross_corpus_decon",
    "q300_rendezvous_canon",
    "q301_ks_canon",
    "q302_ann_cross_corpus",
    "q303_gif_lzw_decode",
    "q304_stream_byte_bpe",
    "q305_corpus_release_gate",
    // round-18 cohort, standing from birth: rater agreement (batch +
    // streaming sibling), Bradley-Terry fit, tar shard index, unigram
    // tokenizer fit + publish/serve. Subtract these six when comparing
    // secondary_total against pre-r18 artifacts.
    "q306_rater_agreement",
    "q307_bradley_terry",
    "q308_tar_member_index",
    "q309_unigram_tokenizer",
    "q310_unigram_publish_serve",
    "q311_stream_rater_agreement",
    "q312_jpeg_dc_decode",
    "q313_stream_bradley_terry",
    "q314_label_prop_planted",
    "q315_zip_entry_index",
    "q316_stream_shard_audit",
    "q317_fleiss_kappa",
    "q318_hll_distinct",
    "q319_gzip_member_stream",
    "q320_tiff_ifd_walk",
    "q321_bmp_decode",
    "q322_stream_hll",
    "q323_merkle_commitment",
    "q324_hilbert_layout",
    "q325_utf8_audit",
    "q326_int8_quant_audit",
    "q327_wordpiece_encode",
    "q328_ulaw_codec",
    // round-19 cohort, standing from birth
    "q329_jpeg_full_decode",
    "q330_mp4_box_index",
    "q331_tone_bin_energy",
    "q332_stream_mp4_audit",
    "q333_jpeg_ycc_decode",
    "q334_jpeg_restart_decode",
    "q335_mp4_chunk_offsets",
    "q336_mp3_frame_walk",
    "q337_exif_orientation",
    "q338_png_text_chunks",
    "q339_url_canonicalize",
    // round-20 cohort, standing from birth
    "q340_html_text_extract",
    "q341_jpeg_progressive",
    "q342_etld1_rollup",
    "q343_webm_ebml_walk",
    "q344_robots_politeness")

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // optional: bench an explicit query list instead of headline+secondary;
    // reject unknown names up front rather than crashing mid-run
    val primary = if (args.nonEmpty) args.toSeq else headline
    val extra = if (args.nonEmpty) Seq.empty[String] else secondary
    val names = primary ++ extra
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
    val spark = Tables.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every bench table once (parquet footer reads), then run
    // every headline query once against the smallest fixture — same plans,
    // tiny data — so generated code is compiled and the JIT is warm before
    // anything is timed. Timed runs below still execute end-to-end on the
    // bench SF.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.table(spark, sfDir, t).count())
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // queries whose warm-up failed (they run cold below) — recorded in the
    // JSON as "cold":[...] so a cold timed run is distinguishable post-hoc
    // from the artifact alone, not only from a stderr log nobody kept
    val coldQueries = scala.collection.mutable.ListBuffer.empty[String]
    if (new java.io.File(warmDir).isDirectory)
      names.foreach { name =>
        // NonFatal only — an OOM/interrupt must surface, and a query that
        // fails warm-up gets its name logged instead of silently running cold
        try exec(SparkEntry.queries(name)(spark, warmDir))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
            coldQueries += name
        }
      }
    else coldQueries ++= names

    // MULTI-SAMPLE timing: single-sample-per-query made the per-round perf
    // record one unreplicated draw — r10's gate verdict depended on it
    // (q37: 46.5 s driver vs 97.1 s judge, identical code, same day). Each
    // query now runs `samples` consecutive times; the MEDIAN is the
    // cross-round metric (robust to one JIT-recompile/GC outlier), the MIN
    // is recorded alongside as the machine-capability floor. A run that
    // throws contributes no sample; all-failed → -1 (the driver's existing
    // failure sentinel).
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt
    require(samples >= 1, s"SPARK_GRAFT_BENCH_SAMPLES must be >= 1, got $samples")

    def timeOnce(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { exec(fn(spark, sfDir)); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (ok) sec else -1.0
    }
    // (median, min) over the successful samples of one query
    def time(list: Seq[String]): Seq[(String, (Double, Double))] =
      list.map { name =>
        val ok = Seq.fill(samples)(timeOnce(name)).filter(_ >= 0).sorted
        name -> (if (ok.isEmpty) (-1.0, -1.0) else (ok(ok.size / 2), ok.head))
      }
    def jsonObj(results: Seq[(String, Double)]): String = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    def sumOk(results: Seq[(String, Double)]): Double =
      results.collect { case (_, v) if v >= 0 => v }.sum

    // BOX-CONDITION CANARY: a fixed trivial op — nation scan (25 rows at
    // EVERY SF) + 1-row agg — timed with the same protocol and recorded as
    // "canary_s". The r12 gate read had to cross-reference out-of-band
    // builder artifacts to attribute a uniform 1.3–1.5× elevation of
    // untouched plans to the box; the canary quantifies scheduler/JVM/box
    // drift inside the artifact itself: a round where queries AND canary
    // elevate together is a box condition, queries-only is a code
    // regression. One untimed run first so codegen/JIT warmth matches the
    // timed queries' protocol.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      exec(Tables.table(spark, sfDir, "nation")
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("s")))
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce()
    val canarySamples = Seq.fill(samples)(canaryOnce()).sorted
    val canary = canarySamples(canarySamples.size / 2)

    // headline first (its total is the cross-round metric), then secondary
    val results = time(primary)
    val extraResults = time(extra)
    val medians = results.map { case (k, (med, _)) => k -> med }
    val mins = results.map { case (k, (_, mn)) => k -> mn }
    val total = sumOk(medians)
    val secondaryPart =
      if (extraResults.isEmpty) ""
      else {
        val m = extraResults.map { case (k, (med, _)) => k -> med }
        val n = extraResults.map { case (k, (_, mn)) => k -> mn }
        f""","secondary":${jsonObj(m)},"secondary_min":${jsonObj(n)},"secondary_total":${sumOk(m)}%.3f"""
      }
    // "queries" stays the scalar name→sec map the driver compares across
    // rounds (now the median); "queries_min" is the per-query floor.
    // "schema" versions the measurement protocol for downstream tooling:
    // 1 = single sample per query (pre-r11, implicit), 2 = median-of-samples
    // + queries_min (r11), 3 = + cold list and five more secondary queries
    // (r12), 4 = + canary_s box-drift probe and seven more secondary
    // queries — the four promoted r12 heavies plus the r13 cohort (r13) —
    // a bumped schema means totals are not comparable to prior rounds
    // without adjustment.
    val cold = coldQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Gate-armor (r13 verdict #3): the full line below can run to tens of
    // KB with 80+ secondary queries, and BENCH_r13.json's captured tail
    // began mid-secondary — losing the round's PRIMARY gate fields
    // (headline total, canary). Print a SHORT summary line FIRST so any
    // tail-truncation of the capture still preserves the gate metrics;
    // downstream json-lines readers take the line whose "metric" they
    // want ("total_summary" is gate-sufficient, "total" is complete).
    println(
      f"""{"metric":"total_summary","value":$total%.3f,"unit":"sec","schema":4,"canary_s":$canary%.3f,"sf":"$sfDir"}""")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","schema":4,"samples":$samples,"canary_s":$canary%.3f,"cold":$cold,"queries":${jsonObj(medians)},"queries_min":${jsonObj(mins)}$secondaryPart,"sf":"$sfDir"}"""
    println(fullLine)
    // SELF-ARCHIVE (r18 verdict #8): the driver's stdout capture
    // truncates long tails, which made BENCH_r18.json's per-query map
    // unrecoverable from the artifact alone. Persist the complete line
    // to a file too, so every bench run is self-contained regardless of
    // how much of stdout the harness kept. A targeted run (explicit query
    // names) writes only where SPARK_GRAFT_BENCH_OUT points, so it never
    // overwrites the committed full-sweep BENCH_full_last.json.
    // Best-effort: a read-only cwd must not fail the bench.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(Option.when(args.isEmpty)("BENCH_full_last.json"))
    outPath.foreach { path =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] could not self-archive to $path: " +
            e.getMessage)
      }
    }
    spark.stop()
  }
}
