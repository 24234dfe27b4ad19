package graft

/** Smoke + determinism pins for every SparkEntry query at sf0.001.
  * Row counts are pinned (the data is static); a count change means a
  * semantic change, which must be deliberate and re-verified against the
  * DuckDB oracle (tools/check_oracle.py).
  */
class QueriesSpec extends SparkSpec {

  private val expectedCounts = Map(
    "r1_unpivot_filter" -> 12000L,
    "r2_project_literals" -> 589L,
    "r3_cohort_semijoin" -> 150L,
    "r4_case_ranking" -> 874L,
    "r5_full_pipeline" -> 12000L,
    "c1_join_agg_topk" -> 10L,
    "c2_semi_anti" -> 145L,
    "c3_broadcast_dims" -> 5L,
    "c4_rollup" -> 119L,
    "c5_window_frames" -> 1500L,
    "c6_set_ops" -> 160L,
    "c7_scalar_fns" -> 200L,
    "c7_date_fns" -> 80L,
    "c8_json" -> 5L,
    "c9_tumbling_hour" -> 868L,
    "c10_sessionize" -> 946L,
    "c11_exact_distinct" -> 1L,
    "c12_tokens" -> 20L,
    "c12_lang" -> 5L,
    "c13_cosine_topk" -> 10L,
    "sim_kmeans" -> 5L,
    "text_vocab_coverage" -> 20L,
    "mm_frame_sample" -> 827L,
    "profile_skew" -> 2L,
    "sim_knn" -> 50L,
    "sim_lsh_ann" -> 29L,
    "text_langid" -> 500L,
    "text_quality" -> 500L,
    "text_tokcount" -> 500L,
    "text_fingerprint" -> 500L,
    "dedup_exact" -> 1L,
    "dedup_exact_keep" -> 500L,
    "dedup_minhash_sigs" -> 500L,
    "dedup_simhash" -> 500L,
    "dedup_simhash_pairs" -> 25L,
    "dedup_containment" -> 10L,
    "dedup_ngram_pairs" -> 20L,
    "dedup_minhash_pairs" -> 47265L,
    "dedup_clusters" -> 500L,
    "dedup_clusters_stored" -> 500L,
    "dedup_clusters_incremental" -> 500L,
    "dedup_bow" -> 500L,
    "sample_weighted" -> 50L,
    "sample_temperature" -> 5L,
    "sample_epochs" -> 5L,
    "sample_shuffle_shard" -> 500L,
    "text_entropy" -> 500L,
    "text_unigram_logprob" -> 500L,
    "profile_quantiles" -> 3L,
    "dedup_embedding" -> 20L,
    "dedup_semantic" -> 31L,
    "c14_pivot" -> 15L,
    "c4b_cube" -> 24L,
    "asof_last_view" -> 201L,
    "sim_centroid" -> 10L,
    "c5b_rank_family" -> 15L,
    "c5c_stats" -> 5L,
    "c5d_corr" -> 3L,
    "c7c_datetime" -> 6L,
    "c8b_from_json" -> 5L,
    "c9b_sliding" -> 1504L,
    "c2b_left_outer" -> 150L,
    "c2c_full_outer" -> 21L,
    "c20_merge_upsert" -> 1650L,
    "c2d_theta_join" -> 10L,
    "c7d_predicates" -> 200L,
    "c12b_arrays" -> 500L,
    "mm_decode_meta" -> 500L,
    "c4c_grouping_sets" -> 124L,
    "c7e_map_fns" -> 25L,
    "sim_ivf_ann" -> 30L,
    "sim_lsh_multiprobe" -> 30L,
    "sim_lsh_banded" -> 30L,
    "c16_pricing_summary" -> 3L,
    "sample_det" -> 44L,
    "sample_strata" -> 3L,
    "bloom_semi_revenue" -> 3L,
    "bloom_decontam" -> 5L,
    "sample_split" -> 3L,
    "sample_split_grouped" -> 3L,
    "dedup_minhash_est" -> 47265L,
    "sample_topk" -> 200L,
    "sim_quant_int8" -> 500L,
    "text_pii_mask" -> 150L,
    "text_tfidf" -> 1500L,
    "text_pack_bins" -> 16L,
    "text_pack_bins_bfd" -> 16L,
    "text_pack_waste" -> 10L,
    "text_repetition" -> 500L,
    "text_chunks" -> 806L,
    "profile_orders" -> 6L,
    "c17_retention" -> 5L,
    "c18_funnel" -> 1L,
    "sample_mix_plan" -> 5L,
    "c19_active_users" -> 30L,
    "dedup_incremental" -> 14664L,
    "dedup_incremental_stored" -> 14664L,
    "asof_next_view" -> 201L,
    "asof_tolerance_view" -> 201L,
    "cms_heavy_hitters" -> 186L,
    "dedup_spans" -> 2382L,
    "dedup_spans_cut" -> 500L,
    "dedup_spans_minimized" -> 506L,
    "dedup_spans_incremental" -> 89L,
    "layout_zvalue" -> 3L,
    "layout_zvalue3" -> 8L,
    "layout_hilbert" -> 3L,
    "graph_domain_rank" -> 20L,
    "graph_domain_communities" -> 20L,
    "graph_triangles" -> 20L,
    "sketch_kmv_users" -> 5L,
    "sketch_kmv_overlap" -> 10L,
    "c23_range_join" -> 1L,
    "c24_salted_join" -> 5L,
    "sim_sparse_topk" -> 20L,
    "sim_pq_ann" -> 50L,
    "text_bigram_logprob" -> 500L,
    "profile_anomaly" -> 5L,
    "profile_drift" -> 5L,
    "c21_scd2" -> 802L,
    "c25_running_total" -> 1500L,
    "dedup_prefix_pairs" -> 28L,
    "c26_resample" -> 449L,
    "profile_winsorize" -> 5L,
    "sim_ivf_stored" -> 300L,
    "c27_dense_ids" -> 500L,
    "sample_bootstrap" -> 15L,
    "sim_ivfpq_ann" -> 50L,
    "sim_ivfpq_residual" -> 50L,
    "dedup_cdc_chunks" -> 208L,
    "mm_phash_pairs" -> 28L,
    "graph_domain_rank_stored" -> 20L,
    "mm_phash_clusters" -> 500L,
    "mm_phash_incremental" -> 9L,
    "mm_phash_stored" -> 9L,
    "mm_decontam" -> 18L,
    "dedup_cdc_incremental" -> 58L,
    "text_bpe_pairs" -> 20L,
    "text_bpe_merges" -> 3L,
    "text_bpe_encode" -> 500L,
    "text_pack_bins_bpe" -> 59L,
    "sample_dsir" -> 100L,
    "c28_agg_incremental" -> 150L,
    "text_quality_classifier" -> 500L,
    "text_clf_stored" -> 100L,
    "text_clf_eval" -> 9L,
    "text_bpe_fertility" -> 5L,
    "sample_diverse" -> 100L,
    "c29_funnel_steps" -> 3L,
    "sample_split_dedup" -> 3L,
    "profile_contamination" -> 18L,
    "profile_median_by_type" -> 5L,
    "sim_pq_rerank" -> 50L,
    "dedup_decontam_fuzzy" -> 8531L,
    "sample_token_budget" -> 5L,
    "text_bm25_topk" -> 25L,
    "text_boilerplate" -> 20L,
    "sim_recall_audit" -> 10L,
    "text_langid_eval" -> 10L,
    "sim_ivf_probe2" -> 30L,
    "c30_user_paths" -> 10L,
    "dedup_decontam_purge" -> 18L,
    "text_bm25_stored" -> 5L,
    "text_bm25_advance" -> 5L,
    "profile_eval_overlap" -> 50L,
    "sample_match_dist" -> 6L,
    "sample_weighted_grouped" -> 50L,
    "text_quality_tiers" -> 4L,
    "profile_median_scalable" -> 1L,
    "sketch_kmv_rolling" -> 30L,
    "sim_ivf_filtered" -> 30L,
    "sim_ivf_twolevel" -> 500L,
    "sample_dsir_stored" -> 50L,
  )

  test("every query has an oracle and vice versa") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("every query has a pinned count — no silent fallback to rows>0") {
    // a renamed query with a stale pin would otherwise degrade to the weak
    // n > 0 smoke without anything failing
    assert(expectedCounts.keySet === SparkEntry.queries.keySet)
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001 with pinned count") {
      val n = fn(spark, sf()).count()
      expectedCounts.get(name) match {
        case Some(expected) => assert(n === expected, s"row count drift for $name")
        case None => assert(n > 0L, s"$name returned no rows")
      }
    }
  }

  test("dedup_incremental_stored is row-identical to the recomputing query") {
    val stored = queries.DedupQueries.incrementalStored(spark, sf())
    val recomputed = queries.DedupQueries.incremental(spark, sf())
    assert(stored.exceptAll(recomputed).isEmpty &&
           recomputed.exceptAll(stored).isEmpty)
  }

  test("dedup_clusters_stored is row-identical to the recomputing query") {
    val stored = queries.DedupQueries.clustersStored(spark, sf())
    val recomputed = queries.DedupQueries.clusters(spark, sf())
    assert(stored.exceptAll(recomputed).isEmpty &&
           recomputed.exceptAll(stored).isEmpty)
  }

  test("dedup_clusters_incremental (contracted batch merge) equals full clustering") {
    val inc = queries.DedupQueries.clustersIncremental(spark, sf())
    val full = queries.DedupQueries.clusters(spark, sf())
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
  }

  test("the BM25 index builds take their corpus stats off the tf checkpoint's job") {
    // a fresh copy of the documents, so both memo entries build here; its
    // table and split resolve first, outside the counted builds
    val d = java.nio.file.Files.createTempDirectory("graft-bm25-jobs")
    java.nio.file.Files.copy(java.nio.file.Path.of(sf(), "documents.parquet"),
      d.resolve("documents.parquet"))
    queries.DedupQueries.splitId(spark, d.toString)
    val state = jobsOf(queries.TextQueries.bm25State(spark, d.toString))
    val adv = jobsOf(queries.TextQueries.bm25AdvState(spark, d.toString))
    info(s"bm25State build: $state jobs; bm25AdvState build: $adv jobs")
    // measured 11 and 22 when each tf checkpoint was followed by its own
    // (sum, max) aggregate: a shuffle-stage job plus a result job apiece
    assert(state <= 9, s"bm25State build ran $state jobs")
    assert(adv <= 18, s"bm25AdvState build ran $adv jobs")
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
