package graft

/** Plan-inspection utility: prints formatted physical plans for headline
  * queries so shuffle counts / pushdown / broadcast choices can be
  * reviewed (SCALE.md evidence). Not part of the driver contract. */
object Explain {
  def main(args: Array[String]): Unit = {
    // pin the bucketed-layout token so the committed plan text (b1's
    // table names embed it) is byte-reproducible across regenerations
    sys.props("graft.bucketed.token") = "explain"
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("p5_silver_clean", "a1_gold_hourly", "a4_country_stats",
        "q5_revenue_by_nation", "w3_rolling_stats", "ml_feature_matrix",
        "sim1_knn_bruteforce", "d3_ngram_jaccard", "xj1_asof_join",
        "xj2_range_join", "t5_tfidf_top3", "t6_stable_sample",
        "d7_decontaminate", "t10_token_budget", "x15_cdc_upsert",
        "x18_global_ids", "b1_bucketed_join", "q19_bracket_revenue",
        "t12_pii_scrub", "t13_pack_sequences", "t14_chunk_overlap",
        "x20_window_suite", "t15_unicode_normalize",
        "q9_product_profit", "t17_bm25_topk", "g2_triangle_count",
        "x26_event_transitions", "x27_merge_tombstones",
        "er1_fuzzy_match", "ml2_normal_equations", "x29_gap_fill",
        "q21_waiting_suppliers", "io5_zorder_layout",
        "d8_duplicate_spans", "ml3_auc", "t23_pmi_collocations",
        "t24_weighted_sample", "x40_zscore_outliers",
        "er2_edit_distance_match", "w9_rank_functions", "x38_rollup",
        "ds1_yoy_growth", "g3_kcore", "g7_sssp", "g8_link_prediction",
        "g9_hits", "g10_clustering_coeff", "g11_assortativity",
        "ml7_logistic_irls", "ml8_lift_table", "ir1_retrieval_eval",
        "w12_ewma", "x42_mad_outliers", "x44_skyline",
        "x45_linear_attribution", "x49_twap", "x50_revenue_share",
        "x51_pearson", "bf1_bloom_prune", "ds4_cross_channel",
        "w11_running_distinct",
        // round-5 session-4 additions
        "er3_phonetic_match", "x59_seq2_support", "x60_pair_lift",
        "ml10_feature_hashing", "qs1_quantile_sketch",
        "g13_modularity", "dq2_volume_anomaly",
        "x61_time_decay_attribution",
        // round-6 additions
        "d10_incremental_dedup", "t26_target_mixture",
        "dq4_freshness", "w14_rolling_slope", "ml12_psi",
        "g14_personalized_pagerank", "er4_golden_record",
        "ml13_threshold_sweep", "ml14_learning_curve",
        "x62_windowed_funnel", "dq5_categorical_drift",
        // round-7 additions
        "d11_incremental_neardup", "d12_semantic_dedup",
        "t27_quality_filter", "x23_funnel", "g12_ktruss",
        // round-7 continuation additions
        "dq7_fd_check", "x67_survival_km", "x68_ab_test", "x69_cuped",
        "t29_textrank", "g15_random_walks", "g16_mis",
        "x70_stl_decompose", "sim9_mmr_rerank", "er5_blocking_quality",
        "ml15_linear_shap", "t30_bpe_train",
        // round-7 session-3 additions
        "ml16_isotonic", "ml17_naive_bayes", "x75_growth_accounting",
        "x76_acf", "t31_source_kl", "io10_zone_map_scan",
        "x77_theil_sen", "dq8_quarantine", "ml18_pca_power",
        "er6_fellegi_sunter", "x78_gini", "x79_conversion_latency",
        "io11_time_travel", "ml19_permutation_importance",
        "d14_containment_pairs", "g19_degree_stats",
        "t32_langid_eval", "x80_stickiness",
        "ml20_mutual_info", "er7_threshold_sweep", "x82_top_paths",
        "x83_retention_curve", "x84_pvm_bridge", "g21_conductance",
        // round-7 session-4 additions
        "dq9_benford", "x81_abc_class", "x86_anova_dow",
        "t33_zipf_fit", "ml21_decision_stump", "g20_feature_prop",
        "x85_holt_forecast", "x87_cross_correlation", "t34_heaps_law",
        "ml22_gbt_stumps", "x88_seasonal_outliers", "er8_identity_graph",
        "x89_did_uplift", "ml23_maximin_init", "x90_contribution_bridge",
        "io12_incremental_ledger", "w16_rolling_extrema",
        "x91_hourly_profile", "sim10_filtered_knn",
        "io13_retention_sweep",
        // round-8 additions
        "d15_index_lifecycle", "s16_stream_neardup",
        "sim11_ann_recall_report", "ml24_loo_influence",
        "t36_temperature_mix", "io14_compaction",
        "mm7_media_exact_dedup", "ml25_conformal_intervals",
        "sim12_hard_negatives", "g22_rich_club", "dq10_profile_drift",
        "ml26_grouped_ols", "dq11_ks_test", "t37_ngram_novelty",
        "x92_holt_winters", "sim13_centroid_drift",
        "s17_stream_ks_gate", "dq12_key_skew", "er9_incremental_er",
        "ml27_ndcg_eval", "mm8_shard_plan", "x93_forecast_backtest",
        "g24_neighbor_sampling", "t38_source_overlap",
        "x94_decomposition_strength",
        // round-10 additions
        "sim14_index_lifecycle", "t39_capstone_pipeline",
        // round-11 additions
        "ds3_top_decile", "sim4_lsh_neardup",
        "x53_equi_depth_histogram", "x58_weighted_median",
        "t40_dsir_select", "d16_substring_excise", "g25_betweenness",
        "s20_stream_dsir_gate", "d17_minhash_portable",
        // round-12 additions
        "sim4p_lsh_portable", "sim2p_ivf_portable",
        "sim7p_ivf_trained_portable", "d4p_simhash_portable",
        "g17h_closeness_hll", "g18h_diameter_hll",
        "sim8p_pq_portable", "a3p_hll_portable", "cms1p_portable",
        "bf1p_bloom_portable",
        // round-13 additions
        "mm6p_perceptual_portable",
        // round-14 additions
        "g17hp_registers_portable", "g18hp_ballsums_portable",
        "g1_pagerank")
    // 4 cores, as the committed EXPLAIN.md was generated: partition
    // counts appear in the plans
    val spark = Session.build("4")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
