package graft

/** Dumps formatted physical plans for representative queries — the
  * `.explain("formatted")` iteration artifact (see PLANS.md).
  * Usage: runMain graft.Plans [sfDir] [queryName...] — with names given,
  * only those queries are dumped (per-query before/after evidence). */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = graft.core.GraftSession.local("graft-plans", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val picks = Seq(
      "q2_filter_project", "q3_join_agg", "q8_topk", "q11_ohlcv",
      "q24_minhash_pairs", "q28_knn_brute", "q34_asof_join",
      "q39_ivf_knn", "q43_split", "q48_tfidf", "q49_packing",
      "q52_scrub", "q54_embed_quant",
      "q55_contamination_bloom", "q56_lm_score", "q57_line_dedup",
      "q58_gopher_rules", "q59_drop_seen",
      "q60_fuzzy_names", "q61_dup_spans", "q63_semdedup", "q64_chunking",
      "q73_interval_join", "q74_token_budget", "q75_shuffle_shards",
      "q76_funnel", "q77_training_flow", "q78_global_window",
      "q79_best_keeper", "q80_epoch_mix", "q81_kmeans",
      "q82_kmeans_semdedup", "q83_head_sample", "q84_normalize",
      "q85_ccnet_buckets", "q86_norm_decontam", "q87_soft_dedup",
      "q88_hard_negatives", "q89_exact_quantiles", "q90_quantile_trim",
      "q91_cluster_sample", "q92_random_project", "q93_projected_ann",
      "q94_weighted_sample", "q95_zorder_key", "q96_scd2", "q97_profile",
      "q98_funnel_analysis", "q100_incremental_agg", "q101_temporal_lookup",
      "q102_expectations", "q103_snapshot_diff", "q104_pagerank",
      "q105_heavy_hitters", "q106_anomalies", "q107_survivorship",
      "q108_profile_contract", "q109_dsir_weights", "q110_dsir_select",
      "q111_containment", "q112_char_entropy", "q67_simhash_screen",
      "q113_sparse_cosine", "q114_triangles", "q115_bfs_hops",
      "q116_assoc_rules", "q117_rfm_segments",
      "q118_ewma", "q120_path_trigrams", "q122_cusum", "q124_cube",
      "q125_local_revenue", "q126_resample_locf", "q128_vwap",
      "q130_histogram", "q131_corr_moments", "q133_merge_apply",
      "q134_overlap_join", "q135_skyline", "q136_rolling_distinct",
      "q137_skew_gini", "q138_ab_test", "q139_trade_volume",
      "q140_above_brand_avg", "q141_html_extract", "q142_drawdown",
      "q143_streaks", "q144_twap", "q145_item_sim",
      "q146_abc_parts", "q148_pmi_bigrams", "q149_mad_outliers",
      "q152_dominant_suppliers", "q154_attribution",
      "q155_conversion_latency", "q156_source_overlap",
      "q157_late_orders", "q158_returned_revenue",
      "q159_label_affinity", "q160_idle_rich", "q161_doc_keywords",
      "q162_lone_late_supplier", "q163_pii_audit", "q164_session_paths",
      "q166_spatial_pairs", "q167_spatial_clusters",
      "q168_hamming_pairs", "q169_geo_pairs", "q170_triangle_total",
      "q171_ship_priority", "q172_forecast_revenue", "q173_market_share",
      "q174_profit_by_nation", "q175_late_pivot", "q176_order_distribution",
      "q177_promo_share", "q178_small_qty_revenue", "q179_big_orders",
      "q180_disjunctive_revenue",
      "q183_window_frames", "q184_sessions_bridge", "q185_pricing_full",
      "q186_supplier_parts", "q187_triangle_capped",
      "q190_min_cost_supplier", "q191_pq_topk", "q192_drift_gate",
      "q193_ivfadc_topk", "q194_kcore", "q195_ivfadc_residual", "q196_temp_mixture", "q197_cat_drift", "q198_jaro_names", "q199_jw_join", "q200_snm_jw", "q201_merge_purge", "q202_holt", "q203_shortest_paths", "q204_holt_winters", "q205_fk_contract", "q206_quantile_shift", "q207_binned_quantiles", "q208_label_prop", "q209_quantile_bins", "q210_mmr_topk",
      "q211_pq_exact", "q212_hybrid_rrf", "q213_index_delete",
      "q214_ann_recall", "q215_two_stage", "q216_hybrid_persisted",
      "q217_trained_quality", "q218_filtered_ann", "q219_index_stats",
      "q220_index_upsert", "q221_index_rollback", "q222_rank_drift",
      "q223_ivf_delete", "q224_drop_ledger", "q225_batched_probe",
      "q226_snapshot_prune", "q227_persisted_recall_gate",
      "q228_batched_probe_lifecycle", "q229_quantile_sketch",
      "q230_quantile_gate", "q231_incremental_snapshot",
      "q232_index_fsck", "q233_sketch_merge", "q234_leakage_split",
      "q235_grouped_store", "q236_embedding_drift",
      "q237_sentence_stats", "q238_lttb", "q239_calibration",
      "q240_decayed_leaders", "q241_readability", "q242_homoglyph_dedup", "q243_corpus_health", "q244_k_anonymity", "q245_m4", "q246_skeleton_decontam",
      "q247_stream_maintained_probe", "q248_minhash_lifecycle_recall",
      "q249_audio_envelope_oracle", "q250_snapshot_exposure",
      "q251_answers_erasure", "q252_vector_stream_gate")
    picks.filter(n => only.isEmpty || only.contains(n)).foreach { name =>
      println(s"\n===== $name =====")
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    // the native Catalyst as-of join (not a SparkEntry query: q34 keeps the
    // composed default) — shows AsOfJoinExec with one exchange+sort per side
    if (only.nonEmpty) { spark.stop(); return }
    println(s"\n===== native_asof (q34 route via AsOfJoinExec) =====")
    val events = graft.core.Tables.events(spark, sfDir)
      .selectExpr("event_id", "user_id", "ts")
    val orders = graft.core.Tables.orders(spark, sfDir)
    println(graft.plans.NativeAsOfJoin.asOf(events, orders, "user_id",
        "o_custkey", "ts", "o_orderdate", "o_orderkey",
        Seq("o_orderkey", "o_totalprice"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    spark.stop()
  }
}
