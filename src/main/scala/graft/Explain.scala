package graft

/** Plan-audit main: prints formatted physical plans for representative
  * queries so pushdown (PushedFilters), column pruning (ReadSchema),
  * broadcast joins and WholeStageCodegen spans can be eyeballed.
  * Usage: runMain graft.Explain [sfDir] [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("rel_filter_pushdown", "rel_star_join", "rel_join_asof",
        "rel_join_range", "rel_agg_salted", "rel_subquery_scalar",
        "rel_topk_grouped", "rel_window_range_frame",
        "sim_neardup_pairs", "dedup_minhash_lsh",
        "text_decontaminate", "text_domain_mix", "text_repetition",
        "text_span_dedup", "text_trainer_pipeline",
        "text_bloom_decontaminate", "text_data_card", "sim_retrieve_docs",
        "sim_topk_ivf_persisted", "sim_topk_pq_persisted",
        "sim_topk_ivfpq_persisted", "text_rare_bigram_ratio",
        "text_gopher_rules", "text_contamination_score", "sim_knn_graph",
        "sim_topk_int8", "mm_phash_neardup", "text_curation_funnel",
        "text_quality_sample",
        "mm_audio_neardup", "mm_video_neardup", "text_pack_tokens",
        "sim_semantic_clusters",
        "dedup_quality_survivor", "text_balanced_sample", "mm_dedup_funnel",
        "dedup_containment", "dedup_cross_source_overlap", "sim_mmr_rerank",
        "rel_event_funnel", "rel_cohort_retention",
        "text_lm_score", "text_bpe_token_stats", "text_mix_temperature",
        "sim_hard_negatives",
        "text_dsir_weights", "text_leakage_split", "text_split_leakage_audit",
        "text_classifier_calibration", "sim_range_search", "sim_leakage_split",
        "dedup_winnowing", "text_winnow_decontaminate", "dedup_joint_groups",
        "sim_hybrid_retrieve", "sim_hybrid_ivf", "sim_text_topk",
        "sim_late_interaction", "sim_li_pruned", "sim_li_ivf",
        "sim_li_deleted",
        "text_length_batches",
        "text_feature_embedding", "text_quality_signals", "rel_agg_corr",
        "sim_topk_binary", "sim_topk_matryoshka", "sim_topk_multiprobe",
        "sim_serving_matrix", "rel_join_bucketed", "rel_zorder_layout",
        "rel_agg_ols", "rel_event_transitions", "text_heavy_hitters_cms",
        "sim_topk_pca", "dedup_index_diff",
        "sim_ivf_retrain", "text_pack_sequences", "text_incremental_novelty",
        "sim_ivfpq_retrain", "sim_ivfpq_probe_sweep", "sim_li_retrain",
        "sim_pca_drift", "sim_pca_cutover", "sim_clusters_cutover",
        "dedup_serve_cutover", "mm_serve_cutover")
    val spark = Sessions.local(defaultCpus = 32)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
