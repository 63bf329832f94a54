package graft

import graft.operators.Catalog

/** Dev tooling: regenerate PLANS.md — formatted physical plans of the
  * headline queries at the given SF. Usage:
  * `sbt "runMain graft.DumpPlans /root/testdata/sf0.1 PLANS.md"`.
  */
object DumpPlans {
  val Headline: Seq[String] = Seq(
    "a01_range_scan", "a07_group_count", "a13_left_join", "c02_window_running",
    "d02_ngram_jaccard", "d03_minhash_lsh", "sim01_topk_cosine", "sim02_ann_lsh",
    "r01_asof_join", "r02_range_join", "t02_quality_score", "t03_lang_id",
    "x01_tumbling_window", "sim03_ann_ivf", "d06_dedup_clusters",
    "d07_dedup_apply", "t06_quality_filter", "d08_simhash_neardup",
    "k01_salted_agg", "k02_salted_join", "t08_stratified_sample",
    "c19_window_distribution", "d06c_dedup_clusters_star",
    "d09_decontaminate", "t10_tfidf_keywords", "t11_repetition",
    "sim05_kmeans_step", "d10_edit_distance",
    // round 4 additions
    "c31_bucketed_join", "sim07_kmeans_train", "sim08_ann_ivf_trained",
    "sim10_semdedup", "t14_temperature_mix", "t15_unigram_score",
    "t16_corpus_shuffle", "t17_sequence_chunks", "sim11_ann_ivf_indexed",
    "t18_ngram_novelty", "d13_source_leakage", "t19_upsample_repeat",
    "m04_media_by_cluster",
    // round 6 additions
    "t20_pack_sequences", "sim13_cell_balanced_sample",
    "sim16_pq_adc_search", "t24_boilerplate_extract",
    "sim19_pq_adc_rerank", "sim20_ivfpq_search", "sim21_ivfpq_recall",
    "t25_bpe_train", "t26_bpe_apply", "k04_compaction_plan",
    // round 6 continuation
    "g01_link_pagerank", "g03_triangle_count", "g05_kcore",
    "c38_kmv_sketch", "c39_decayed_agg", "r03_interval_overlap",
    "d21_containment", "t31_dsir_affinity", "e09_gas_epochs",
    "m08_audio_chunks",
    "c40_tpch_q3", "c41_tpch_q5", "c42_tpch_q1", "c43_tpch_q18",
    "t32_token_budget", "sim25_matryoshka_recall", "g06_community_sizes",
    // round 6 third session
    "c44_tpch_q6", "c45_tpch_q10", "r04_gap_fill",
    "sim26_sq_adc_search", "m09_phash_neardup",
    "r05_session_funnel", "c46_tpch_q14", "c47_tpch_q8",
    "k07_clustered_layout",
    // round 6 fourth session
    "g07_link_prediction", "r06_resample_ohlc", "p07_shard_manifest",
    // round 6 fifth session
    "sim30_range_search", "r07_asof_nearest", "c50_robust_stats",
    "e11_erc721_decode", "g08_label_propagation", "t33_token_diversity",
    "p08_curation_drift", "d22_threshold_sweep",
    // round 6 sixth session
    "r08_period_delta", "k08_skew_report", "c51_recursive_cte",
    "c52_ignore_nulls_window", "p09_quality_sweep", "sim32_assignment_churn",
    "c53_tpch_q7", "c54_tpch_q15", "c55_tpch_q13", "e12_address_activity",
    "c56_tpch_q17", "p10_repro_manifest", "e13_topic_histogram",
    "r09_retention_cohorts", "sim33_cell_balance",
    "c57_lambda_funcs", "g10_personalized_pagerank",
    "p11_quarantine", "e14_block_cadence", "sim34_hybrid_rrf", "e15_ticket_roundtrip",
    "c58_nullsafe_join", "c59_lateral_topn", "c60_group_by_all",
    "e16_ticket_single_block", "sim35_hot_cell_split", "e17_ticket_ci_address",
    "t34_source_vocab_overlap", "d23_cluster_size_histogram", "c61_variant", "g11_assortativity",
    // round 7
    "sim36_knn_graph", "sim37_knn_connectivity", "c62_hll_sketch",
    "t35_rag_chunks", "sim38_graph_ann_walk", "sim39_walk_recall",
    "sim40_walk_hop_sweep", "r10_linear_interp",
    // round 7 continuation
    "p12_deletion_propagation", "sim41_ivf_delete_serve", "sim42_ivf_compaction",
    "g12_bfs_distances", "t36_vocab_growth", "t37_leakage_safe_split",
    "e18_agg_pushdown", "e19_runtime_prune_join",
    // round 7 second continuation
    "sim44_rng_prune", "sim45_pruned_walk_recall",
    "sim46_residual_pq_search", "sim47_residual_pq_recall",
    "c63_filter_clause", "c64_window_exclude", "t38_bigram_surprisal",
    "g13_modularity", "sim48_layered_walk", "c65_try_funcs",
    "e20_spj_join",
    // recall twins (convention: every *_recall sibling of a listed walk
    // gets its plan snapshot too — sim43/sim49 were missing)
    "sim43_delete_recall", "sim49_layered_walk_recall",
    // round 8
    "x47_stream_pagerank", "e21_spj_topic_pushdown", "e22_spj_column_pruning",
    "x48_stream_triangles", "e23_spj_agg_pushdown", "x49_stream_assortativity",
    "c66_listagg", "c67_bool_aggs")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = SparkEntry.localSession(defaultCpus = 32)
    val sb = new StringBuilder
    sb ++= s"# PLANS — physical plans of headline queries ($sfDir, ${spark.sparkContext.master})\n\n"
    sb ++= "Generated by `sbt \"runMain graft.DumpPlans <sfDir> PLANS.md\"` from " +
      "`queryExecution.explainString(FormattedMode)`.\n"
    // GRAFT_PLANS_ONLY accepts ANY catalog query name (not just the
    // Headline set): names outside Headline are appended, so optimization
    // rounds can snapshot plans of every touched query.
    val only = sys.env.get("GRAFT_PLANS_ONLY").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = only match {
      case Some(set) =>
        // a typo'd name would otherwise be dropped SILENTLY, and the plan
        // snapshot the optimizer thinks it captured simply wouldn't exist
        val unknown = set.filterNot(Catalog.byName.contains)
        if (unknown.nonEmpty)
          System.err.println(
            s"[plans] WARNING: not in Catalog, skipped: ${unknown.toSeq.sorted.mkString(", ")}")
        (Headline.filter(set) ++ set.filterNot(Headline.contains).toSeq.sorted)
          .filter(Catalog.byName.contains)
      case None => Headline
    }
    names.foreach { name =>
      val df = Catalog.byName(name).build(spark, sfDir)
      sb ++= s"\n## $name\n\n```\n"
      sb ++= df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      sb ++= "```\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
