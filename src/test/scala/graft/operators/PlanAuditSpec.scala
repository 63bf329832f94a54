package graft.operators

import graft.SparkSpec

/** Whole-catalog physical-plan audit: no batch catalog query may plan a
  * CartesianProduct, a BroadcastNestedLoopJoin, or a SinglePartition
  * exchange — the three standard "works on the laptop, dies at 100 TB"
  * shapes. Streaming-drain queries (their build executes a stream) and
  * queries with a deliberate, bounded single-row reduction are listed
  * explicitly with the reason.
  */
class PlanAuditSpec extends SparkSpec {

  // Build each catalog query ONCE and share the DataFrame across the four
  // whole-catalog audits below. Each audit previously called q.build
  // itself, so the catalog was built 4× per run — and a build is not free:
  // checkpoint-on-build queries (g08, d22, sim38…) and shared-artifact
  // builders run real Spark jobs during construction. QueryExecution
  // memoizes sparkPlan/executedPlan per DataFrame, so every assertion
  // below still sees exactly the plan it asserted on before; this is a
  // measurement of the same object, not a behavior change. (Measured:
  // suite 350s → ~1/3 of that.)
  private val builtCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.DataFrame]
  private def built(name: String): org.apache.spark.sql.DataFrame =
    builtCache.getOrElseUpdate(name, Catalog.byName(name).build(spark, sfDir))

  // builds that EXECUTE on construction (streaming drains) — audited via
  // their own specs/gate entries instead
  private val executesOnBuild = Set(
    "e05_eth_stream_scan", "x04_stream_tumbling", "x05_stream_dedup",
    "x06_stream_stream_join", "x07_stateful_sessions", "x08_stream_curation",
    "x09_stream_restart", "x10_transform_with_state",
    "x11_stream_content_dedup", "x12_stream_index_append",
    "x13_stream_decontaminate", "x14_stream_session_window",
    "x15_stream_arrow_sink", "x16_reorg_removal", "x17_stream_ann_serve",
    "x18_stream_late_data", "x19_stream_cms_merge", "x20_stream_static_enrich",
    "x21_stream_outer_join", "x22_stream_kmv_merge", "x23_stream_partitioned_sink",
    "x24_stream_topk", "x25_stream_cdc_upsert", "x26_stream_ohlc",
    "x27_stream_hist_merge", "x28_stream_lsh_neardup", "x29_backfill_handoff",
    "x30_stream_address_activity", "x31_stream_locf", "x32_stream_ticket_serve",
    "x33_stream_cadence", "x34_stream_live_tail", "x35_stream_quarantine",
    "x36_stream_scd2", "d24_incremental_clusters", "x37_stream_hll_merge",
    "x38_stream_knn_maintain", "x39_stream_packing", "x40_stream_deletions",
    "x41_stream_tombstone_serve", "x42_stream_interval_join",
    "x43_stream_data_card", "x44_stream_liststate_topk",
    "x45_stream_mapstate_counts", "x46_stream_timer_snapshot",
    // Arrow IPC roundtrip: the build writes+reads IPC files eagerly; the
    // returned frame is a bounded local relation (scan itself is audited
    // via e01's plan — same connector path)
    "e06_arrow_roundtrip")

  // Deliberate, BOUNDED instances of the flagged shapes — each with the
  // reason it is scale-safe. Anything not listed here fails the audit.
  private val allowed: Map[String, Set[String]] = Map(
    // scalar subquery: the inner agg is ONE row; its single partition and
    // the 1-row broadcast nested-loop compare are the subquery mechanism,
    // not a data-volume bottleneck
    "c16_scalar_subquery" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // brute-force ANN baselines: corpus STREAMS against a broadcast probe
    // block bounded at ≤50 rows (the non-equi ≠ predicate forces BNLJ; the
    // build side is the bounded probe set by construction) — the designed
    // exact-baseline shape; sim02/sim03 are the bucketed scale paths
    "sim01_topk_cosine" -> Set("BroadcastNestedLoopJoin"),
    "sim23_knn_classify" -> Set("BroadcastNestedLoopJoin"),
    "sim24_mmr_rerank" -> Set("BroadcastNestedLoopJoin"),
    "sim06_hard_negatives" -> Set("BroadcastNestedLoopJoin"),
    "sim17_pq_recall" -> Set("BroadcastNestedLoopJoin"),
    "sim19_pq_adc_rerank" -> Set("BroadcastNestedLoopJoin"),
    "sim21_ivfpq_recall" -> Set("BroadcastNestedLoopJoin"),
    "d05_embedding_neardup" -> Set("BroadcastNestedLoopJoin"),
    "sim25_matryoshka_recall" -> Set("BroadcastNestedLoopJoin"),
    // single-row global aggregates: the one-partition stage IS the answer
    "a12_bool_count" -> Set("SinglePartition"),
    "c44_tpch_q6" -> Set("SinglePartition"),
    "r05_session_funnel" -> Set("SinglePartition"),
    "c46_tpch_q14" -> Set("SinglePartition"),
    "k07_clustered_layout" -> Set("SinglePartition"),
    // expectations report: six bounded 1-row constraint aggregates unioned
    "p06_data_expectations" -> Set("SinglePartition"),
    // SQ serving: corpus streams against the bounded broadcast probe block
    // (the sim01 exact-baseline shape; ≠ predicate forces BNLJ)
    "sim26_sq_adc_search" -> Set("BroadcastNestedLoopJoin"),
    "sim27_sq_recall" -> Set("BroadcastNestedLoopJoin"),
    // pareto report: four bounded 1-row recall aggregates (the p05 report
    // shape) over brute-force-truth branches (bounded broadcast probes)
    "sim28_quantization_pareto" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    "sim29_binary_search" -> Set("BroadcastNestedLoopJoin"),
    // range search: the sim01 exact-baseline shape (corpus streams against
    // the bounded broadcast probe block; ≠ predicate forces BNLJ)
    "sim30_range_search" -> Set("BroadcastNestedLoopJoin"),
    // one-row normalizers (max per-lang rate / corpus token total): the
    // single-partition agg is 1 row and its crossJoin-back is a 1-row
    // broadcast nested loop — bounded by construction, the c16 pattern
    "t14_temperature_mix" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    "t15_unigram_score" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    "t22_keyword_search" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    "t19_upsample_repeat" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    "e02_eth_blocks_scan" -> Set("SinglePartition"),
    "e03_eth_bisection" -> Set("SinglePartition"),
    // chunk planning: a 1-row MAX drives the sequence explode
    "s05_chunk_plan" -> Set("SinglePartition"),
    // quantile read-out: a 4-row threshold probe inequality-joins the
    // BOUNDED histogram sketch (≤ value-range/width rows) — the 1-row
    // n_total crossJoin and the BNLJ touch sketch-sized relations only
    "c37_quantile_sketch" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // decay anchor / DSIR totals: 1-row corpus aggregates crossJoined back
    // — the c16/t15 bounded-normalizer pattern
    "c39_decayed_agg" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    "t31_dsir_affinity" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // funnel stage counts / peel-round audit rows: each branch reduces to
    // ONE row before the union — the output is the bounded report itself
    "p05_funnel_report" -> Set("SinglePartition"),
    "g05_kcore" -> Set("SinglePartition"),
    // allocation table: 1-row totals crossJoined back + a ranking window
    // over the <= |sources| aggregate — bounded by construction
    "t32_token_budget" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // drift report: two 1-row corpus totals crossJoined back onto the
    // bounded per-source table — the c16/t14 bounded-normalizer pattern
    "p08_curation_drift" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // skew report: two 1-row per-dimension summaries unioned — the p06
    // bounded-report shape
    "k08_skew_report" -> Set("SinglePartition"),
    // sweep: 1-row corpus-totals normalizer crossJoined back (c16/t15)
    "p09_quality_sweep" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // Q15's scalar max: a 1-row global aggregate whose broadcast feeds an
    // EQUI-join on the revenue value (not a nested loop) — the c16 bounded
    // single-row reduction
    "c54_tpch_q15" -> Set("SinglePartition"),
    // Q17's answer IS one row (the single-row-report shape)
    "c56_tpch_q17" -> Set("SinglePartition"),
    // manifest: four 1-row stage certificates unioned (the p06 shape)
    "p10_repro_manifest" -> Set("SinglePartition"),
    // cell report: 1-row totals normalizer crossJoined onto the ≤cells
    // rows (the c16/t15 bounded-normalizer pattern)
    "sim33_cell_balance" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // quarantine report: the answer IS one row (the c56/a12 shape)
    "p11_quarantine" -> Set("SinglePartition"),
    // assortativity: the answer IS one row of exact moments
    "g11_assortativity" -> Set("SinglePartition"),
    // its live twin reads the same one-row report out of the maintained
    // degree/sxy stores (the per-batch maintenance work is partitioned;
    // only the final scalar assembly is single-row)
    "x49_stream_assortativity" -> Set("SinglePartition"),
    // connectivity report: the answer IS one row (component-count agg) and
    // its crossJoin-back of the 1-row corpus total is the c16 pattern
    "sim37_knn_connectivity" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // deletion report: four (1-row count × 1-row checksum-agg) branches —
    // each crossJoin joins two single-row aggregates (the p06/p10 bounded
    // report shape); the propagation joins themselves are equi/anti joins
    "p12_deletion_propagation" -> Set("SinglePartition", "BroadcastNestedLoopJoin"),
    // the limit branch's agg runs over ≤5 connector rows (the full branch
    // has NO aggregate at all — completely pushed, require()d in-build)
    "e18_agg_pushdown" -> Set("SinglePartition"),
    // recall truth: corpus streams against the bounded broadcast probe
    // block (the sim01 exact-baseline shape; ≠ predicate forces BNLJ)
    "sim47_residual_pq_recall" -> Set("BroadcastNestedLoopJoin"))

  test("no catalog query plans cartesian / nested-loop / single-partition shapes") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    Catalog.all.filterNot(q => executesOnBuild(q.name)).foreach { q =>
      val plan =
        try built(q.name).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
      val ok = allowed.getOrElse(q.name, Set.empty)
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "SinglePartition")
        .filterNot(ok)
        .foreach(smell => if (plan.contains(smell)) offenders += s"${q.name}: $smell")
    }
    assert(offenders.isEmpty,
      s"scale-hostile plan shapes found:\n${offenders.mkString("\n")}")
  }

  // Shuffle-exchange BUDGETS for the headline queries: how many shuffle
  // exchanges (hash/range repartitionings; broadcast exchanges excluded —
  // a small-side broadcast is the shape we WANT) each plan is allowed at
  // the spec SF. An edit that introduces an avoidable shuffle now fails
  // the build instead of waiting for a judge's plan read. Budgets are
  // ceilings: a plan that loses a shuffle passes (then tighten the pin).
  private val shuffleBudgets: Map[String, Int] = Map(
    "a07_group_count" -> 2, // partial+final agg split by the sort
    "c02_window_running" -> 3, // pre-agg + window partition + final sort
    "c19_window_distribution" -> 2, // range repartition + final sort; NO SinglePartition
    "c31_bucketed_join" -> 2, // join-key exchange = 0 (guarded in-query); the 2 are post-join agg + sort
    "d03_minhash_lsh" -> 2, // band-bucket equi-join + verify join share partitioning
    "d06_dedup_clusters" -> 1, // one shuffle per CC iteration, lineage truncated
    "d07_dedup_apply" -> 3, // cluster resolve + anti-join + final sort
    "k01_salted_agg" -> 3, // salted partial + unsalt + final sort (two-phase by design)
    "r01_asof_join" -> 2, // union repartition + window; no per-row range probe
    "sim03_ann_ivf" -> 4, // probe window + candidate join + two-phase top-k + sort
    "sim05_kmeans_step" -> 2, // the one two-level kmeans aggregate + sort
    "t10_tfidf_keywords" -> 5, // df agg + tf agg + doc-partitioned rank + sort
    "sim10_semdedup" -> 3, // within-cell self-join + dedup distinct + final sort
    "sim11_ann_ivf_indexed" -> 5, // probe window + candidate join + two-phase top-k + sort
    "t18_ngram_novelty" -> 3, // df agg + per-doc agg + final sort
    "t15_unigram_score" -> 4, // token agg + tf join + per-doc agg + sort
    "d14_duplicate_spans" -> 4, // gram df agg + membership join + doc window + sort
    "d15_winnowing" -> 3, // doc-partitioned windows + distinct + final sort
    // two-phase grouped running total: (pid,source) local window + the
    // map-side-combined totals shuffle (subtotal rows, not data) + the
    // ≤parts-rows-per-source offsets window + final sort
    "t20_pack_sequences" -> 4,
    // round-5/6 queries (ceilings = measured counts at spec SF)
    "c32_range_frame" -> 2, // event-type window + final sort
    "c33_rank_family" -> 2, // event-type window + final sort
    "d16_contamination_report" -> 3, // shingle semi-join agg + per-source agg + sort
    "d17_minhash_estimate" -> 8, // sig-pair join + per-pair agg + exact-side join + sort
    "d18_dedup_spans_apply" -> 4, // gram df + membership + per-doc rebuild + sort
    "e07_eth_logs_blocks_join" -> 2, // blocks side broadcast; agg + sort only
    "k03_zorder_layout" -> 2, // z-bucket repartition + extent agg
    "m05_media_dedup" -> 2, // digest window + final sort
    "m06_frame_neardup" -> 4, // frame digest equi-join + dedup + sort
    "p04_data_card" -> 5, // text-copies window + decontam join + source agg + sort
    "sim12_label_affinity" -> 10, // per-(label,dim) exact sums + label-pair dots + norms
    "sim13_cell_balanced_sample" -> 3, // perKeyTopK (local+final) + sort
    "sim14_scalar_quantization" -> 3, // per-dim range agg + per-vec agg + sort
    "sim15_pq_encode" -> 2, // (vec,subspace) argmin window + sort
    "sim16_pq_adc_search" -> 5, // encode + ADC agg + perKeyTopK + sort
    "sim17_pq_recall" -> 10, // sim16 plan + brute-force truth + recall join
    "t21_train_val_test" -> 2, // split agg + sort
    "t22_keyword_search" -> 4, // tf agg + df agg + weighted agg + top-k
    "t23_quality_classifier" -> 1, // map-only score + final sort
    "t24_boilerplate_extract" -> 1, // map-only extraction + final sort
    "sim19_pq_adc_rerank" -> 10, // ADC + shortlist topk + rerank topk + truth + recall join
    "sim20_ivfpq_search" -> 7, // encode + cell-candidate join + pruned ADC agg + perKeyTopK + sort
    "sim21_ivfpq_recall" -> 12, // sim20 plan + brute-force truth + recall join
    "t25_bpe_train" -> 1, // per-round aggs run inside build; emitted merge table is 6 rows + sort
    "t26_bpe_apply" -> 2, // map-only merge rewrites + per-doc agg + final sort
    "k04_compaction_plan" -> 5, // t20's two-phase prefix sum + manifest agg + final sort
    // round-6 continuation queries (ceilings = measured at spec SF)
    "g01_link_pagerank" -> 7, // 3 iterations × (edge join + dst agg partials collapse) + final sort
    "g02_degree_histogram" -> 3, // in-degree agg + histogram agg + final sort
    "c34_countmin_heavy" -> 4, // sketch agg + distinct keys + est agg + true-count join
    "c35_scd2_intervals" -> 2, // one user_id window shared by both passes + final sort
    "k05_zone_map_prune" -> 2, // per-file zone agg + final sort
    "t27_c4_filters" -> 1, // map-only page filter + final sort
    "t28_quality_quartile" -> 2, // c19 range repartition + final sort; NO SinglePartition
    "d19_soft_dedup_weights" -> 6, // d02 pair graph + CC iterations + size join + source agg
    // round-6 batch 2+ (ceilings = measured at spec SF)
    "e08_erc20_decode" -> 1, // map-only ABI decode + final sort
    "m07_scene_cuts" -> 2, // per-doc lag window + final sort
    "g03_triangle_count" -> 23, // dedup + degrees + orient + wedge join + close semi-join + explode agg
    "g04_hits" -> 11, // 2 rounds × (edge⋈mass + agg) + two left joins back
    "d20_line_dedup" -> 3, // first-occurrence agg + line join + per-doc rebuild
    "t29_gopher_rules" -> 1, // map-only signal battery + final sort
    "t30_bigram_lm" -> 3, // w1 repartition (c2 agg + c1 window ride it) + per-doc agg + sort
    "sim22_filtered_ann" -> 4, // label pre-filter + probe cells + perKeyTopK + sort
    // round 8: pairs now read from the shared probe-pair artifact, whose
    // accurate (small) stats flip the label join's build side — the
    // bounded ≤ k·probes top list is broadcast and the corpus-sized
    // label table STREAMS (the old plan broadcast the whole label
    // projection: cheaper-looking here, wrong at scale). Re-establishing
    // qid clustering downstream costs 3 extra exchanges of ≤ k·probes
    // rows each — bounded frames, deliberately accepted.
    "sim23_knn_classify" -> 6, // neighbor topk + vote agg + vote argmax + sort
    "sim24_mmr_rerank" -> 71, // greedy loop: 8 bounded pool-sized argmax stages (≤ k·parts rows each)
    "c36_bloom_semijoin" -> 6, // bloom build agg + probe + exact side + compare join
    "c37_quantile_sketch" -> 6, // bucket agg + two-phase prefix sum + n-from-sketch agg split + probe join + sort
    "c38_kmv_sketch" -> 6, // distinct hashes + perKeyTopK (local+final) + estimate agg + tru join
    "c39_decayed_agg" -> 2, // 1-row anchor broadcast; grouped agg + sort
    "r03_interval_overlap" -> 5, // delta explode + two-phase prefix sum + per-type max
    "g05_kcore" -> 3, // per-round: degree agg + 2 survivor semi-joins (lineage truncated per round)
    "d21_containment" -> 8, // d02's capped shingle pair join + hot-set restore + sort
    "t31_dsir_affinity" -> 4, // vocab agg + target agg + lean join back + per-doc agg
    "p05_funnel_report" -> 10, // d09 + d07b sub-builds + 4 one-row stage counts
    "e09_gas_epochs" -> 2, // epoch agg + final sort
    "m08_audio_chunks" -> 1, // map-only chunker + final sort
    "c40_tpch_q3" -> 2, // broadcast dims; one fact-fact shuffle pair + agg split; top-10 is TakeOrdered
    "c41_tpch_q5" -> 3, // broadcast region/nation/supplier; order-key shuffle pair + grouped agg
    "c42_tpch_q1" -> 2, // one map-side-combined agg on the 6-value key + final sort
    "t32_token_budget" -> 4, // per-source token agg + 1-row total + final sort; remainder ranking is a driver collect
    "sim25_matryoshka_recall" -> 8, // two broadcast-probe scans + 2×perKeyTopK + recall join + sort
    "c43_tpch_q18" -> 2, // per-order rollup; survivors broadcast; top-10 is TakeOrdered
    "g06_community_sizes" -> 6, // star-CC fixpoint (lineage truncated per round) + two histogram aggs
    "k06_compaction_apply" -> 2, // read-back scan + manifest agg + sort (write executed on build)
    // round-6 third-session queries (ceilings = measured at spec SF)
    "c44_tpch_q6" -> 0, // pushed-filter scan + single-row global agg; no wide shuffle at all
    "c45_tpch_q10" -> 1, // fact-fact order-key join + pre-dim agg collapse; top-20 is TakeOrdered
    "r04_gap_fill" -> 7, // obs agg + span agg + grid join + two-phase prefix count + obs_idx join + sort
    "sim26_sq_adc_search" -> 3, // map-only reconstruct; perKeyTopK (local+final) + sort
    "sim27_sq_recall" -> 8, // sim26 plan + brute-force truth + recall join
    "m09_phash_neardup" -> 4, // band equi-join + candidate distinct + two sig joins (broadcast at spec SF); top-20 is TakeOrdered
    "r05_session_funnel" -> 5, // user-window tag + three co-partitioned (user,sid) agg passes; 1-row report
    "c46_tpch_q14" -> 0, // pushed date scan + broadcast part dim + single-row global agg
    "c47_tpch_q8" -> 3, // two fact shuffle pairs (measured 2 at spec SF) + year rollup; all dims broadcast
    "sim28_quantization_pareto" -> 34, // 5 recall branches × (search + truth perKeyTopK + 1-row agg); report-shaped
    "sim29_binary_search" -> 3, // map-only sign words; perKeyTopK (local+final) + sort
    "k07_clustered_layout" -> 8, // two-phase global rank + two distinct-pair dedups + 1-row metric aggs
    "c48_cdc_upsert" -> 3, // two per-key snapshot aggs + the key-to-key full outer merge + sort
    "c49_rolling_distinct" -> 7, // (user,day) dedup + ×7 coverage explode join + two distinct aggs + sort
    "p06_data_expectations" -> 2, // six 1-row constraint aggs (anti-join broadcast at spec SF) + sort
    // round-6 fourth-session queries (ceilings = measured at spec SF)
    "g07_link_prediction" -> 18, // adjacency dedup + degree joins + wedge self-join + pair agg; top-20 is TakeOrdered
    "r06_resample_ohlc" -> 2, // one map-side-combined (event_type, bucket) agg split + final sort
    "p07_shard_manifest" -> 2, // map-only routing + one map-side-combined agg split + final sort
    // round-6 fifth-session queries (ceilings = measured at spec SF)
    "sim30_range_search" -> 2, // broadcast-probe scan + tiny post-filter count agg join + sort
    "sim31_nprobe_sweep" -> 1, // searches execute on build (4 bounded counts); emitted table is 4 rows + sort
    "r07_asof_nearest" -> 3, // two asof union windows (user-keyed) + unique-key winner join + sort
    "c50_robust_stats" -> 14, // 3 passes (median, MAD, mode) over two-phase prefix ranks + report joins
    "e11_erc721_decode" -> 1, // map-only ABI decode + final sort
    "g08_label_propagation" -> 1, // rounds checkpoint on build; emitted table needs the final sort only
    "t33_token_diversity" -> 3, // (doc,token) agg + per-doc agg + final sort
    "p08_curation_drift" -> 5, // digest keep-agg + semi-join + two per-source aggs + sort
    "d22_threshold_sweep" -> 1, // pair graph checkpoints on build; emitted table is 4 rows + sort
    // round-6 sixth-session queries (ceilings = measured at spec SF)
    "r08_period_delta" -> 3, // one map-side-combined daily agg split + post-agg lag window + sort
    "k08_skew_report" -> 2, // two per-dimension key aggs reduced to 1-row summaries + union sort
    "c51_recursive_cte" -> 2, // UnionLoop iterations + final min/count agg split
    "c52_ignore_nulls_window" -> 2, // one user-keyed window pass (both frames share it) + final sort
    "p09_quality_sweep" -> 2, // token-count scan + bounded cut-explode agg + 1-row normalizer
    "sim32_assignment_churn" -> 2, // two map-only assignment scans + vec_id join + cells² agg
    "c53_tpch_q7" -> 2, // one fact-fact order-key shuffle pair; both nation chains broadcast
    "c54_tpch_q15" -> 3, // quarter revenue agg split + broadcast max equi-join; dimension broadcast
    "c55_tpch_q13" -> 3, // customer-key left join + per-customer count + histogram agg
    "e12_address_activity" -> 3, // address agg with exact distinct-tx expansion + final sort
    "c56_tpch_q17" -> 1, // brand parts broadcast; one per-part agg (broadcast back); 1-row report
    "p10_repro_manifest" -> 1, // stage id-joins broadcast at spec SF; four 1-row certificates
    "e13_topic_histogram" -> 3, // signature agg with exact distinct-contract expansion + sort
    "r09_retention_cohorts" -> 6, // (user,day) dedup + cohort min + triangle agg + sizes + sort
    "sim33_cell_balance" -> 3, // map-only assignment + cells agg split + final sort
    "c57_lambda_funcs" -> 1, // map-only per-row array programs + final sort
    "g10_personalized_pagerank" -> 7, // 3 iterations x (edge join + dst agg collapse) + final sort
    "p11_quarantine" -> 0, // map-only check battery + one global 1-row report agg
    "e14_block_cadence" -> 4, // shifted self-join pair + epoch agg split
    "sim34_hybrid_rrf" -> 9, // dense perKeyTopK + full-outer fuse with the collected lexical top-20 + top-10
    "e15_ticket_roundtrip" -> 1, // topic set pushed as scan options; final sort only (top-2 agg runs on build)
    "c58_nullsafe_join" -> 2, // broadcast dim + label agg split
    "c59_lateral_topn" -> 4, // distinct types + decorrelated join + rank window + final sort
    "c60_group_by_all" -> 2, // one map-side-combined agg split + final sort
    "e16_ticket_single_block" -> 0, // single-block bounded scan, no shuffle at all
    "sim35_hot_cell_split" -> 2, // member argmax map-only; subcell count agg split (hot pick + sums run on build)
    "e17_ticket_ci_address" -> 1, // address set pushed as scan options; final sort only (top-2 agg runs on build)
    "t34_source_vocab_overlap" -> 8, // vocab distinct + token equi-join + pair agg + sizes joins + sort
    "d23_cluster_size_histogram" -> 5, // cluster left join + per-cluster agg + histogram agg + sort
    "c61_variant" -> 2, // map-only variant parse/extract + one decile agg split
    "g11_assortativity" -> 8, // edge dedup + degree agg + two degree joins + 1-row moment agg
    // round-7 queries (ceilings = measured at spec SF)
    "sim36_knn_graph" -> 3, // within-cell equi-join + perKeyTopK (local+final) + sort
    "sim37_knn_connectivity" -> 2, // CC rounds checkpoint on build; sizes agg + 1-row report
    "c62_hll_sketch" -> 6, // distinct hash agg + register agg + read-out agg + true-count join + sort
    "t35_rag_chunks" -> 1, // map-only window explode + final sort
    "sim38_graph_ann_walk" -> 3, // hops checkpoint on build; final perKeyTopK (local+final) + sort
    "sim39_walk_recall" -> 0, // hit/truth counts run on build; emitted report is one local row
    "r10_linear_interp" -> 4, // obs agg + grid prefix pass + one ranked-obs pass (checkpointed, both brackets) + sort
    "sim40_walk_hop_sweep" -> 1, // per-hop recall counts run on build; emitted 3-row sweep + its sort
    "p12_deletion_propagation" -> 4, // keep-lists checkpoint on build; emitted 4-row report + its sort
    "sim41_ivf_delete_serve" -> 0, // serve + deletion laws run on build; emitted table is the checkpointed serve
    "g12_bfs_distances" -> 3, // hops checkpoint on build; emitted doc⋈settled join pair + final sort
    "t36_vocab_growth" -> 4, // token aggs collapse into the 2 two-phase prefix sums (subtotal rows, not data) + sort
    "e18_agg_pushdown" -> 1, // full branch is the pushed 1-row scan; limit branch aggs ≤5 rows; 2-row sort
    "sim42_ivf_compaction" -> 5, // compaction + serve laws run on build; emitted 16-cell count join + sort
    "t37_leakage_safe_split" -> 1, // split/leak counts run on build; emitted 2-row report + its sort
    "e19_runtime_prune_join" -> 3, // broadcast dim + DPP-pruned block scan; per-block agg split + sort
    "sim43_delete_recall" -> 0, // hit/truth counts run on build; emitted report is one local row
    "r11_asof_tolerance" -> 0, // asof + mask checkpoint on build (laws need the counts); emitted scan only
    "sim44_rng_prune" -> 3, // edges/npair/kept checkpoint on build; emitted edges⋈kept join (both sides shuffle at spec SF) + sort
    "sim45_pruned_walk_recall" -> 0, // prune/walk/recall counts run on build; emitted report is one local row
    "c63_filter_clause" -> 3, // one expand-based distinct+filter agg (partial/final) + sort
    "t38_bigram_surprisal" -> 3, // w1 repartition + per-doc agg + sort (t30's shape)
    "g13_modularity" -> 6, // und/labels checkpoint on build; degree agg + member/intra joins + community aggs + sort
    "sim46_residual_pq_search" -> 6, // residual checkpoint on build; encode argmin + cand join + ADC agg + perKeyTopK + sort
    "sim47_residual_pq_recall" -> 11, // composes sim46's full chain (encode argmin + ADC + topk, the sim21=12 pattern) + truth perKeyTopK + hit agg + sort
    "c64_window_exclude" -> 2, // one partition-sum window + final sort
    "sim48_layered_walk" -> 3, // both walks checkpoint per hop on build; final perKeyTopK (local+final) + sort
    "sim49_layered_walk_recall" -> 0, // hit/truth counts run on build; emitted report is one local row
    "c65_try_funcs" -> 1, // map-only try battery + final sort
    "e20_spj_join" -> 1) // the join itself is shuffle-FREE (require()d in-build); final sort only over the checkpointed result

  test("headline queries stay inside their shuffle-exchange budgets") {
    val shuffle = raw"(?<!Broadcast)Exchange (hash|range)partitioning".r
    val counts = shuffleBudgets.keys.toSeq.sorted.map { name =>
      val plan = built(name).queryExecution.executedPlan.toString
      name -> shuffle.findAllIn(plan).size
    }
    val over = counts.filter { case (n, c) => c > shuffleBudgets(n) }
    assert(over.isEmpty,
      s"shuffle budget exceeded (actual vs budget):\n" +
        over.map { case (n, c) => s"  $n: $c > ${shuffleBudgets(n)}" }.mkString("\n") +
        s"\nall counts: ${counts.map { case (n, c) => s"$n=$c" }.mkString(", ")}")
  }

  // ——— low-cardinality window audit (the t20/sim13 funnel class) ———

  // Fixture columns with BOUNDED domains, plus the probe-set key `qid`: a
  // window partitioned ONLY on these runs a constant number of tasks no
  // matter how large the data grows — each task then scans an
  // ever-growing share of the corpus. The smell the three shape checks
  // above cannot see. `__pid` (spark_partition_id) and any unbounded
  // column (doc_id, vec_id, digest, text, user/order keys…) in the
  // partition spec make a window safe: group size is then bounded by the
  // input partition or grows sub-linearly.
  private val boundedDomainCols = Set(
    "source", "lang", "cell", "label", "split", "method", "event_type",
    "o_orderpriority", "l_returnflag", "l_linestatus", "tbl", "band",
    "qid", "subspace")

  // Bounded-by-construction exceptions — each names the mechanism that
  // bounds the per-key group, not just a hand-wave.
  private val allowedLowCardWindows: Map[String, String] = Map(
    "c01_window_rank" -> "stock rank-window SEMANTICS are the subject; the scale path is StockOps.perKeyTopK",
    "c32_range_frame" -> "stock RANGE-frame semantics are the subject; value frames have no two-phase form",
    "c64_window_exclude" -> "stock EXCLUDE-frame semantics are the subject (the loo identity needs the partition sum); the two-phase scale path is globalDistributionRanks' offsets convention",
    "c33_rank_family" -> "stock percent_rank/cume_dist/ntile semantics; scale path is globalDistributionRanks (c19)",
    "t20_pack_sequences" -> "groupedRunningTotal offsets window: <= parts rows per source by phase-1 aggregation",
    "k04_compaction_plan" -> "groupedRunningTotal offsets window: <= parts rows per source by phase-1 aggregation",
    "sim13_cell_balanced_sample" -> "perKeyTopK phase 2: <= k*parts rows per cell after phase-1 pruning",
    "sim01_topk_cosine" -> "perKeyTopK phase 2: <= k*parts rows per qid",
    "sim02_ann_lsh" -> "perKeyTopK phase 2: <= k*parts rows per qid",
    "sim03_ann_ivf" -> "perKeyTopK phase 2 + probeCells (<= IvfCells exploded rows per qid)",
    "sim06_hard_negatives" -> "perKeyTopK phase 2: <= k*parts rows per qid",
    "sim08_ann_ivf_trained" -> "perKeyTopK phase 2 + probeCells (<= IvfCells rows per qid)",
    "sim11_ann_ivf_indexed" -> "perKeyTopK phase 2 + probeCells (<= IvfCells rows per qid)",
    "sim16_pq_adc_search" -> "perKeyTopK phase 2: <= k*parts rows per qid",
    "sim17_pq_recall" -> "perKeyTopK phase 2 (ADC + brute-force truth): <= k*parts rows per qid",
    "sim19_pq_adc_rerank" -> "perKeyTopK phase 2 (candidates, rerank, truth): <= k*parts rows per qid",
    "sim20_ivfpq_search" -> "perKeyTopK phase 2 + probeCells (<= IvfCells rows per qid) + pqEncodedWith argmin on (vec_id, subspace) — corpus-cardinality keys",
    "sim21_ivfpq_recall" -> "sim20's windows + brute-force truth perKeyTopK phase 2: <= k*parts rows per qid",
    "sim22_filtered_ann" -> "perKeyTopK phase 2 + probeCells (<= IvfCells rows per qid)",
    "sim23_knn_classify" -> "perKeyTopK phase 2 (neighbors + vote argmax): <= k*parts rows per qid",
    "sim24_mmr_rerank" -> "perKeyTopK phase 2 (pool + 3 greedy argmax steps): <= k*parts rows per qid",
    "sim25_matryoshka_recall" -> "perKeyTopK phase 2 (truncated + full truth): <= k*parts rows per qid",
    "c38_kmv_sketch" -> "perKeyTopK phase 2: <= k*parts rows per event_type",
    "sim26_sq_adc_search" -> "perKeyTopK phase 2: <= k*parts rows per qid",
    "sim27_sq_recall" -> "perKeyTopK phase 2 (SQ search + brute-force truth): <= k*parts rows per qid",
    "sim28_quantization_pareto" -> "perKeyTopK phase 2 (all five search branches + truth): <= k*parts rows per qid",
    "sim29_binary_search" -> "perKeyTopK phase 2: <= k*parts rows per qid",
    "sim38_graph_ann_walk" -> "perKeyTopK phase 2 over the checkpointed frontier: <= probes*beam rows total",
    "sim46_residual_pq_search" -> "perKeyTopK phase 2 + pqEncodedOf argmin on (vec_id, subspace) — corpus-cardinality keys",
    "sim48_layered_walk" -> "perKeyTopK phase 2 over the checkpointed base-layer frontier: <= probes*beam rows total",
    "sim47_residual_pq_recall" -> "sim46's windows + brute-force truth perKeyTopK phase 2: <= k*parts rows per qid",
    "r03_interval_overlap" -> "groupedRunningTotal offsets window: <= parts rows per event_type by phase-1 aggregation",
    "c50_robust_stats" -> "groupedRunningTotal offsets windows (median + MAD passes): <= parts rows per event_type by phase-1 aggregation",
    "r08_period_delta" -> "lag window runs POST-aggregation: <= #days rows per event_type regardless of event volume",
    "sim34_hybrid_rrf" -> "perKeyTopK phase 2 (the dense ranking): <= k*parts rows per qid",
    "c59_lateral_topn" -> "stock LATERAL-decorrelation semantics are the subject (Catalyst plans the rank window); the scale path is StockOps.perKeyTopK",
    "t36_vocab_growth" -> "groupedRunningTotal offsets windows (both cumulative sums): <= parts rows per source by phase-1 aggregation")

  private def lowCardWindowKeys(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.flatMap(_.references.map(_.name).toSeq).distinct
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        w.partitionSpec.flatMap(_.references.map(_.name).toSeq).distinct
    }.filter(ks => ks.nonEmpty && ks.forall(k => boundedDomainCols(k.takeWhile(_ != '#'))))

  test("no window partitions only on bounded-domain keys") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    Catalog.all.filterNot(q => executesOnBuild(q.name)).foreach { q =>
      lowCardWindowKeys(built(q.name)).foreach { ks =>
        if (!allowedLowCardWindows.contains(q.name))
          offenders += s"${q.name}: Window.partitionBy(${ks.mkString(", ")})"
      }
    }
    assert(offenders.isEmpty,
      "window funnels (constant task count, per-task work grows with data):\n" +
        offenders.mkString("\n"))
  }

  test("the detector catches the pre-fix t20 shape (failing-then-fixed demo)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the exact formulation round 5 shipped: one running-total window per
    // source — the detector must flag it...
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = Catalog.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("end_tok", sum(col("n_toks")).over(w))
    assert(lowCardWindowKeys(naive).nonEmpty,
      "detector missed the per-source running-total window")
    // ...and the shipped two-phase t20 plan contains ONLY windows the
    // allowlist explains (the <= parts-rows offsets window)
    val fixed = built("t20_pack_sequences")
    assert(lowCardWindowKeys(fixed).forall(_ == Seq("source")),
      "t20's two-phase plan grew an unexplained low-card window")
  }

  test("filters and column pruning reach the parquet scan") {
    // a01: a range predicate on event_id must be PUSHED (not a post-scan
    // filter over a full read), and the scan must read ONLY the projected
    // columns — at 100 TB the difference between reading 3 columns of the
    // matching row groups and reading everything.
    val a01 = Catalog.byName("a01_range_scan").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(a01.contains("PushedFilters: [IsNotNull(event_id), GreaterThanOrEqual(event_id,100), LessThanOrEqual(event_id,499)]"),
      s"a01 range predicate not pushed to parquet:\n$a01")
    assert(a01.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string>"),
      s"a01 scan reads more columns than the projection needs:\n$a01")
    // t01 projects doc_id + text out of a 5-column table: pruning must
    // drop lang/source/n_chars at the scan
    val t01 = Catalog.byName("t01_token_count").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(t01.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"t01 scan not pruned to (doc_id, text):\n$t01")
  }

  test("every catalog output column is gate-representable") {
    // The driver's correctness gate hashes values through a pandas
    // sort_values — two output shapes break it even on CORRECT answers
    // (both shipped as round-6 reds): array/map/struct cells cannot be
    // sorted, and DECIMAL columns wider than 18 digits can hold values
    // above 2^53, where the two engines' decimal→float paths hash-diverge
    // (DuckDB's HUGEINT→DOUBLE is additionally off by 1 ULP). Every gate
    // output must therefore be a scalar: string, boolean, floating,
    // integral (int64 or narrower), date/timestamp, or a DECIMAL of
    // precision ≤ 18. Streaming (executesOnBuild) entries are asserted by
    // their own drains; their post-drain projections share these columns.
    import org.apache.spark.sql.types._
    def ok(dt: DataType): Boolean = dt match {
      case StringType | BooleanType | DoubleType | FloatType |
           LongType | IntegerType | ShortType | ByteType |
           DateType | TimestampType | TimestampNTZType => true
      case d: DecimalType => d.precision <= 18
      case _ => false
    }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    Catalog.all.filterNot(q => executesOnBuild(q.name)).foreach { q =>
      built(q.name).schema.fields.foreach { f =>
        if (!ok(f.dataType))
          offenders += s"${q.name}.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      "gate-unreadable output columns (stringify arrays, BIGINT-cast wide decimals):\n" +
        offenders.mkString("\n"))
  }
}
