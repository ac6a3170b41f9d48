"""The declared capability inventory (SURVEY.md §2.2).

Importing this package registers every query + oracle pair into
:mod:`mapreduceframework_cpp_spark.registry`.

The external verifier walks the first ~50 registered queries per round,
so registration order is an explicit rotation schedule
(:func:`registry.reorder` below): queries still awaiting a hard driver
correctness signal go first, already-verified families rotate to the
back. Verified green in round 1 (CORRECTNESS_r01.json): aggregations
(minus q_agg_collect, which errored on array output and has since been
serialized — re-queued), analytics, flagship, joins, llm_pipeline
minus its two array-output rows-only queries (also since serialized,
queued right after the window), and the first four of relational.
"""

from mapreduceframework_cpp_spark import registry
from mapreduceframework_cpp_spark.queries import (  # noqa: F401
    relational,
    scalars,
    windows,
    streaming_windows,
    udfs,
    aggregations,
    llm_pipeline,
    analytics,
    flagship,
    joins,
    corpus_ops,
    stats,
    udtf_native,
    behavior,
    curation,
    py_sources,
    safety,
    warehouse,
    sparse_text,
    gateway,
    profiling,
    decision_support,
    tpch_complete,
    mining,
    retrieval,
    robust_stats,
    geospatial,
    evaluation,
    sinks,
)

#: round-5 verification window (kept for the audit trail; see
#: ROUND6_ROTATION below for the live window). All 50 slots came back
#: hash-green in CORRECTNESS_r05.json — cumulative driver signal after
#: round 5: 227 hash-green + 18 rows-only clean of 296 → exactly the
#: 51 ROUND6_ROTATION names still lack a driver row.
ROUND5_ROTATION = [
        # -- Spark-4 SQL surface + streaming state -----------------------
        "q_recursive_cte", "q_sql4_surfaces", "q_str_collation",
        "q_stream_stateful", "q_stream_attrib_coverage",
        # -- Arrow / cogroup UDF surface ---------------------------------
        "q_cogroup_reconcile", "q_arrow_map", "q_agg_approx_topk",
        # -- dedup / similarity remainder --------------------------------
        "q_knn_blocked", "q_dedup_normalized", "q_dedup_rate_curve",
        "q_bloom_prune", "q_link_sorted_neighborhood",
        # -- corpus tooling (queries/corpus_ops.py) ----------------------
        "q_doc_chunks", "q_chunk_dedup", "q_dataset_card",
        "q_sample_balanced", "q_tok_bpe_encode", "q_text_clean",
        "q_text_collapse_runs", "q_tok_vocab_coverage",
        # -- stats remainder (queries/stats.py) --------------------------
        "q_agg_ols_trend", "q_agg_mad", "q_bitmap_distinct",
        # -- event analytics (queries/behavior.py, all 17 untested) ------
        "q_events_markov", "q_events_anomaly", "q_events_conversion_lag",
        "q_sessions_stats", "q_events_funnel_windowed",
        "q_events_seasonality", "q_user_ltv_percentiles",
        "q_events_streaks", "q_events_power_users", "q_attrib_linear",
        "q_events_changepoint", "q_sessions_concurrency",
        "q_events_pattern_match", "q_events_entropy_rate",
        "q_audience_overlap", "q_funnel_by_arm", "q_events_burstiness",
        # -- feature curation (queries/curation.py) ----------------------
        "q_emb_feature_stats", "q_emb_outliers", "q_emb_quantile_norm",
        "q_feat_target_encode", "q_negative_sampling", "q_feat_hashing",
        "q_feat_churn_labels", "q_emb_zscore_outliers", "q_feat_impute",
]

#: round-6 verification window (historical — CORRECTNESS_r06 landed:
#: 46/50 hash-green; the 4 reds all emitted a DECIMAL output column,
#: the one type the driver's pandas value-hash can never match, and
#: are re-queued at the head of ROUND7_ROTATION re-shaped to exact
#: BIGINT cents. q_geo_grid_clusters spilled as planned).
ROUND6_ROTATION = [
        "q_mix_raking", "q_ts_holt", "q_zorder_profile",
        "q_ts_rolling_corr", "q_incr_join_view", "q_ts_acf",
        "q_ts_seasonal_index", "q_ts_growth", "q_ts_seasonal_anomaly",
        "q_incr_agg_retract", "q_alloc_largest_remainder",
        "q_dup_payments", "q_text_zipf", "q_text_hapax", "q_doc_entropy",
        "q_text_js_divergence", "q_text_logodds", "q_text_perplexity",
        "q_text_rake", "q_sql_scripting", "q_sql_recursive",
        "q_chi_square", "q_benford_audit", "q_graph_purchase_rank",
        "q_join_size_estimate", "q_graph_bfs_dist", "q_graph_labelprop",
        "q_graph_degree_dist", "q_basket_pairs", "q_equidepth_hist",
        "q_rolling_dau", "q_emb_random_projection", "q_emb_pair_distance",
        "q_emb_silhouette", "q_text_bm25", "q_dedup_prefix_filter",
        "q_text_phrase", "q_skyline", "q_agg_weighted_median",
        "q_bootstrap_ci", "q_agg_trimmed", "q_survival_km",
        "q_agg_theilsen", "q_spend_gini", "q_mad_outliers", "q_ks_drift",
        "q_mannwhitney", "q_geo_cell_density", "q_geo_nearest_hub",
        "q_geo_radius_join", "q_geo_grid_clusters",
]

#: round-7 window (historical — CORRECTNESS_r07 landed clean: 44/44
#: hash-green + 6 rows-only clean, zero reds; the four round-6
#: DECIMAL reds all re-proved green after the BIGINT-cents reshape).
#: Original plan: CORRECTNESS_r06 came back 46/50 green with
#: FOUR hash-reds — q_incr_join_view, q_incr_agg_retract,
#: q_sql_recursive, q_geo_cell_density — all the same root cause: a
#: DECIMAL output column, which the driver's pandas value-hash can
#: never match (Spark collects Decimal objects, the DuckDB oracle's
#: .df() gives float64). Per the standing red-requeue policy they lead
#: this window, re-shaped to exact BIGINT cents (tests/_compare.py now
#: rejects any DECIMAL output column so the class is dead). Slot 5 is
#: q_geo_grid_clusters — the round-6 spill, still the only query with
#: no driver row ever. The rest re-confirm the queries whose driver
#: evidence is OLDEST (round-1 greens in their r01 verification order;
#: q_text_quality matters most — its score grid silently went DECIMAL
#: in a round-5 refactor and is double again as of this round), except
#: the final slot: q_graph_pagerank, this round's second rows-only →
#: SQL-oracle upgrade (with q_text_langid, already in the window),
#: which needs its first hash row. Displaced to the round-8 plan:
#: q_project_expr, q_filter_pred, q_case_expr, q_sort_multi (by the
#: red-requeue) and q_scan_select_cols (by the pagerank slot).
ROUND7_ROTATION = [
        # -- round-6 reds, re-queued at the head (standing policy) -------
        "q_incr_join_view", "q_incr_agg_retract",
        "q_sql_recursive", "q_geo_cell_density",
        # -- the round-6 spill: the one never-driver-tested query --------
        "q_geo_grid_clusters",
        # -- oldest driver evidence first (CORRECTNESS_r01 order) --------
        "q_agg_groupby", "q_agg_global", "q_agg_distinct",
        "q_distinct_rows", "q_agg_having", "q_agg_rollup",
        "q_agg_cube", "q_agg_grouping_sets", "q_agg_approx_distinct",
        "q_agg_percentile", "q_tpch_q3_shape", "q_tpch_q5_shape",
        "q_scalar_subquery", "q_flagship_charcount", "q_join_inner",
        "q_join_broadcast", "q_join_shuffle_hash", "q_join_left",
        "q_join_right", "q_join_full", "q_join_semi",
        "q_join_anti", "q_join_cross", "q_join_theta_range",
        "q_join_asof", "q_join_interval", "q_join_salted",
        "q_dedup_exact", "q_dedup_near", "q_dedup_ngram_jaccard",
        "q_dedup_simhash", "q_dedup_embedding", "q_sim_topk",
        "q_sim_lsh_topk", "q_text_stats", "q_text_tokens",
        "q_text_quality", "q_text_langid", "q_mm_decode",
        "q_sim_ivf_topk", "q_dedup_clusters", "q_pipeline_e2e",
        "q_sample_stratified", "q_scan_parquet",
        # -- r7 rows-only → SQL-oracle upgrade: first hash row needed --
        "q_graph_pagerank",
]

#: round-8 window (LIVE). Round 7 came back all-green, so this runs
#: exactly as pre-committed — no red re-queue needed.
#: Slots: the four oldest-evidence names the round-7 red-requeue
#: displaced, then the round-2 greens in their CORRECTNESS_r02
#: verification order (two of the displaced — q_case_expr,
#: q_sort_multi — are themselves the first r2 greens), topped up from
#: the first CORRECTNESS_r03 greens; 51 candidates, the last
#: (q_emb_norm_stats's successor in r03 order) spills to round 9.
ROUND8_ROTATION = [
        "q_project_expr", "q_filter_pred", "q_case_expr",
        "q_sort_multi",
        # displaced from the round-7 window by the q_graph_pagerank
        # oracle upgrade (r1 evidence, so it re-confirms here instead)
        "q_scan_select_cols",
        "q_sort_limit", "q_union_all",
        "q_union_distinct", "q_intersect", "q_except",
        "q_pivot", "q_unpivot", "q_str_funcs",
        "q_str_regexp", "q_str_split_explode", "q_date_funcs",
        "q_math_funcs", "q_json_funcs", "q_array_funcs",
        "q_str_distance", "q_win_rank", "q_win_topk_group",
        "q_win_lag_lead", "q_win_running", "q_win_range_frame",
        "q_win_ntile_pct", "q_stream_tumbling", "q_stream_sliding",
        "q_stream_session", "q_ts_gapfill", "q_udf_scalar",
        "q_udaf_grouped", "q_udtf_flatmap", "q_agg_collect",
        "q_text_repetition", "q_text_contamination", "q_text_length_hist",
        "q_sample_hash_per_group", "q_mm_frames", "q_dedup_incremental",
        "q_agg_stats", "q_agg_minmax_by", "q_udtf_native",
        "q_win_dedup", "q_events_sessionize", "q_events_funnel",
        # -- r8 rows-only → SQL-oracle upgrades: first hash row needed
        # (the r7 langid/pagerank precedent: an upgrade's historical
        # rows-only-clean rows no longer satisfy the stricter hash
        # policy, so it enters the live window; the four displaced
        # re-confirm slots — q_events_retention, q_corpus_mixture,
        # q_tok_pack_shards, q_text_tfidf — move to the round-9 window)
        "q_sketch_countmin", "q_text_fingerprint", "q_dedup_simhash",
        "q_sim_lsh_topk",
]

#: round-9 window (LIVE — round 8 came back 50/50 hash-green, so it
#: runs exactly as pre-committed). Derived from the eight CORRECTNESS
#: artifacts:
#: the remaining queries whose latest driver evidence is OLDEST, in
#: that artifact's own verification order — the two round-8 spills
#: (q_emb_centroid, q_emb_norm_stats — the last round-2 greens) and
#: the three re-confirm slots the r8 oracle upgrades displaced first,
#: then the CORRECTNESS_r03 greens in r03 order (q_sketch_countmin,
#: q_text_fingerprint drop out — they run in the r8 window as
#: upgrades, so their evidence will be r8-fresh; the two
#: newest-evidence tail names q_dedup_bow, q_text_ngram_topk spill to
#: round 10). Any round-8 red re-queues at the head per the standing
#: policy, displacing the tail. After this window every query's
#: evidence is round 4+ — the comparator-hardening era.
ROUND9_ROTATION = [
        # -- r9 new capability: q_stream_tws (transformWithState via the
        # protobuf bridge, streaming/pb_bridge.py) registers with a full
        # SQL oracle and needs its FIRST driver row — it takes the head
        # slot (the r7 pagerank / r8 upgrade precedent), displacing the
        # window's tail name (q_dedup_editdist) to round 10. Two more
        # r9 upgrade slots follow the same precedent: q_mm_decode and
        # q_mm_features went rows-only -> SQL-oracle this round (the
        # digest-fallback arithmetic on the declared-fake payloads is
        # SQL-expressible), so each needs a first hash row; q_mm_decode
        # enters here (displacing q_graph_triangles to round 10) and
        # q_mm_features was ALREADY a slot below — its slot changes
        # meaning from re-confirm to upgrade. q_stream_tws_sessions
        # (event-time timers + ListState, the round's second TWS
        # registration) takes the head by the same policy, displacing
        # the then-tail q_ts_ewma to round 10's spill block.
        "q_stream_tws_sessions", "q_stream_tws", "q_mm_decode",
        # -- round-8 spills: the last two round-2 greens ------------------
        "q_emb_centroid", "q_emb_norm_stats",
        # -- displaced from round 8 by the four r8 oracle upgrades --------
        "q_events_retention", "q_corpus_mixture", "q_tok_pack_shards",
        "q_text_tfidf",
        # -- CORRECTNESS_r03 greens in their r03 verification order -------
        "q_text_pii_scrub", "q_text_quality_gates", "q_dataset_split",
        "q_source_blocklist", "q_source_python", "q_json_variant",
        "q_udaf_arrow", "q_join_asof_tol", "q_join_asof_fwd",
        "q_join_interval_binned", "q_skew_keys", "q_ts_rollup_multi",
        "q_agg_hll_rollup", "q_agg_approx_quantile", "q_agg_mode",
        "q_win_first_last", "q_win_distinct_count",
        "q_mm_features", "q_map_funcs",
        "q_merge_upsert", "q_scd2_intervals", "q_ts_interpolate",
        "q_text_bigram_lm", "q_tfidf_cosine", "q_dedup_cluster_sizes",
        "q_sql_gateway", "q_stream_enrich", "q_events_p99_outliers",
        "q_orders_rfm", "q_sample_weighted", "q_dup_rate_by_source",
        "q_stream_stream_join", "q_emb_quantize_int8", "q_dq_audit",
        "q_dedup_containment", "q_table_profile", "q_events_paths",
        "q_events_cooccurrence", "q_events_value_hist",
        "q_tpch_q7_shape", "q_tpch_q10_shape",
]

#: round-10 window, committed in advance so round 10 is mechanical
#: (standing pattern). Derived from the nine CORRECTNESS artifacts:
#: the two r03-latest spills the r8/r9 windows could not fit lead,
#: then EVERY remaining name whose latest driver evidence is
#: CORRECTNESS_r04, in that artifact's own verification order (the
#: TPC-H shape block and the r4 decision-support/eval adds). After
#: this window the oldest evidence anywhere is round 4's tail
#: (q_dq_audit onward in r04 order), i.e. the whole registry is
#: within a six-round freshness horizon. Any round-9 red re-queues at
#: the head per the standing policy, displacing the tail.
ROUND10_ROTATION = [
        # -- round-10 head insertions: the txn_files Python data sink
        # (queries/sinks.py, sources/pysink.py — Spark 4 DataSource
        # writer API, batch + streaming) and its lakehouse layer
        # (zone-map pruned reads, snapshot time travel, manifest-swap
        # compaction), all registered this round, so they take their
        # first driver slots here; the eight r04-tail names they
        # displace (q_rank_fusion, q_annotator_kappa,
        # q_score_decile_lift, q_score_confusion, q_ab_ztest,
        # q_score_auc, q_sketch_kll, q_sketch_theta) spill to round
        # 11, consistent with the r04-order drain invariant — except
        # the two sketches, which are terminal rows-only and correctly
        # never re-queue under the amended policy: displacing them
        # converts the window's last two hash-incapable slots into
        # first-row hash evidence -----------------------------------
        "q_sink_python", "q_sink_stream_python",
        "q_sink_pruned_read", "q_sink_time_travel", "q_sink_compact",
        "q_sink_changes", "q_sink_parquet", "q_sink_recluster",
        # -- the five r03-latest spills (newest r03 evidence; the last
        # three are round-9 tail slots displaced by the q_stream_tws,
        # q_mm_decode and q_stream_tws_sessions head insertions; the
        # r04-tail q_score_calibration spills out to round 11 in
        # exchange, consistent with the r04-order drain invariant) -------
        "q_dedup_bow", "q_text_ngram_topk", "q_dedup_editdist",
        "q_graph_triangles", "q_ts_ewma",
        # -- CORRECTNESS_r04 greens in their r04 verification order -------
        "q_tpch_q1_shape", "q_tpch_q8_shape", "q_tpch_q9_shape",
        "q_tpch_q13_shape", "q_tpch_q16_shape", "q_tpch_q19_shape",
        "q_tpch_q20_shape", "q_tpch_q11_shape", "q_tpch_q12_shape",
        "q_tpch_q14_shape", "q_tpch_q18_shape", "q_tpch_q22_shape",
        "q_tpch_q21_shape", "q_tpch_q2_shape", "q_tpch_q4_shape",
        "q_tpch_q6_shape", "q_tpch_q15_shape", "q_orders_cohort",
        "q_orders_abc", "q_brand_yoy", "q_supplier_hhi",
        "q_orders_reorder_gap", "q_order_size_dist", "q_cohort_ltv",
        "q_ols_discount_slope", "q_revenue_bridge", "q_mix_shift",
        "q_null_semantics", "q_win_median", "q_release_pipeline",
        "q_date_spine", "q_incr_agg", "q_scd2_pit_lookup",
        "q_dataset_diff", "q_emb_kmeans", "q_tok_bpe_merges",
        "q_emb_pca_top",
]

#: round-11 window (LIVE). PURELY mechanical:
#: tests/test_driver_contract.py asserts this list equals
#: tools/next_rotation.py::derive_next_window over the r01-r09
#: artifacts with ROUND10_ROTATION as planned round-10 evidence — the
#: five round-11 sink registrations (q_sink_format_read: the
#: symmetric DataSource read half, VERDICT r10 item 4;
#: q_sink_merge: file-pruned MERGE via delta commits;
#: q_sink_stream_read: the streaming source tailing the manifest log;
#: q_sink_evolve: add-column schema evolution served at scan time;
#: q_sink_pipeline: the source and sink halves composed log-to-log)
#: are the unproven names, so the policy itself seats them at the
#: head and the derived tail shrinks by five (q_events_changepoint /
#: q_sessions_concurrency / q_events_pattern_match /
#: q_events_entropy_rate / q_audience_overlap → round-12 head). First window with zero
#: rows-only slots — every slot can yield a hash row. Contents after
#: the head: the eleven r04-tail spills round 10 could not fit, then
#: the r05 cohort in its own artifact order. Any round-10 red
#: re-queues at the head per the standing policy (CORRECTNESS_r10 had
#: none).
ROUND11_ROTATION = [
        "q_sink_format_read", "q_sink_merge", "q_sink_stream_read",
        "q_sink_evolve", "q_sink_pipeline",
        "q_score_auc",
        "q_score_decile_lift", "q_score_confusion", "q_ab_ztest",
        "q_rank_fusion", "q_annotator_kappa",
        "q_score_calibration", "q_k_anonymity", "q_dp_counts",
        "q_split_leakage", "q_events_dau_wau",
        "q_recursive_cte", "q_sql4_surfaces", "q_str_collation",
        "q_stream_stateful", "q_stream_attrib_coverage",
        "q_cogroup_reconcile", "q_arrow_map", "q_agg_approx_topk",
        "q_knn_blocked", "q_dedup_normalized",
        "q_dedup_rate_curve", "q_bloom_prune",
        "q_link_sorted_neighborhood", "q_doc_chunks", "q_chunk_dedup",
        "q_dataset_card", "q_sample_balanced", "q_tok_bpe_encode",
        "q_text_clean", "q_text_collapse_runs",
        "q_tok_vocab_coverage", "q_agg_ols_trend", "q_agg_mad",
        "q_bitmap_distinct", "q_events_markov",
        "q_events_anomaly", "q_events_conversion_lag",
        "q_sessions_stats", "q_events_funnel_windowed",
        "q_events_seasonality",
        "q_user_ltv_percentiles", "q_events_streaks",
        "q_events_power_users", "q_attrib_linear",
]

#: round-12 window (LIVE), derived mechanically:
#: tests/test_driver_contract.py asserts this list equals
#: tools/next_rotation.py::derive_next_window over the r01-r10
#: artifacts with ROUND11_ROTATION as the planned round-11 evidence.
#: Contents: the four round-12 registrations (unproven head), the
#: five names the round-11 sink head insertions displaced
#: (q_events_changepoint / q_sessions_concurrency /
#: q_events_pattern_match / q_events_entropy_rate /
#: q_audience_overlap), the r05 tail rounds 10-11 could not fit
#: (q_funnel_by_arm onward in r05 order), then the r06 cohort in its
#: own artifact order through q_emb_pair_distance (q_emb_silhouette
#: onward spills to round 13). No rows-only query holds a slot
#: (amended policy). Any round-11 red would re-queue at the head per
#: the standing policy (r11 landed 50/50 — none did).
ROUND12_ROTATION = [
        # round-12 registrations (sink clustering, stream-across-
        # maintenance, z-order, deletion vectors): unproven, so the
        # policy heads them
        "q_sink_clustered_read", "q_sink_skip_changes",
        "q_sink_zorder_read", "q_sink_delete_vectors",
        "q_events_changepoint",
        "q_sessions_concurrency",
        "q_events_pattern_match", "q_events_entropy_rate",
        "q_audience_overlap",
        "q_funnel_by_arm", "q_events_burstiness", "q_emb_feature_stats",
        "q_emb_outliers",
        "q_emb_quantile_norm", "q_feat_target_encode",
        "q_negative_sampling", "q_feat_hashing",
        "q_feat_churn_labels", "q_emb_zscore_outliers", "q_feat_impute",
        "q_mix_raking",
        "q_ts_holt", "q_zorder_profile", "q_ts_rolling_corr", "q_ts_acf",
        "q_ts_seasonal_index", "q_ts_growth", "q_ts_seasonal_anomaly",
        "q_alloc_largest_remainder",
        "q_dup_payments", "q_text_zipf", "q_text_hapax", "q_doc_entropy",
        "q_text_js_divergence", "q_text_logodds", "q_text_perplexity",
        "q_text_rake",
        "q_sql_scripting", "q_chi_square", "q_benford_audit",
        "q_graph_purchase_rank",
        "q_join_size_estimate", "q_graph_bfs_dist", "q_graph_labelprop",
        "q_graph_degree_dist",
        "q_basket_pairs", "q_equidepth_hist", "q_rolling_dau",
        "q_emb_random_projection",
        "q_emb_pair_distance",
]

#: round-13 window, committed in advance (standing pattern), derived
#: mechanically: tests/test_driver_contract.py asserts this list
#: equals tools/next_rotation.py::derive_next_window over the
#: r01-r11 artifacts with ROUND12_ROTATION as the planned round-12
#: evidence. Contents: the round-13 registrations (unproven head —
#: q_sink_checkpoint_read / q_sink_change_feed / q_sink_dv_maintenance
#: / q_sink_column_mapping, registration order), the four names the
#: round-12 head insertions displaced (q_emb_silhouette / q_text_bm25
#: / q_dedup_prefix_filter / q_text_phrase), the r06 overflow round
#: 12 could not fit (q_skyline onward in r06 order), then the r07
#: cohort in its own artifact order (the overflow spills to round
#: 14). No rows-only query holds a slot. Any round-12 red re-queues
#: at the head per the standing policy.
ROUND13_ROTATION = [
        "q_sink_checkpoint_read",
        "q_sink_change_feed", "q_sink_dv_maintenance",
        "q_sink_column_mapping",
        "q_emb_silhouette",
        "q_text_bm25", "q_dedup_prefix_filter", "q_text_phrase",
        "q_skyline",
        "q_agg_weighted_median", "q_bootstrap_ci", "q_agg_trimmed",
        "q_survival_km",
        "q_agg_theilsen", "q_spend_gini", "q_mad_outliers", "q_ks_drift",
        "q_mannwhitney",
        "q_geo_nearest_hub", "q_geo_radius_join", "q_incr_join_view",
        "q_incr_agg_retract",
        "q_sql_recursive", "q_geo_cell_density", "q_geo_grid_clusters",
        "q_agg_groupby",
        "q_agg_global", "q_agg_distinct", "q_distinct_rows", "q_agg_having",
        "q_agg_rollup",
        "q_agg_cube", "q_agg_grouping_sets", "q_agg_percentile",
        "q_tpch_q3_shape",
        "q_tpch_q5_shape", "q_scalar_subquery", "q_flagship_charcount",
        "q_join_inner",
        "q_join_broadcast", "q_join_shuffle_hash", "q_join_left",
        "q_join_right",
        "q_join_full", "q_join_semi", "q_join_anti", "q_join_cross",
        "q_join_theta_range",
        "q_join_asof", "q_join_interval",
]

#: round-14 window, committed in advance (standing pattern), derived
#: mechanically: tests/test_driver_contract.py asserts this list
#: equals tools/next_rotation.py::derive_next_window over the
#: r01-r12 artifacts with ROUND13_ROTATION as the planned round-13
#: evidence. Contents: the r07 cohort round 13 could not fit
#: (q_join_salted onward in r07 artifact order — the three further
#: round-13 head insertions rippled q_join_salted / q_dedup_exact /
#: q_dedup_near here), then the r08 cohort in its own artifact order
#: (q_text_length_hist / q_sample_hash_per_group / q_mm_frames spill
#: to round 15). No rows-only query holds a slot. Any round-13 red
#: re-queues at the head per the standing policy; new round-13
#: registrations insert at the ROUND13 head and ripple the tail here.
ROUND14_ROTATION = [
        "q_join_salted",
        "q_dedup_exact", "q_dedup_near",
        "q_dedup_ngram_jaccard",
        "q_dedup_embedding", "q_sim_topk", "q_text_stats",
        "q_text_tokens",
        "q_text_quality", "q_text_langid", "q_dedup_clusters",
        "q_pipeline_e2e",
        "q_scan_parquet", "q_graph_pagerank", "q_project_expr",
        "q_filter_pred",
        "q_case_expr", "q_sort_multi", "q_scan_select_cols",
        "q_sort_limit",
        "q_union_all", "q_union_distinct", "q_intersect", "q_except",
        "q_pivot",
        "q_unpivot", "q_str_funcs", "q_str_regexp",
        "q_str_split_explode",
        "q_date_funcs", "q_math_funcs", "q_json_funcs", "q_array_funcs",
        "q_str_distance",
        "q_win_rank", "q_win_topk_group", "q_win_lag_lead",
        "q_win_running",
        "q_win_range_frame", "q_win_ntile_pct", "q_stream_tumbling",
        "q_stream_sliding",
        "q_stream_session", "q_ts_gapfill", "q_udf_scalar",
        "q_udaf_grouped",
        "q_udtf_flatmap", "q_agg_collect", "q_text_repetition",
        "q_text_contamination",
]

#: Alias kept so callers/tests address "the live window" uniformly
#: across rounds. Round 14 is LIVE: tests/test_driver_contract.py
#: asserts it equals tools/next_rotation.py::derive_next_window over
#: the fourteen landed artifacts (CORRECTNESS_r01-r14), so the live
#: window is the one the evidence derives, not a hand-kept pointer.
VERIFY_ROTATION = ROUND14_ROTATION

registry.reorder(ROUND14_ROTATION)
