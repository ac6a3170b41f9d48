#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. The FINAL stdout line is a short,
always-parseable headline record:

    {"metric": "headline_suite_wall_sec", "value": N, "unit": "sec",
     "sf": 0.1, "n_queries": K, "slowest": {...5 queries...},
     "sentinels": {...2 untouched queries...}, "sentinel_ok": bool,
     "detail": "BENCH_DETAIL.json"}

The suite has grown past 200 queries, and a single line carrying every
per-query timing outgrew the driver's tail capture in round 3
(BENCH_r03.json recorded `parsed: null`). So the full per-query map is
NOT on the final line: it is printed on an earlier stdout line AND
written to BENCH_DETAIL.json next to this script for the judge. The
detail also records, per query, the generated classes Janino compiled
over both runs and the time that took (``codegen``), which the
best-of-2 figure would otherwise hide.

Each query is forced end-to-end with a noop-format write (full
computation on the executors, zero driver collection — the shape a real
cluster job has). The headline set spans every engine area: scan, agg,
join (incl. as-of), window, streaming-shape, UDF surface, dedup
(exact + MinHash-LSH), similarity top-k and text analysis.

Cold-measurement note (graph family): the six `_mutual_knn_edges`
consumers (pagerank, BFS, label-prop, degree-dist, triangles,
purchase-rank) each rebuild the shared kNN edge frame from scratch —
release_persisted() between queries makes every timing cold-honest, so
the 6x rebuild is intentional, not an oversight. A production pipeline
would materialize the edge table once; the bench measures the
worst-case standalone cost of each query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: breadth-first headline set (keys must exist in registry.QUERIES)
HEADLINE = [
    "q_flagship_charcount",
    "q_scan_parquet",
    "q_agg_groupby",
    "q_agg_rollup",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_asof",
    "q_join_salted",
    "q_tpch_q3_shape",
    "q_tpch_q5_shape",
    "q_win_rank",
    "q_win_running",
    "q_sort_limit",
    "q_stream_tumbling",
    "q_stream_session",
    "q_udaf_grouped",
    "q_json_funcs",
    "q_dedup_exact",
    "q_dedup_near",
    "q_dedup_incremental",
    "q_pipeline_e2e",
    "q_sim_topk",
    "q_text_quality",
    "q_text_stats",
    "q_text_contamination",
    "q_text_repetition",
    "q_agg_stats",
    "q_win_dedup",
    "q_events_sessionize",
    "q_events_retention",
    "q_text_tfidf",
    "q_tok_pack_shards",
    "q_emb_centroid",
    "q_join_interval_binned",
    "q_sketch_countmin",
    "q_source_python",
    # round-3 additions: one representative per previously-unbenched
    # family so perf regressions there are visible round-over-round
    "q_win_first_last",
    "q_win_distinct_count",
    "q_agg_mode",
    "q_agg_approx_quantile",
    "q_ts_rollup_multi",
    "q_join_asof_tol",
    "q_json_variant",
    "q_udaf_arrow",
    "q_text_pii_scrub",
    "q_source_blocklist",
    # round-3 families
    "q_merge_upsert",
    "q_ts_interpolate",
    "q_text_bigram_lm",
    "q_tfidf_cosine",
    "q_stream_stream_join",
    "q_sample_weighted",
    "q_dq_audit",
    "q_graph_pagerank",
    # round-3 late additions
    "q_tpch_q7_shape",
    "q_tpch_q10_shape",
    "q_ts_ewma",
    "q_graph_triangles",
    "q_dedup_editdist",
    "q_dedup_bow",
    "q_text_ngram_topk",
    "q_events_paths",
    "q_events_cooccurrence",
    "q_events_value_hist",
    # decision-support II + training-pipeline additions
    "q_tpch_q11_shape",
    "q_tpch_q12_shape",
    "q_tpch_q14_shape",
    "q_tpch_q18_shape",
    "q_tpch_q22_shape",
    "q_events_markov",
    "q_events_anomaly",
    "q_doc_chunks",
    "q_knn_blocked",
    "q_date_spine",
    "q_win_median",
    "q_text_zipf",
    "q_text_hapax",
    "q_doc_entropy",
    "q_orders_cohort",
    "q_bloom_prune",
    "q_incr_agg",
    "q_chunk_dedup",
    "q_events_dau_wau",
    "q_events_conversion_lag",
    "q_cogroup_reconcile",
    "q_emb_kmeans",
    "q_tpch_q21_shape",
    "q_tpch_q2_shape",
    "q_tpch_q4_shape",
    "q_tpch_q6_shape",
    "q_tpch_q15_shape",
    "q_sessions_stats",
    "q_null_semantics",
    "q_agg_ols_trend",
    "q_events_funnel_windowed",
    "q_dedup_normalized",
    "q_recursive_cte",
    "q_sql4_surfaces",
    "q_brand_yoy",
    "q_agg_mad",
    "q_dedup_rate_curve",
    "q_events_seasonality",
    "q_str_collation",
    "q_agg_approx_topk",
    "q_user_ltv_percentiles",
    "q_emb_feature_stats",
    "q_events_streaks",
    "q_supplier_hhi",
    "q_scd2_pit_lookup",
    "q_dataset_diff",
    "q_order_size_dist",
    "q_emb_outliers",
    "q_orders_reorder_gap",
    "q_events_power_users",
    "q_text_js_divergence",
    "q_sample_balanced",
    # TPC-H completion (queries/tpch_complete.py): the full 22-shape set
    "q_tpch_q1_shape",
    "q_tpch_q8_shape",
    "q_tpch_q9_shape",
    "q_tpch_q13_shape",
    "q_tpch_q16_shape",
    "q_tpch_q19_shape",
    "q_tpch_q20_shape",
    # mining family (queries/mining.py)
    "q_basket_pairs",
    "q_equidepth_hist",
    "q_rolling_dau",
    "q_emb_random_projection",
    # retrieval family (queries/retrieval.py)
    "q_text_bm25",
    "q_dedup_prefix_filter",
    "q_stream_attrib_coverage",
    "q_ts_holt",
    "q_emb_pca_top",
    "q_tok_bpe_merges",
    "q_tok_bpe_encode",
    "q_bitmap_distinct",
    "q_zorder_profile",
    "q_sql_scripting",
    "q_ts_rolling_corr",
    "q_chi_square",
    "q_benford_audit",
    "q_attrib_linear",
    "q_text_logodds",
    "q_agg_trimmed",
    "q_text_phrase",
    "q_text_perplexity",
    "q_k_anonymity",
    "q_dp_counts",
    "q_split_leakage",
    "q_survival_km",
    "q_agg_theilsen",
    "q_dedup_embedding",
    "q_sim_ivf_topk",
    "q_events_changepoint",
    "q_sessions_concurrency",
    "q_emb_quantile_norm",
    "q_sketch_theta",
    "q_sketch_kll",
    # robust-stats family (queries/robust_stats.py)
    "q_skyline",
    "q_agg_weighted_median",
    "q_bootstrap_ci",
    # round-3 late: oracle-verified iterative + incremental-maintenance
    "q_graph_purchase_rank",
    "q_incr_join_view",
    "q_join_size_estimate",
    # geospatial + series-diagnostics family (queries/geospatial.py, warehouse.py)
    "q_geo_radius_join",
    "q_geo_nearest_hub",
    "q_geo_grid_clusters",
    "q_ts_acf",
    "q_ts_seasonal_anomaly",
    # model-evaluation + feature-prep + SQL-surface additions
    "q_score_auc",
    "q_rank_fusion",
    "q_feat_target_encode",
    "q_negative_sampling",
    "q_cohort_ltv",
    "q_ols_discount_slope",
    "q_sql_recursive",
    "q_release_pipeline",
    "q_spend_gini",
    "q_graph_bfs_dist",
    "q_graph_labelprop",
    "q_text_clean",
    "q_text_collapse_runs",
    "q_text_rake",
    "q_feat_hashing",
    "q_events_pattern_match",
    "q_alloc_largest_remainder",
    "q_link_sorted_neighborhood",
    "q_dup_payments",
    "q_mad_outliers",
    "q_incr_agg_retract",
    "q_feat_churn_labels",
    "q_emb_zscore_outliers",
    "q_emb_pair_distance",
    "q_feat_impute",
    "q_events_entropy_rate",
    "q_audience_overlap",
    "q_revenue_bridge",
    "q_mix_shift",
    "q_mix_raking",
    "q_funnel_by_arm",
    "q_graph_degree_dist",
    "q_events_burstiness",
    "q_emb_silhouette",
    "q_tok_vocab_coverage",
    "q_ks_drift",
    "q_mannwhitney",
]


def _force(df) -> None:
    """Execute the full plan on the executors; materialize nothing on the
    driver (noop sink swallows rows task-side)."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from mapreduceframework_cpp_spark.registry import all_queries
    from mapreduceframework_cpp_spark.session import codegen_counters, get_spark

    queries = all_queries()
    # Optional subset filter (tools/scale_audit.py's synthetic-decade
    # legs time one family, not all 200+). Default — driver contract —
    # is unchanged: the full headline set.
    headline = HEADLINE
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        want = {s.strip() for s in only.split(",") if s.strip()}
        unknown = want - set(HEADLINE)
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY not in HEADLINE: {sorted(unknown)}")
        headline = [n for n in HEADLINE if n in want]
    spark = get_spark("mrfw-bench")
    spark.sparkContext.setLogLevel("ERROR")

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None

    # JVM/codegen warm-up on an off-benchmark query so the first timed
    # query doesn't pay session startup costs.
    _force(queries["q_scan_select_cols"](spark, SF_DIR))

    # best-of-2 per query: first run pays whole-stage-codegen JIT and is
    # exposed to background-load noise (observed ±70% on shared boxes);
    # the min is the reproducible figure.
    from mapreduceframework_cpp_spark.operators.common import release_persisted

    # Janino compiles (codegen-cache misses) are counted over BOTH runs,
    # so the detail shows the recompilation that the best-of-2 hides.
    timings: dict[str, float] = {}
    codegen: dict[str, dict[str, float]] = {}
    for name in headline:
        best = float("inf")
        n0, ms0 = codegen_counters(spark)
        for _ in range(2):
            t0 = time.perf_counter()
            _force(queries[name](spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
            release_persisted()  # operator-held caches don't leak across queries
        n1, ms1 = codegen_counters(spark)
        timings[name] = round(best, 3)
        codegen[name] = {
            "codegen_compiles": n1 - n0,
            "codegen_compile_ms": round(ms1 - ms0, 1),
        }

    emit(timings, sf, codegen)
    spark.stop()


#: how many of the reference's slowest queries the heavy-mover check
#: samples, and the median inflation ratio above which a run is flagged
_HEAVY_N = 12
_HEAVY_MAX_MEDIAN_RATIO = 1.25


def _quiet_reference_file() -> dict | None:
    """bench_quiet_reference.json (or $BENCH_QUIET_REFERENCE_FILE),
    parsed; None when missing or unparsable."""
    path = os.environ.get(
        "BENCH_QUIET_REFERENCE_FILE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_quiet_reference.json"),
    )
    try:
        with open(path) as f:
            raw = json.load(f)
    except (OSError, ValueError):
        return None
    return raw if isinstance(raw, dict) else None


def _load_quiet_reference() -> dict[str, float] | None:
    """Per-query quiet-box reference timings from
    bench_quiet_reference.json (or $BENCH_QUIET_REFERENCE_FILE).
    Returns None — heavy verdict unknown — when missing/malformed,
    for the same reason sentinel bands do (ADVICE r6)."""
    q = (_quiet_reference_file() or {}).get("queries")
    if not isinstance(q, dict) or not q:
        return None
    try:
        return {n: float(v) for n, v in q.items()}
    except (ValueError, TypeError):
        return None


def _host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def _width_mismatch() -> str | None:
    """Why the quiet reference may not rate this run, or None. When the
    reference records its host's ``cpus`` and this host has a different
    count, ratios against it measure the hardware, not the code, so
    ``emit`` drops the heavy verdict and puts this text in place of the
    mover list."""
    ref_cpus = (_quiet_reference_file() or {}).get("cpus")
    host_cpus = _host_cpus()
    if ref_cpus is None or ref_cpus == host_cpus:
        return None
    return (
        f"reference taken on {ref_cpus} CPUs, this host has "
        f"{host_cpus}: no mover list"
    )


def _heavy_check(
    timings: dict[str, float], sf: float | None
) -> tuple[float | None, bool | None]:
    """The round-8 lesson: the two LIGHT sentinels can sit in-band
    while host noise inflates the CPU-heavy tail 1.5-2x (observed:
    141.2 s and 135.2 s runs with sentinel_ok=true whose heavies ran
    10-80% over their quiet values). Sample the reference's N slowest
    queries and report the MEDIAN inflation ratio — median, not max,
    so one genuinely-regressed (or genuinely-improved) query cannot
    flip the host-noise verdict by itself; a real code regression in a
    single query shows up in the per-query diff, not here. Returns
    (median_ratio, ok) or (None, None) when no reference applies."""
    ref = _load_quiet_reference()
    if ref is None or sf != 0.1:
        return None, None
    heavies = [n for n, _ in sorted(ref.items(), key=lambda kv: -kv[1])][
        :_HEAVY_N
    ]
    if any(n not in timings for n in heavies):
        # reference/HEADLINE drifted apart — no verdict rather than a
        # silently-shifted sample
        return None, None
    ratios = sorted(timings[n] / ref[n] for n in heavies)
    mid = len(ratios) // 2
    median = (
        ratios[mid]
        if len(ratios) % 2
        else (ratios[mid - 1] + ratios[mid]) / 2
    )
    return round(median, 3), median <= _HEAVY_MAX_MEDIAN_RATIO


#: ratio above which a query is reported as a mover vs the quiet
#: reference (the SURVEY log's diff threshold, made mechanical —
#: VERDICT r12: the hand-summarized mover count was understated)
_MOVER_RATIO = 1.3
_MOVER_CAP = 20


def _movers(
    timings: dict[str, float], sf: float | None
) -> dict[str, float] | None:
    """EVERY query at >= _MOVER_RATIO x its quiet-reference value,
    worst first (capped at _MOVER_CAP entries), so the round log's
    mover list is emitted by the run itself instead of hand-compiled.
    None when no reference applies (wrong sf / missing file)."""
    ref = _load_quiet_reference()
    if ref is None or sf != 0.1:
        return None
    out = {
        n: round(timings[n] / ref[n], 2)
        for n in timings
        if n in ref and ref[n] > 0 and timings[n] / ref[n] >= _MOVER_RATIO
    }
    return dict(sorted(out.items(), key=lambda kv: -kv[1])[:_MOVER_CAP])


def _load_sentinel_bands() -> dict[str, tuple[float, float]] | None:
    """Quiet-box sentinel bands from bench_sentinels.json (or
    $BENCH_SENTINEL_FILE). Returns None — verdict unknown — when the
    calibration file is missing or malformed; a band measured on one
    machine must never make a different machine's clean run
    self-describe as noise (ADVICE r6)."""
    path = os.environ.get(
        "BENCH_SENTINEL_FILE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_sentinels.json"),
    )
    try:
        with open(path) as f:
            raw = json.load(f)
        if not isinstance(raw, dict) or not raw:
            return None  # top-level non-object (or empty) calibration
        return {n: (float(lo), float(hi)) for n, (lo, hi) in raw.items()}
    except (OSError, ValueError, TypeError):
        return None


def emit(
    timings: dict[str, float],
    sf: float | None,
    codegen: dict[str, dict[str, float]] | None = None,
) -> dict:
    """Print the two stdout lines — the full per-query record first,
    then a SHORT final line (metric/value/unit/sf/n_queries + 5 slowest)
    that the driver's tail capture can always parse (the
    one-line-with-all-timings format broke BENCH_r03.json) — and then
    write BENCH_DETAIL.json, best-effort, so an I/O failure can't
    discard a finished run. ``codegen`` (per query: ``codegen_compiles``
    and ``codegen_compile_ms`` over both timed runs) rides in the detail
    record only. Returns the short record (unit-tested in
    tests/test_bench_format.py)."""
    total = round(sum(timings.values()), 3)
    # Host-noise sentinels (r6): this box is a shared VM whose
    # wall-clock drifts 1.5-2x for stretches, so the headline carries
    # the two most load-sensitive UNTOUCHED queries plus a verdict
    # against quiet-box bands. sentinel_ok=false means the whole run is
    # inflated - judge trends on a clean re-run, not this artifact.
    # The bands are CALIBRATION data, not code (ADVICE r6: hard-coding
    # one box's quiet-band makes every other host self-describe as
    # noisy): they load from bench_sentinels.json next to this script
    # (override via $BENCH_SENTINEL_FILE), and when the file is absent
    # or unparsable the verdict is None (unknown), never false.
    sentinels = {
        n: timings[n]
        for n in ("q_agg_groupby", "q_scan_parquet")
        if n in timings
    }
    bands = _load_sentinel_bands()
    # a verdict requires FULL two-way coverage: every calibrated band
    # has a timing AND every sentinel has a band (code-review r7: a
    # partial/empty calibration file must degrade to unknown, not
    # vacuously certify an inflated run as clean)
    if bands is None or sf != 0.1 or set(bands) != set(sentinels):
        sentinel_ok = None  # unknown: no/partial calibration, wrong sf,
        # or a sentinel left HEADLINE
    else:
        sentinel_ok = all(
            lo <= sentinels[n] <= hi for n, (lo, hi) in bands.items()
        )
    detail = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if codegen is not None:
        detail["codegen"] = codegen
    # stdout FIRST: a completed run's timings must survive even if the
    # detail-file write fails (read-only checkout, full disk)
    print(json.dumps(detail))
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    # heavy-tail noise check (r8): light sentinels alone certified two
    # visibly-inflated runs, so the headline also carries the median
    # inflation of the reference's 12 slowest queries
    heavy_ratio, heavy_ok = _heavy_check(timings, sf)
    movers = _movers(timings, sf)
    width_mismatch = _width_mismatch() if movers is not None else None
    if width_mismatch:
        heavy_ratio = heavy_ok = None
    headline = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "slowest": slowest,
        "sentinels": sentinels,
        "sentinel_ok": sentinel_ok,
        "heavy_median_ratio": heavy_ratio,
        "heavy_ok": heavy_ok,
        "movers_over_1p3": width_mismatch or movers,
        "detail": "BENCH_DETAIL.json",
    }
    print(json.dumps(headline))
    sys.stdout.flush()
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as ex:  # never discard a finished run over a file write
        print(f"BENCH_DETAIL.json not written: {ex}", file=sys.stderr)
    return headline


if __name__ == "__main__":
    main()
