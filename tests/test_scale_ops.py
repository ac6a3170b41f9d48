"""Scale-path operators: salted skew join (result-identical to plain),
IVF approximate top-k (score-correct, useful recall), stateful streaming
totals (parity with batch aggregation)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mapreduceframework_cpp_spark.operators.similarity import cosine_topk, ivf_topk
from mapreduceframework_cpp_spark.operators.skew import salted_join
from mapreduceframework_cpp_spark.sources.tables import tbl


def test_salted_join_equals_plain_inner(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_name")
    plain = sorted(tuple(r) for r in o.join(c, "c_custkey").collect())
    salted = sorted(tuple(r) for r in salted_join(o, c, "c_custkey", 8).collect())
    assert salted == plain


def test_salted_join_left_keeps_unmatched(spark):
    fact = spark.createDataFrame(
        [(1, "a"), (1, "b"), (99, "orphan")], "k long, payload string"
    )
    dim = spark.createDataFrame([(1, "dim1")], "k long, name string")
    rows = sorted(
        (r.k, r.payload, r.name) for r in salted_join(fact, dim, "k", 4, "left").collect()
    )
    assert rows == [(1, "a", "dim1"), (1, "b", "dim1"), (99, "orphan", None)]


def test_salted_join_spreads_hot_key(spark):
    """A single hot key must land in several salt partitions."""
    hot = spark.range(1000).select(
        F.lit(7).alias("k"), F.col("id").alias("payload")
    )
    salted = hot.withColumn(
        "_salt", F.pmod(F.xxhash64("k", "payload"), F.lit(8)).cast("int")
    )
    n_salts = salted.select("_salt").distinct().count()
    assert n_salts == 8


def test_ivf_topk_scores_correct_and_recalls(spark, sf_dir):
    """IVF may miss neighbors (probe misses) but must never mis-score,
    and with n_probe=n_cells it degenerates to exact brute force."""
    emb = tbl(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0)

    exact_all = {
        (r.query_id, r.cand_id): r.cos_sim
        for r in cosine_topk(q, emb, k=10_000).collect()
    }
    approx = ivf_topk(q, emb, k=5, n_cells=8, n_probe=2).collect()
    assert approx
    for r in approx:
        assert exact_all[(r.query_id, r.cand_id)] == r.cos_sim

    # partial-probe recall floor (r6: score-correctness alone would
    # pass a sketch that returns almost nothing). Measured recall@5 at
    # this config is 0.44 on both sf0.001 and sf0.01 (seeded KMeans —
    # deterministic); 0.30 leaves margin for Spark ML initializer
    # changes while still failing on any real probe-routing regression.
    top5 = {
        (r.query_id, r.cand_id) for r in cosine_topk(q, emb, k=5).collect()
    }
    hit = {(r.query_id, r.cand_id) for r in approx}
    recall = len(top5 & hit) / len(top5)
    assert recall >= 0.30, f"IVF recall@5 collapsed: {recall:.2f}"

    # full-probe IVF == exact top-k (same ranks, same scores)
    exact5 = {
        (r.query_id, r.cand_id, r.rank, r.cos_sim)
        for r in cosine_topk(q, emb, k=5).collect()
    }
    full = {
        (r.query_id, r.cand_id, r.rank, r.cos_sim)
        for r in ivf_topk(q, emb, k=5, n_cells=8, n_probe=8).collect()
    }
    assert full == exact5


@pytest.mark.parametrize(
    "qname",
    [
        "q_win_distinct_count",
        "q_agg_mode",
        # round-3 determinism-sensitive additions: sequential cumsum
        # classification, windowed percentile, quantized entropy sum,
        # distinct-pair band join
        "q_orders_abc",
        "q_win_median",
        "q_doc_entropy",
        "q_events_dau_wau",
        "q_events_streaks",
        "q_scd2_pit_lookup",
        "q_supplier_hhi",
        "q_text_js_divergence",
        # robust-stats / audit additions: md5-seeded bootstrap draw,
        # cumulative-weight median crossing, rank-based trim,
        # double-ranked log-odds top-5, nano-grid perplexity sums,
        # bitmap OR-rollup
        "q_bootstrap_ci",
        "q_agg_weighted_median",
        "q_agg_trimmed",
        "q_text_logodds",
        "q_text_perplexity",
        "q_bitmap_distinct",
        "q_skyline",
        # geospatial + evaluation additions: hash-derived coordinates,
        # arithmetic argmin encoding, histogram-ranked AUC/deciles,
        # exact lag-correlation sums
        "q_geo_nearest_hub",
        "q_geo_radius_join",
        "q_geo_grid_clusters",
        "q_score_auc",
        "q_score_decile_lift",
        "q_ts_acf",
        "q_cohort_ltv",
        "q_ts_seasonal_anomaly",
        "q_spend_gini",
        "q_graph_bfs_dist",
        "q_graph_labelprop",
        "q_release_pipeline",
        # final round-3 batch: remainder-ranked allocation, RAKE score
        # ranking, SNM lead-pairs, signature-string folds, hashed
        # sparse-vector serialization
        "q_alloc_largest_remainder",
        "q_text_rake",
        "q_link_sorted_neighborhood",
        "q_events_pattern_match",
        "q_feat_hashing",
        "q_dup_payments",
        "q_mix_raking",
        "q_emb_silhouette",
        "q_tok_vocab_coverage",
        "q_graph_degree_dist",
        "q_ks_drift",
        "q_mannwhitney",
        # round-4 window hardening: rank-fusion rank ties, calibration
        # bucketing, lag ordering over possibly-tied order dates,
        # Q2's per-part argmin tie, mix-shift share deltas
        "q_rank_fusion",
        "q_score_calibration",
        "q_orders_reorder_gap",
        "q_tpch_q2_shape",
        "q_mix_shift",
        # rounds-5/6 backlog pre-hardening: every SQL-oracle query must
        # be partition-invariant BEFORE its first driver row — these are
        # the tie/rank/sequence-sensitive ones not yet in the net
        # (sweep-line concurrency ties, frequency-rank ties, median-of-
        # slopes/median selection, KM cumulative products, equi-depth
        # boundaries, changepoint argmax, transition ranking, percentile
        # cuts, Holt recursion, z-order ranks, BM25/kNN top-k ties,
        # hash-seeded sampling and imputation)
        "q_sessions_concurrency",
        "q_text_zipf",
        "q_agg_theilsen",
        "q_mad_outliers",
        "q_survival_km",
        "q_equidepth_hist",
        "q_events_changepoint",
        "q_events_markov",
        "q_user_ltv_percentiles",
        "q_ts_holt",
        "q_zorder_profile",
        "q_text_bm25",
        "q_knn_blocked",
        "q_negative_sampling",
        "q_sample_balanced",
        "q_feat_impute",
    ],
)
def test_tiebreak_queries_shuffle_partition_invariant(spark, oracle_sf_dir, qname):
    """The dense-rank COUNT(DISTINCT) emulation and the min_by MODE
    tie-break must produce identical rows no matter how the planner
    splits the shuffle — the property that keeps their driver hashes
    stable when the cluster re-partitions 10× more data differently."""
    from mapreduceframework_cpp_spark.registry import all_queries

    fn = all_queries()[qname]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = []
        for n in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            results.append(sorted(map(tuple, fn(spark, oracle_sf_dir).collect())))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[0] == results[1] == results[2]


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """availableNow single-batch run of the stateful operator must equal
    the batch groupBy aggregation."""
    from mapreduceframework_cpp_spark.streaming.stateful import running_user_totals
    from mapreduceframework_cpp_spark.streaming.stream import (
        events_stream,
        run_to_memory,
    )

    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in run_to_memory(
            running_user_totals(events_stream(spark, sf_dir)),
            "stateful_totals",
            output_mode="update",
        ).collect()
    }
    want = {
        r.user_id: (r.n, round(r.tv, 6))
        for r in tbl(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert got == want


def test_allocation_conserves_order_totals(spark, oracle_sf_dir):
    """Largest-remainder proration must conserve every order's total
    EXACTLY (the invariant the method exists for — beyond Spark==DuckDB,
    this proves both are right)."""
    import pyspark.sql.functions as F

    from mapreduceframework_cpp_spark.registry import all_queries
    from mapreduceframework_cpp_spark.sources.tables import tbl

    alloc = all_queries()["q_alloc_largest_remainder"](spark, oracle_sf_dir)
    per_order = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("got")
    )
    o = tbl(spark, oracle_sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("want"),
    )
    bad = per_order.join(o, "l_orderkey").filter(
        F.col("got") != F.col("want")
    )
    assert bad.count() == 0


def test_prefix_filter_candidate_count_bounded(spark):
    """q_dedup_prefix_filter's worst case is superlinear if the corpus
    vocabulary shifts so prefix shingles stop being rare (VERDICT r3
    item 7). Assert at sf0.1 that the prefix+length filters keep the
    candidate-pair count a sliver of the n^2 pair space — a data-shape
    regression fails here instead of silently blowing up the bench."""
    from mapreduceframework_cpp_spark.operators.common import release_persisted
    from mapreduceframework_cpp_spark.queries.retrieval import (
        prefix_filter_candidates,
    )

    # deliberately pinned (NOT bench.py's SPARK_GRAFT_SF_DIR): the bound
    # is only meaningful at the largest fixture; a rebound env var must
    # not silently shrink the regression's teeth
    docs = tbl(spark, "/root/testdata/sf0.1", "documents")
    n_docs = docs.count()
    try:
        _, cand = prefix_filter_candidates(docs, 0.7)
        n_cand = cand.count()
    finally:
        release_persisted()
    all_pairs = n_docs * (n_docs - 1) / 2
    # observed at sf0.1: ~a few candidates per doc out of n_docs-1
    # possible partners; 5% of n^2 / 32-per-doc are order-of-magnitude
    # tripwires, not tight constants.
    assert n_cand <= 0.05 * all_pairs, (
        f"{n_cand} candidates vs {all_pairs:.0f} all-pairs: prefix "
        "filter no longer prunes"
    )
    assert n_cand <= 32 * n_docs, (
        f"{n_cand} candidates for {n_docs} docs: per-doc candidate "
        "fan-out regressed"
    )


def test_spread_noop_on_wide_input(spark, sf_dir):
    """spread() must fan out a narrow scan but be a NO-OP on input
    already at or above the session's parallelism — on a cluster an
    unconditional repartition would coalesce a wide scan through a
    full shuffle (r5 guard)."""
    from mapreduceframework_cpp_spark.operators.common import spread
    from mapreduceframework_cpp_spark.sources.tables import tbl

    par = spark.sparkContext.defaultParallelism
    narrow = tbl(spark, sf_dir, "documents")
    assert narrow.rdd.getNumPartitions() < par  # single-row-group file
    assert spread(narrow).rdd.getNumPartitions() == par

    wide = narrow.repartition(par * 2, "doc_id")
    out = spread(wide)
    assert out is wide  # untouched: no extra exchange appended


def test_spread_noop_on_exchange_bearing_plans(spark, sf_dir):
    """spread() must be an identity no-op when the input plan already
    holds an exchange-introducing node (join/aggregate/repartition):
    post-exchange width is governed by shuffle.partitions / AQE, not
    byte-based scan splitting, and probing df.rdd on such a plan would
    eagerly materialize every upstream query stage under AQE at
    DataFrame-construction time (ADVICE r5). On exchange-free scans it
    must still fan out."""
    import pyspark.sql.functions as F

    from mapreduceframework_cpp_spark.operators.common import (
        _exchange_bearing,
        spread,
    )
    from mapreduceframework_cpp_spark.sources.tables import tbl

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    assert not _exchange_bearing(docs)  # plain scan projection

    langs = docs.select("lang").distinct()
    joined = docs.join(F.broadcast(langs), "lang")
    agged = docs.groupBy("lang").agg(F.count("*").alias("n"))
    for frame in (joined, agged):
        assert _exchange_bearing(frame)
        assert spread(frame) is frame  # identity: no probe, no exchange

    # a downstream map over an exchange keeps the no-op (the exchange
    # is anywhere in the lineage, not just the root)
    mapped = joined.select("doc_id", F.length("lang").alias("n"))
    assert spread(mapped) is mapped

    # the PySpark grouped-map nodes render as FlatMapGroupsInPandas /
    # FlatMapCoGroupsInPandas — prefix-matched, since a \b after the
    # bare Scala name never matches them (code-review r6)
    grouped = docs.groupBy("lang").applyInPandas(
        lambda pdf: pdf, schema="doc_id long, lang string"
    )
    assert _exchange_bearing(grouped)
    assert spread(grouped) is grouped

    # exchange-bearing HINTS are rewritten during analysis into
    # RepartitionByExpression / RebalancePartitions (ResolveCoalesceHints)
    # — covered by the allowlist, no ResolvedHint entry needed
    for hint in ("repartition", "rebalance"):
        hinted = docs.hint(hint)
        assert _exchange_bearing(hinted), hint
        assert spread(hinted) is hinted

    # a broadcast-STRATEGY hint is the ResolvedHint that survives
    # analysis, and its bare plan is exchange-free: spread() must still
    # fan the narrow scan out (code-review r7 — listing ResolvedHint in
    # the allowlist silently serialized exactly this shape)
    import pyspark.sql.functions as _F

    tagged = _F.broadcast(docs)
    assert not _exchange_bearing(tagged)
    par = spark.sparkContext.defaultParallelism
    assert spread(tagged).rdd.getNumPartitions() == par

    # the physical backstop is exhaustive by construction: strip the
    # allowlist entirely and an aggregate must STILL read as
    # exchange-bearing through its compiled Exchange operator
    import re as _re

    from mapreduceframework_cpp_spark.operators import common as _c

    orig = _c._EXCHANGE_NODES
    _c._EXCHANGE_NODES = _re.compile(r"(?!x)x")  # matches nothing
    try:
        assert _exchange_bearing(agged)
    finally:
        _c._EXCHANGE_NODES = orig


def test_exchange_backstop_memoizes_by_plan(spark, sf_dir):
    """The layer-2 physical-compilation verdict is cached by
    (applicationId, planner confs, analyzed-plan text) — composed
    pipelines call spread() repeatedly on identical plans and each
    executedPlan compile costs ~0.1-0.2 s (VERDICT r7 item 7); the
    confs joined the key in r9 (ADVICE r8: applicationId is shared by
    newSession() siblings and survives runtime conf.set, so it alone
    cannot isolate per-session planner state). Prove the cache is
    (a) consulted: a seeded verdict short-circuits the compile;
    (b) written: a backstop-reaching plan leaves exactly its key behind;
    (c) bounded: inserts at capacity evict FIFO;
    (d) conf-sensitive: mutating a keyed conf misses the stale entry."""
    import re as _re

    import pyspark.sql.functions as F

    from mapreduceframework_cpp_spark.operators import common as _c
    from mapreduceframework_cpp_spark.operators.common import _exchange_bearing
    from mapreduceframework_cpp_spark.sources.tables import tbl

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    agged = docs.groupBy("lang").agg(F.count("*").alias("n"))

    # force the aggregate past layer 1 so it must reach the backstop
    orig = _c._EXCHANGE_NODES
    _c._EXCHANGE_NODES = _re.compile(r"(?!x)x")
    saved = dict(_c._BACKSTOP_CACHE)
    try:
        _c._BACKSTOP_CACHE.clear()
        assert _exchange_bearing(agged)  # live compile
        app = spark.sparkContext.applicationId
        confs = ";".join(
            f"{k}={spark.conf.get(k)}" for k in _c._BACKSTOP_CONF_KEYS
        )
        tree = agged._jdf.queryExecution().analyzed().treeString()
        assert _c._BACKSTOP_CACHE == {(app, confs, tree): True}  # (b) written

        # (a) consulted: a poisoned entry is believed without recompiling
        _c._BACKSTOP_CACHE[(app, confs, tree)] = False
        assert not _exchange_bearing(agged)

        # (d) conf-sensitive: flip a keyed planner conf — the poisoned
        # verdict no longer matches, a fresh compile tells the truth
        thresh_key = "spark.sql.autoBroadcastJoinThreshold"
        prev_thresh = spark.conf.get(thresh_key)
        try:
            spark.conf.set(thresh_key, "1234567")
            assert _exchange_bearing(agged)
        finally:
            spark.conf.set(thresh_key, prev_thresh)

        # (c) bounded: fill to capacity, insert once more, oldest falls out
        _c._BACKSTOP_CACHE.clear()
        for i in range(_c._BACKSTOP_CACHE_MAX):
            _c._BACKSTOP_CACHE[("app", "c", str(i))] = True
        assert _exchange_bearing(agged)
        assert len(_c._BACKSTOP_CACHE) == _c._BACKSTOP_CACHE_MAX
        assert ("app", "c", "0") not in _c._BACKSTOP_CACHE
        assert _c._BACKSTOP_CACHE[(app, confs, tree)] is True
    finally:
        _c._EXCHANGE_NODES = orig
        _c._BACKSTOP_CACHE.clear()
        _c._BACKSTOP_CACHE.update(saved)


# ---------------------------------------------------------------------------
# Degenerate-input robustness (r6): a 100 TB corpus always contains empty
# documents and zero embeddings. Every one of these cases previously killed
# its whole job with an ANSI error (DIVIDE_BY_ZERO / INVALID_ARRAY_INDEX).
# ---------------------------------------------------------------------------


def test_similarity_ops_tolerate_zero_vectors(spark):
    """Cosine is undefined for the zero vector: all similarity operators
    must exclude zero-norm rows (query AND candidate side) instead of
    raising DIVIDE_BY_ZERO."""
    from mapreduceframework_cpp_spark.operators.similarity import (
        cosine_topk,
        embedding_near_dups,
        ivf_topk,
        label_blocked_knn,
    )

    rows = [
        (i, [float((i + j) % 5) / 4 + 0.1 for j in range(8)], i % 2)
        for i in range(12)
    ] + [(99, [0.0] * 8, 0)]  # the zero vector
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    top = cosine_topk(emb, emb, k=3).collect()
    assert top and all(r.query_id != 99 and r.cand_id != 99 for r in top)

    knn = label_blocked_knn(emb, k=2).collect()
    assert knn and all(r.vec_id != 99 and r.neighbor_id != 99 for r in knn)

    near = embedding_near_dups(emb, threshold=0.5).collect()
    assert all(r.vec_id_a != 99 and r.vec_id_b != 99 for r in near)

    ivf = ivf_topk(emb, emb, k=2, n_cells=2, n_probe=2).collect()
    assert ivf and all(r.query_id != 99 and r.cand_id != 99 for r in ivf)


def _small_corpus(spark, extra):
    rows = [(i, [float((i + j) % 5) / 4 + 0.1 for j in range(8)]) for i in range(12)]
    return spark.createDataFrame(rows + extra, "vec_id long, embedding array<float>")


@pytest.mark.parametrize(
    "bad, why",
    [
        ((50, [0.5] * 7), "embedding widths differ"),  # ragged width
        ((51, [0.5] * 7 + [None]), "an embedding vector holds a NULL element"),
    ],
)
def test_pair_kernel_refuses_broken_vectors(spark, bad, why):
    """A vector of another width, or one with a NULL element, breaks the
    fixed-width contract. The JVM ``_dot`` fold turned either into a
    silent NULL (a NULL cosine that drops a near-dup pair or ranks in
    top-k, or a NULL norm that drops the row); the tile kernel raises a
    named error instead."""
    from mapreduceframework_cpp_spark.operators.similarity import (
        cosine_topk,
        embedding_near_dups,
    )

    emb = _small_corpus(spark, [bad])
    for run in (
        lambda: embedding_near_dups(emb, threshold=0.5).collect(),
        lambda: cosine_topk(emb, emb, k=3).collect(),
    ):
        with pytest.raises(Exception, match=f"EmbeddingContractError: {why}"):
            run()


@pytest.mark.parametrize("blocks", [1, None])
def test_pair_kernel_keeps_spark_nan_semantics(spark, monkeypatch, blocks):
    """A NaN element gives NaN cosines. Spark's ``NaN >= θ`` is true and
    DESC puts NaN first (the DuckDB oracle orders NaN the same way), so
    the pre-kernel pair rows kept every NaN pair as a near-dup and
    ranked the NaN vector first for every query; the kernel must too.
    One block makes each tile's own top-k the final one."""
    from mapreduceframework_cpp_spark.operators import similarity as S
    from mapreduceframework_cpp_spark.operators.similarity import (
        cosine_topk,
        embedding_near_dups,
    )

    if blocks:
        monkeypatch.setattr(S, "_n_blocks", lambda df: blocks)
    emb = _small_corpus(spark, [(50, [0.5] * 7 + [float("nan")])])
    near = embedding_near_dups(emb, threshold=0.5).collect()
    nan_pairs = sorted((r.vec_id_a, r.vec_id_b) for r in near if r.cos_sim != r.cos_sim)
    assert nan_pairs == [(i, 50) for i in range(12)]
    assert all(r.cos_sim >= 0.5 for r in near if r.cos_sim == r.cos_sim)

    top = cosine_topk(emb, emb, k=2).collect()
    for r in top:
        if r.query_id == 50:  # every score NaN: ties break by cand_id
            assert (r.cand_id, r.rank) in {(0, 1), (1, 2)} and r.cos_sim != r.cos_sim
        elif r.rank == 1:
            assert r.cand_id == 50 and r.cos_sim != r.cos_sim
        else:
            assert r.cand_id != 50 and r.cos_sim == r.cos_sim
    assert len(top) == 13 * 2


def test_pair_kernel_tiling_invariant(spark, oracle_sf_dir, monkeypatch):
    """Rows must not depend on how the corpus is tiled: one block (a
    single diagonal tile), many blocks (mostly off-diagonal tiles,
    candidate blocks smaller than k) and a left chunk that splits every
    tile give the same near-dup pairs and top-k lists."""
    from mapreduceframework_cpp_spark.operators import similarity as S
    from mapreduceframework_cpp_spark.registry import all_queries

    Q = all_queries()
    results = []
    for blocks, chunk in ((1, 64), (4, 7), (101, 64)):
        monkeypatch.setattr(S, "_n_blocks", lambda df, b=blocks: b)
        monkeypatch.setattr(S, "_CHUNK", chunk)
        results.append([
            sorted(map(tuple, Q[n](spark, oracle_sf_dir).collect()))
            for n in ("q_dedup_embedding", "q_sim_topk")
        ])
    assert results[0] == results[1] == results[2]
    assert all(results[0])


def test_bpe_tolerates_single_and_empty_token_docs(spark):
    """Single-symbol docs contribute no adjacent pairs; without the
    size guard sequence(0, -1) materializes DESCENDING and the ANSI
    syms[i+1] lookup throws INVALID_ARRAY_INDEX."""
    from mapreduceframework_cpp_spark.operators.bpe import learn_bpe_merges

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, ""), (3, "solo"), (4, "a b")],
        "doc_id long, text string",
    )
    merges = learn_bpe_merges(docs, n_merges=2).collect()
    assert [tuple(r)[1:3] for r in merges][0] == ("a", "b")


def test_queries_tolerate_empty_documents(spark, sf_dir, tmp_path):
    """q_sample_weighted (1/weight), q_pipeline_e2e (alpha/len gate) and
    q_text_quality (grid denominators) must run to completion on a
    corpus holding empty / whitespace-only / symbol-only documents."""
    import pyspark.sql.functions as F

    from mapreduceframework_cpp_spark.registry import all_queries
    from mapreduceframework_cpp_spark.sources.tables import tbl

    base = tbl(spark, sf_dir, "documents").limit(30)
    extra = spark.createDataFrame(
        [
            (900001, "", "en", "web", 0),
            (900002, "   ", "en", "web", 3),
            (900003, "!!! ???", "de", "books", 7),
        ],
        base.schema,
    )
    edge_dir = str(tmp_path / "edge_sf")
    base.unionByName(extra).write.parquet(edge_dir + "/documents.parquet")

    Q = all_queries()
    for name in ("q_sample_weighted", "q_pipeline_e2e", "q_text_quality"):
        out = Q[name](spark, edge_dir)
        assert out.count() > 0, name
    # the empty doc must not be sampled (zero weight) nor pass the gate
    sampled = {r.doc_id for r in Q["q_sample_weighted"](spark, edge_dir).collect()}
    assert 900001 not in sampled


def test_ops_tolerate_null_rows(spark):
    """NULL payloads / embeddings must be excluded, not crash the task:
    bytes(None) killed the media Python stages and Spark ML KMeans.fit
    raises on a null feature vector (r6 null sweep)."""
    from mapreduceframework_cpp_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        extract_features,
    )
    from mapreduceframework_cpp_spark.operators.similarity import (
        embedding_near_dups,
        ivf_topk,
        kmeans_cluster_report,
    )

    media = spark.createDataFrame(
        [
            (1, "image", b"payload-bytes", ("fake/v1", 13, "web")),
            (2, "image", None, ("fake/v1", 0, "web")),
        ],
        MEDIA_SCHEMA,
    )
    assert [r.doc_id for r in decode_media(media).collect()] == [1]
    assert [r.doc_id for r in extract_features(media).collect()] == [1]

    rows = [
        (i, [float((i + j) % 5) / 4 + 0.1 for j in range(8)], i % 2)
        for i in range(12)
    ] + [(98, None, 0)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    rep = kmeans_cluster_report(emb, k=2)
    assert rep.agg(F.sum("n_members")).first()[0] == 12  # null excluded
    ivf = ivf_topk(emb, emb, k=2, n_cells=2, n_probe=2).collect()
    assert ivf and all(r.query_id != 98 and r.cand_id != 98 for r in ivf)
    top = cosine_topk(emb, emb, k=2).collect()
    assert len(top) == 12 * 2 and all(98 not in (r.query_id, r.cand_id) for r in top)
    near = embedding_near_dups(emb, threshold=0.5).collect()
    assert near and all(98 not in (r.vec_id_a, r.vec_id_b) for r in near)
