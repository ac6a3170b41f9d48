"""PageRank (operators/graph.py): hand-checked fixture, exact
determinism across partitionings, mass conservation, and the plan
shape (one shuffle a round, no broadcast, one edge exchange)."""

from __future__ import annotations

import re

import pytest

from mapreduceframework_cpp_spark.operators.graph import _UNIT, pagerank


def _expected_ranks(edges, damping=0.85, iters=10):
    """Reference implementation of the SAME integer arithmetic."""
    nodes = {n for e in edges for n in e}
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    ranks = {n: _UNIT for n in nodes}
    base = int((1.0 - damping) * _UNIT)
    for _ in range(iters):
        inbox = {n: 0 for n in nodes}
        for s, d in edges:
            inbox[d] += ranks[s] // out[s]
        ranks = {n: base + int(damping * inbox[n]) for n in nodes}
    return {n: round(r / _UNIT, 9) for n, r in ranks.items()}


EDGES = [(1, 2), (2, 1), (3, 2), (3, 4), (4, 2)]
NODES = [1, 2, 3, 4]

#: node 3 has no in-edges in every fixture; each fixture adds one shape
FIXTURES = {
    "base": EDGES,
    "dangling": EDGES + [(4, 5)],  # 5 is dst-only: no out-edges
    "duplicate": EDGES + [(3, 4)],  # the repeat counts twice in deg(3)
    "self_loop": EDGES + [(2, 2)],
    "all": EDGES + [(4, 5), (3, 4), (2, 2), (6, 1)],  # 6: src-only
}


def test_pagerank_matches_reference_arithmetic(spark):
    for name, edges in FIXTURES.items():
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.rank for r in pagerank(df, max_iter=10).collect()}
        assert got == _expected_ranks(edges), name
        # a node with no in-links gets exactly the base teleport share
        assert got[3] == 0.15, name
        if name == "base":  # the 1<->2 cycle holds nearly all mass
            assert min(got[1], got[2]) > max(got[3], got[4])


def test_pagerank_partition_invariant(spark):
    for name, edges in FIXTURES.items():
        df = spark.createDataFrame(edges, "src long, dst long")
        ref = sorted(map(tuple, pagerank(df, max_iter=6).collect()))
        for n in (1, 3, 7):
            got = sorted(map(tuple, pagerank(df.repartition(n), max_iter=6).collect()))
            assert got == ref, f"{name}: {n} partitions changed ranks"


def test_pagerank_mass_bounded(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    ranks = [r.rank for r in pagerank(edges, max_iter=10).collect()]
    # total mass never exceeds n_nodes; rounding/dangling only loses mass
    assert 0 < sum(ranks) <= len(NODES)


def test_pagerank_rejects_zero_rounds(spark):
    edges = spark.createDataFrame(EDGES, "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(edges, max_iter=0)


#: jobs outside the rounds, measured: the edge checkpoint (its exchange
#: and its materialization), the loop's one edge exchange, the result
_SETUP_JOBS = 4


def test_pagerank_one_shuffle_a_round(spark):
    """Per-round eager steps (checkpoints, broadcasts, count probes) must
    not creep back: at most one job a round beyond the fixed set-up, one
    rank-side shuffle a round, no broadcast, and the edge side shuffled
    once (every later round reuses that exchange)."""
    rounds = 8
    sc = spark.sparkContext
    edges = spark.createDataFrame(FIXTURES["all"], "src long, dst long")
    sc.setJobGroup("test_pagerank_one_shuffle_a_round", "job-count guard")
    try:
        df = pagerank(edges, max_iter=rounds)
        df.collect()
        jobs = sc.statusTracker().getJobIdsForGroup("test_pagerank_one_shuffle_a_round")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= _SETUP_JOBS + rounds, sorted(jobs)

    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastExchange" not in final
    shuffles = [
        ln for ln in final.splitlines()
        if re.search(r"\bExchange ", ln) and "ReusedExchange" not in ln
    ]
    rank_side = [ln for ln in shuffles if "REPARTITION_BY_NUM" in ln]
    assert len(rank_side) == rounds, final
    assert len(shuffles) - len(rank_side) <= 1, final
