"""Iterative graph algorithms beyond connected components
(operators/dedup.dedup_clusters): PageRank by power iteration, used to
rank documents inside near-dup neighborhoods (a high-rank doc is the
"hub" copy others derive from — a useful canonical-selection signal
besides min-id).

Determinism discipline: ranks are EXACT integers ("nano-rank" units,
1e9 per node). Per-edge contributions use integer division, the
per-node aggregation sums exact longs (order-independent), and the only
float op per iteration is one double multiply + floor on an exact
integer — so results are bit-identical on any partitioning, any
cluster.

Plan shape (the co-partitioned PageRank of the Spark RDD paper, Zaharia
et al., NSDI 2012): one materialized edge frame, hash-partitioned by
``src`` once and reused by every round; ranks come out of each round
already partitioned the same way, so a round is ONE shuffle. No
broadcast and no per-round checkpoint: the rounds stay lazy and the
caller's action runs them as one query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

#: one rank unit = 1e9 nano-ranks
_UNIT = 1_000_000_000


def pagerank(
    edges: DataFrame, damping: float = 0.85, max_iter: int = 10,
    raw_units: bool = False,
) -> DataFrame:
    """PageRank over directed (src, dst) edges; returns (node, rank)
    with rank in units of 1.0-per-node (sum ≈ n_nodes minus the mass
    dangling/rounding drops — the standard simplification).

    ``raw_units=True`` returns the exact integer nano-rank ``rank_q``
    instead of the rounded double — the cross-engine-hashable form
    (no float ever leaves the plan).

    ``edges`` is read exactly once: partitioned by ``src``, annotated
    with its out-degree by a ``count(*) over (partition by src)`` window
    and checkpointed. The checkpoint forgets its partitioning, so the
    loop shuffles it by ``src`` once and every later round reuses that
    exchange. A round joins it with the ranks (a shuffled hash join built
    on the ranks, which arrive already partitioned by node) and sums the
    per-edge contributions plus one zero per node, so a node without
    in-edges still gets the teleport base; the repartition on the node
    key in front of that ``sum`` is the round's only shuffle. Edges with
    a null endpoint are ignored."""
    if max_iter < 1:
        raise ValueError("max_iter must be at least 1")
    # at least 2: a 1-partition repartition plans as SinglePartition,
    # which the join cannot pair with the edges' hash partitioning
    parts = max(2, edges.sparkSession.sparkContext.defaultParallelism)
    by_src = Window.partitionBy("src")
    both_ends = "src IS NOT NULL AND dst IS NOT NULL"
    edges_deg = (
        edges.where(both_ends)
        .repartition(parts, "src")
        .withColumn("deg", F.count("*").over(by_src))
        .withColumn("lead", F.row_number().over(by_src.orderBy("dst")) == 1)
        .localCheckpoint()
        # restated: otherwise the optimizer infers a null filter on the
        # edges in every round but the last, and the last round's edge
        # exchange would not match (and reuse) the others
        .where(both_ends)
    )
    # per edge, its share of the src's rank to dst; per src (on its lead
    # edge), a zero to itself, so a node without in-edges still gets a
    # row (and the base) — every node is a src or a dst
    share = F.struct(  # exact integer division
        F.col("dst").alias("src"), F.expr("rank_q div deg").alias("c")
    )
    zero = F.struct(F.col("src"), F.lit(0).cast("long").alias("c"))
    shares = F.inline(
        F.when(F.col("lead"), F.array(share, zero)).otherwise(F.array(share))
    )
    base = int((1.0 - damping) * _UNIT)
    new_rank = (F.lit(base) + F.floor(damping * F.sum("c"))).cast("long")

    # round 1 needs no join: every rank starts at one unit
    joined = edges_deg.withColumn("rank_q", F.lit(_UNIT).cast("long"))
    for it in range(max_iter):
        if it:
            joined = edges_deg.join(ranks.hint("shuffle_hash"), "src")
        ranks = (
            joined.select(shares)
            .repartition(parts, "src")
            .groupBy("src")
            .agg(new_rank.alias("rank_q"))
        )
    ranks = ranks.withColumnRenamed("src", "node")
    if raw_units:
        return ranks
    return ranks.select("node", F.round(F.col("rank_q") / _UNIT, 9).alias("rank"))
