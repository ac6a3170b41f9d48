"""Shared operator utilities."""

from __future__ import annotations

import hashlib
import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def portable_hash60(col: str) -> Column:
    """60-bit deterministic hash of a string column — the top 15 hex
    chars of its md5 digest, parsed base-16. Always non-negative
    (< 2^60). Reproducible OUTSIDE Spark in any engine with md5 + hex
    parsing (DuckDB: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``;
    stdlib Python: :func:`portable_hash60_py`) — the hash to reach for
    whenever hash values land in OUTPUT columns, because it lets the
    query carry a full cross-engine value oracle where seeded xxhash64
    (no public equivalent elsewhere) forces rows-only grading. Cost:
    one md5 + one hex parse per row — a few times an xxhash64 call;
    keep xxhash64 for shuffle-internal hashing (banding, salting,
    bucketing) where values never surface.

    ``col`` is a SQL expression string, interpolated verbatim."""
    return F.expr(f"CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT)")


def portable_hash60_py(s: str) -> int:
    """stdlib twin of :func:`portable_hash60` (UTF-8, like both
    engines) — lets parity tests re-derive engine outputs with no
    Spark round-trip for the hash primitive."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

#: logical-plan nodes that compile to (or are fed by) an exchange. Used
#: to keep spread()'s width probe off plans whose upstream stages AQE
#: would eagerly materialize on ``df.rdd`` (ADVICE r5). Conservative by
#: design: a false positive only means spread() no-ops, which is the
#: safe direction at scale.
_EXCHANGE_NODES = re.compile(
    # the grouped-map family deliberately matches by PREFIX (\w*), not
    # \b: PySpark renders FlatMapGroupsInPandas / FlatMapCoGroupsInPandas
    # / MapInPandas-with-grouping etc., and a \b after the bare Scala
    # name never matches those (code-review r6)
    r"^[\s+:\-]*(Join\b|Aggregate\b|Distinct\b|Deduplicate\b|"
    r"Repartition\w*|RebalancePartitions\b|Window\b|Sort\b|"
    r"GlobalLimit\b|Intersect\b|Except\b|CoGroup\w*|FlatMapGroups\w*|"
    # NOTE deliberately NOT ResolvedHint: exchange-carrying hints never
    # reach the analyzed plan as hints — ResolveCoalesceHints rewrites
    # df.hint('repartition'/'rebalance') into RepartitionByExpression /
    # RebalancePartitions during analysis (matched above; verified
    # empirically). The ResolvedHint that DOES survive analysis is the
    # join-STRATEGY family (F.broadcast / df.hint('broadcast')), whose
    # bare plan is exchange-free — listing it would wrongly no-op
    # spread() on a broadcast-tagged narrow scan, the exact pathology
    # spread() exists to fix (code-review r7). Any hint that really
    # compiles to a shuffle is caught by the executedPlan backstop.
    r"FlatMapCoGroups\w*|MapGroups\w*)",
    re.MULTILINE,
)

#: nodes that are narrow by construction (no exchange can originate
#: from them). When EVERY line of the analyzed plan is one of these,
#: the plan is provably exchange-free and the physical-plan backstop
#: can be skipped — this keeps the common spread() input (a scan
#: projection, possibly filtered/exploded) at analyzed-plan-only cost
#: (~0.1-0.2 s of executedPlan compilation per call measured at sf0.1
#: on the 3-spread incremental-dedup query, interleaved A/B).
_NARROW_NODES = re.compile(
    r"^[\s+:\-]*(Project\b|Filter\b|Relation\b|LogicalRelation\b|"
    r"SubqueryAlias\b|View\b|LocalRelation\b|Generate\b|"
    r"UnresolvedRelation\b)"
)


#: (applicationId, planner confs, analyzed-plan text) → layer-2
#: backstop verdict. Insertion-ordered dict used as a FIFO cache.
_BACKSTOP_CACHE: dict[tuple[str, str, str], bool] = {}
_BACKSTOP_CACHE_MAX = 512

#: session confs the physical planner reads that could plausibly change
#: whether a compiled plan carries an Exchange — folded into the cache
#: key (ADVICE r8: applicationId alone is shared by newSession()
#: siblings and survives runtime conf.set, so it cannot carry the
#: per-session-conf isolation the verdict depends on).
_BACKSTOP_CONF_KEYS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.join.preferSortMergeJoin",
    "spark.sql.shuffle.partitions",
)


def _exchange_bearing(df: DataFrame) -> bool:
    """True if the plan contains (or compiles to) an exchange.

    Two layers (ADVICE r6 — the allowlist alone is falsifiable by any
    node it doesn't name, and a false NEGATIVE re-exposes the
    df.rdd/AQE eager-materialization hazard the guard exists for):

    1. The ANALYZED logical plan against the node allowlist — cheapest,
       no physical planning.
    2. If that says clean, the COMPILED physical plan
       (``executedPlan`` — the AQE wrapper BEFORE any stage runs; NOT
       ``sparkPlan``, which predates EnsureRequirements and so never
       contains an Exchange) is searched for ``Exchange``. Plan
       compilation only, the same work ``.explain()`` does — verified
       job-free via statusTracker, including for broadcast joins
       (BroadcastExchange builds lazily). Exhaustive by construction:
       whatever logical node introduced the shuffle must surface as an
       Exchange operator here.

    Fast exit between the layers: when every analyzed-plan line is a
    provably-narrow node (scan/project/filter/explode — the normal
    spread() input), the plan cannot compile to an exchange and layer
    2's physical compilation is skipped.

    Only a plan these layers call exchange-free reaches the ``df.rdd``
    width probe in :func:`spread`, where probing is genuinely free.

    The layer-2 verdict is MEMOIZED by (applicationId, the planner
    confs in _BACKSTOP_CONF_KEYS, analyzed-plan text): composed
    pipelines call spread() repeatedly on identical plans (the
    3-spread incremental-dedup chain), and each physical compilation
    costs ~0.1-0.2 s (VERDICT r7 item 7). The verdict is deterministic
    given the plan and the planner confs, and the confs are IN the
    key (ADVICE r8) because applicationId alone is too coarse:
    newSession() siblings share it with possibly different confs, and
    runtime conf.set (the dynamic-partition-overwrite context in
    sources/tables.py) can mutate the planner mid-session. A conf
    outside the list could in principle still leak a stale verdict —
    the blast radius is only spread()'s probe eagerness, never output
    values. Bounded FIFO so an unbounded variety of plans (a
    long-lived service) can't grow the cache without limit."""
    qe = df._jdf.queryExecution()
    tree = qe.analyzed().treeString()
    if _EXCHANGE_NODES.search(tree):
        return True
    if all(_NARROW_NODES.match(ln) for ln in tree.splitlines() if ln.strip()):
        return False
    # no fallback arg: every listed key is a registered SQL conf with a
    # default, and RuntimeConfig TYPE-CHECKS an explicit fallback (a ''
    # default on a boolean conf raises INVALID_CONF_VALUE)
    conf = df.sparkSession.conf
    confs = ";".join(f"{k}={conf.get(k)}" for k in _BACKSTOP_CONF_KEYS)
    key = (df.sparkSession.sparkContext.applicationId, confs, tree)
    hit = _BACKSTOP_CACHE.get(key)
    if hit is None:
        hit = "Exchange" in qe.executedPlan().treeString()
        if len(_BACKSTOP_CACHE) >= _BACKSTOP_CACHE_MAX:
            _BACKSTOP_CACHE.pop(next(iter(_BACKSTOP_CACHE)))
        _BACKSTOP_CACHE[key] = hit
    return hit


def spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Fan a narrow scan out to the session's full parallelism before a
    CPU-heavy per-row stage (hashing, shingling, Python UDF batches).

    File-size-based input splitting provisions partitions by bytes; for
    compute-bound stages the cost is per-row, so a small file arriving as
    one task serializes the whole stage — locally AND on a cluster
    whenever byte-based splitting under-provisions (the test parquet is
    the extreme case: single-row-group files, so at most ONE real reader
    per file no matter how byte ranges split). One extra shuffle of the
    narrow input buys full-width execution of everything downstream.
    On the narrow path the repartition hash-partitions by ``key``, so a
    later group-by on the same key reuses the exchange; on either no-op
    path below that co-location is BEST-EFFORT only and the group-by
    exchanges normally.

    GUARDED for scale (r5): when the input already has >= the session's
    default parallelism — the normal case for a big scan on a real
    cluster — this is a NO-OP, because repartitioning down to
    defaultParallelism would otherwise COALESCE a wide scan through a
    full shuffle of every byte.

    Apply this to SCAN PROJECTIONS. For exchange-bearing inputs
    (joins/aggregates/…) spread() is a NO-OP (r6, ADVICE r5): their
    width is already governed by shuffle.partitions / AQE rather than
    byte-based scan splitting, so there is nothing to fix — and probing
    ``df.rdd`` there would eagerly materialize every upstream query
    stage under AQE at DataFrame-construction time. On exchange-free
    plans the width probe compiles the plan but runs no job."""
    if _exchange_bearing(df):
        return df
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism, key)


#: frames persisted mid-composition by operators (plan diamonds). The
#: operator itself runs no action, so it cannot unpersist; a long-lived
#: session that never releases would accumulate cached shingle /
#: fingerprint blocks in executor storage memory.
_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``persist()`` plus session-level bookkeeping so callers with a
    natural batch boundary (bench loop, streaming foreachBatch, test
    teardown) can release every operator-held cache in one call."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every tracked frame; returns how many were released."""
    n = 0
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
        n += 1
    return n
