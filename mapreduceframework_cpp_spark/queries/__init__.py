"""The declared capability inventory (SURVEY.md §2.2).

Importing this package registers every query + oracle pair into
:mod:`mapreduceframework_cpp_spark.registry`, then moves the next
verification window to the front of the registration order. The driver
checks the first ``registry.WINDOW`` registered queries against the
DuckDB oracle each round and leaves its rows in ``CORRECTNESS_rNN.json``
at the repo root; :func:`registry.derive_next_window` reads all of them
at import, so a new artifact moves the window with no code edit:

1. queries with no green driver row, in registration order;
2. ``PINNED`` queries changed since a round, until a newer round proves
   them;
3. the stalest SQL-oracle evidence first.

``list(all_queries())[:50]`` is the window.
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

#: SQL-oracle queries changed after the round they map to: each holds a
#: window slot until a newer CORRECTNESS artifact hash-matches it
PINNED = {
    "q_sim_topk": 14,
    "q_knn_blocked": 14,
    "q_dedup_embedding": 14,
    "q_sim_lsh_topk": 14,
    "q_graph_pagerank": 14,
    "q_graph_purchase_rank": 14,
    "q_sink_python": 14,
    "q_sink_time_travel": 14,
    "q_sink_changes": 14,
    "q_sink_delete_vectors": 14,
    "q_sink_checkpoint_read": 14,
    "q_sink_change_feed": 14,
}

registry.reorder(
    registry.derive_next_window(
        registry.correctness_artifacts(),
        registry.QUERIES,
        registry.ORACLES,
        PINNED,
    )[0]
)
