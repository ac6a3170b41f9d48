"""The codegen cache holds the engine's working set, so a warm re-run
compiles nothing (session.CODEGEN_CACHE_ENTRIES).

At Spark's default of 100 entries, the two ``iterative`` perfbench
queries alone (~123 generated classes) evicted each other and every
warm pass recompiled 94-113 classes with Janino. A re-run also compiles
again when a plan bakes run-specific values (a path, a seed) into its
generated source, which this test catches too."""

from __future__ import annotations

from mapreduceframework_cpp_spark.operators.common import release_persisted
from mapreduceframework_cpp_spark.registry import all_queries
from mapreduceframework_cpp_spark.session import codegen_counters


def test_warm_rerun_compiles_no_class(spark, oracle_sf_dir):
    queries = all_queries()

    def run() -> None:
        for name in ("q_graph_pagerank", "q_emb_pca_top"):
            assert queries[name](spark, oracle_sf_dir).collect()
            release_persisted()

    run()
    compiles, _ = codegen_counters(spark)
    run()
    assert codegen_counters(spark)[0] - compiles == 0
