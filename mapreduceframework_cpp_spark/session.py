"""SparkSession construction with scale-appropriate defaults.

The reference launches one job per ``startMapReduceJob`` call with a
user-chosen thread count (``MapReduceFramework.cpp:191-202``). Here the
session is the engine: parallelism comes from partitioning, and the
configs below are the 100 TB-design knobs (AQE, Arrow, sane shuffle
partitioning) applied once.

The reference compiles its map and reduce code once, ahead of time.
Spark compiles each generated whole-stage and expression class with
Janino the first time it sees the class's source, and keeps the class
in a cache of ``spark.sql.codegen.cache.maxEntries`` entries (default
100, least recently used out). The engine's working set is far larger:
the two ``iterative`` perfbench queries (q_emb_pca_top,
q_graph_pagerank) alone generate 123 distinct classes, so at the
default every warm pass of them evicted and recompiled 94-113 classes
(~1 s of Janino work on 4 cores) and the JIT warmed the new copies up
again. :data:`CODEGEN_CACHE_ENTRIES` holds the measured working set of
a whole HEADLINE pass with headroom, so a warm pass compiles nothing;
``tests/test_codegen_cache.py`` pins that.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime (non-static) confs we also re-apply to externally created
#: sessions (e.g. the driver's) via :func:`tune`.
RUNTIME_CONFS: dict[str, str] = {
    # Testdata timestamps are timezone-naive; pin UTC so Spark and the
    # DuckDB oracle agree on every date/time function.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing, skew-join splitting, join-strategy switch.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the pandas_udf / applyInPandas surface (vectorized transfer).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Local-mode shuffle sizing; on a real cluster this is set per job size
    # (AQE coalesces down from a high initial value).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects
    # outright; read as long and convert in sources.tables.tbl.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: Generated-class cache size. Sized from a count: with an unbounded
#: cache, one ``bench.py`` pass over the 205 HEADLINE queries (sf0.1, each
#: query run twice) compiled 2660 distinct classes, so 4096 holds that
#: working set with ~1.5x headroom. A static conf: only the builder in
#: :func:`get_spark` can set it, never :func:`tune`.
CODEGEN_CACHE_ENTRIES = 4096


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — builder path sets it instead
    return spark


def get_spark(app_name: str = "mapreduceframework_cpp_spark") -> SparkSession:
    """Build (or fetch) the engine session.

    local[$SPARK_GRAFT_CPUS] for tests/bench; on a cluster the master is
    whatever ``spark-submit`` provides — nothing here assumes local mode.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, ms spent compiling them) since the JVM started:
    every Janino compile is a codegen-cache miss. JVM-wide counters, so
    take deltas around the work being measured."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6
