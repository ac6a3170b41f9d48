"""Profiling & selection queries (SURVEY.md §2.2-O, round 3): the
report/selection shapes that sit AROUND a curation pipeline — outlier
detection against exact percentiles, RFM-style quantile segmentation,
deterministic weighted sampling (Efraimidis–Spirakis with hash-derived
uniforms, so the "random" sample is reproducible and oracle-checkable),
and a near-duplication rate report by source pair.

Kernel lowering: aggregate-first shapes (R6 shuffle on small keys, R8
fold), then windows over the already-tiny aggregate — never a global
sort of raw rows.

Float discipline: percentiles interpolate identical doubles in both
engines (proven by q_agg_percentile); sampling keys are pow/division
chains over exact integers; monetary sums go through DECIMAL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mapreduceframework_cpp_spark.queries.llm_pipeline import _SHINGLE_CTE
from mapreduceframework_cpp_spark.registry import query
from mapreduceframework_cpp_spark.sources.tables import tbl

#: fold the first 6 hex chars of an md5 into an exact int in [0, 16^6):
#: pure ANSI (instr/substr), so the SAME text runs in Spark and DuckDB —
#: the hash-derived uniform that makes weighted sampling deterministic.
_HEX6 = " + ".join(
    f"(instr('0123456789abcdef', substr(h, {i}, 1)) - 1) * {16 ** (6 - i)}"
    for i in range(1, 7)
)


@query(
    "q_events_p99_outliers",
    oracle="""
    WITH p AS (SELECT event_type, quantile_cont(value, 0.99) AS p99
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value, p.p99
    FROM events e JOIN p USING (event_type)
    WHERE e.value > p.p99
    """,
)
def q_events_p99_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier detection against an exact per-group p99: the threshold
    aggregate is tiny (one row per event type) and broadcasts back onto
    the scan, so the 100 TB pass is scan + broadcast-filter — no second
    shuffle. Spark ``percentile`` and DuckDB ``quantile_cont`` share
    the interpolation definition, so thresholds (and therefore the
    selected rows) match exactly."""
    ev = tbl(spark, sf_dir, "events")
    p = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.99)).alias("p99")
    )
    return (
        ev.join(F.broadcast(p), "event_type")
        .filter(F.col("value") > F.col("p99"))
        .select("event_id", "event_type", "value", "p99")
    )


@query(
    "q_orders_rfm",
    oracle="""
    WITH m AS (
      SELECT o_custkey, max(o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order, frequency, monetary,
           CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey)
                AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey)
                AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey)
                AS BIGINT) AS m_score
    FROM m
    """,
)
def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quantile segmentation (recency/frequency/monetary quintiles
    per customer) — the aggregate-first discipline: the windows rank
    the one-row-per-customer AGGREGATE, never raw orders, so the
    unpartitioned ntile sorts |customers| rows, not |orders|. Every
    ORDER BY carries the custkey tie-break, making quintile edges
    deterministic; monetary is a decimal-exact sum cast to double."""
    o = tbl(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    wr = Window.orderBy(F.desc("last_order"), "o_custkey")
    wf = Window.orderBy(F.desc("frequency"), "o_custkey")
    wm = Window.orderBy(F.desc("monetary"), "o_custkey")
    return m.select(
        "o_custkey",
        "last_order",
        "frequency",
        "monetary",
        F.ntile(5).over(wr).cast("long").alias("r_score"),
        F.ntile(5).over(wf).cast("long").alias("f_score"),
        F.ntile(5).over(wm).cast("long").alias("m_score"),
    )


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, lang, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
      WHERE n_chars > 0
    ),
    keyed AS (
      SELECT doc_id, lang, n_chars,
             pow(({_HEX6} + 0.5) / 16777216.0, 1.0 / n_chars) AS samp_key
      FROM u
    ),
    r AS (
      SELECT doc_id, lang, n_chars, samp_key,
             row_number() OVER (PARTITION BY lang
                                ORDER BY samp_key DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT lang, doc_id, n_chars, round(samp_key, 9) AS samp_key
    FROM r WHERE rn <= 5
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, k=5 per language, weight =
    document length — the Efraimidis–Spirakis A-ES scheme (key =
    u^(1/w), take the top-k keys), with the uniform u derived from an
    md5 of the doc id instead of RNG state. Fully deterministic and
    partition-invariant: the same doc wins on any cluster layout, reruns
    are reproducible (the property a 100 TB sampling job actually
    needs), and the oracle can check it exactly. One scan + one per-lang
    top-k window over scalar keys."""
    docs = tbl(spark, sf_dir, "documents")
    # zero-weight (empty) documents are excluded BY DEFINITION in A-ES
    # (w=0 ⇒ key u^(1/0) undefined / never wins) — and without the
    # filter the ANSI 1.0/n_chars raises DIVIDE_BY_ZERO on the one
    # empty doc a 100 TB corpus always has (r6 degenerate sweep).
    # Mirrored in the oracle.
    u = docs.filter(F.col("n_chars") > 0).select(
        "doc_id", "lang", "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    keyed = u.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(
            f"pow((({_HEX6}) + 0.5) / 16777216.0, 1.0 / n_chars)"
        ).alias("samp_key"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("samp_key"), "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "doc_id", "n_chars", F.round("samp_key", 9).alias("samp_key"))
    )


def _pagerank_round(i: int) -> str:
    """One chained-CTE power-iteration round of the pagerank oracle.
    MATERIALIZED per round: without it DuckDB inlines the whole chain
    into one expression tree (the q_graph_labelprop 70 GB-spill
    lesson). Arithmetic mirrors operators/graph.py bit-for-bit:
    `rank_q // deg` ≡ Spark's `div` on positive longs, and
    `floor(0.85e0 * in_q)` is the SAME IEEE double multiply+floor the
    engine runs (0.85e0 and Spark's 0.85 literal are the identical
    nearest-double; in_q < 2^53 so the cast is exact)."""
    return f"""
    r{i + 1} AS MATERIALIZED (
      SELECT n.node,
             CAST(150000000 + floor(0.85e0 * coalesce(s.in_q, 0))
                  AS BIGINT) AS rank_q
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_q // e.deg) AS in_q
        FROM e JOIN r{i} r ON r.node = e.src GROUP BY 1) s
      ON s.node = n.node)"""


_PAGERANK_ORACLE = f"""
    WITH {_SHINGLE_CTE},
    pairs AS (SELECT doc_id_a, doc_id_b FROM jac WHERE jaccard >= 0.7),
    -- MATERIALIZED (ADVICE r7): ed is referenced by deg, e AND nodes;
    -- left inline, DuckDB may re-run the whole shingle/Jaccard pipeline
    -- once per reference — the exact CTE-inlining blowup the
    -- _pagerank_round docstring warns about (perf only, values equal).
    ed AS MATERIALIZED (
           SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
           UNION ALL SELECT doc_id_b, doc_id_a FROM pairs),
    deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
    e AS MATERIALIZED (
      SELECT ed.src, ed.dst, deg.deg FROM ed JOIN deg USING (src)),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM ed),
    r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_q FROM nodes),
    {",".join(_pagerank_round(i) for i in range(8))}
    SELECT node, rank_q FROM r8
"""


def _symmetric(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Both directions of every (a, b) pair as (src, dst) edges, from ONE
    reference to ``pairs`` — a union of two selects would put the whole
    upstream pipeline (e.g. MinHash-LSH) into the plan twice."""
    return pairs.select(F.inline(F.array(
        F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
        F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
    )))


@query("q_graph_pagerank", oracle=_PAGERANK_ORACLE)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph (operators/graph.py): rank
    documents inside duplicate neighborhoods — the hub copy others
    derive from is a better canonical than min-id when provenance
    matters. Integer nano-rank power iteration: bit-identical on any
    partitioning (tests/test_graph.py).

    Upgraded from rows-only to hash-gradeable in r7: the LSH candidate
    pass loses nothing at b=32/r=2 (miss probability ~4e-10 at s=0.7 —
    q_dedup_near hash-matches the exact-Jaccard oracle at both sf0.01
    and sf0.1), so the edge set IS the exact-Jaccard pair set and the
    oracle restates it relationally; the 8 integer power-iteration
    rounds are chained MATERIALIZED CTEs, and the query returns the
    exact integer nano-rank (``raw_units=True`` — the hashable form
    the operator was designed around) instead of a rounded double."""
    from mapreduceframework_cpp_spark.operators.dedup import minhash_lsh_near_dups
    from mapreduceframework_cpp_spark.operators.graph import pagerank

    docs = tbl(spark, sf_dir, "documents")
    pairs = minhash_lsh_near_dups(
        docs, n=3, num_hashes=64, bands=32, rows_per_band=2, threshold=0.7
    )
    edges = _symmetric(pairs, "doc_id_a", "doc_id_b")
    return pagerank(edges, max_iter=8, raw_units=True)


@query(
    "q_dup_rate_by_source",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    pairs AS (SELECT doc_id_a, doc_id_b FROM jac WHERE jaccard >= 0.7)
    SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = doc_id_a
    JOIN documents db ON db.doc_id = doc_id_b
    GROUP BY 1, 2
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate by source pair — the provenance report that
    tells a curation team WHICH feeds duplicate each other (mirror
    detection, scraper overlap). Pair detection is the verified
    MinHash-LSH path; attributing pairs to sources is two joins against
    the docs' (doc_id, source) projection and a count over source-pair
    keys — negligible on top of the LSH it audits."""
    from mapreduceframework_cpp_spark.operators.dedup import minhash_lsh_near_dups

    docs = tbl(spark, sf_dir, "documents")
    pairs = minhash_lsh_near_dups(
        docs, n=3, num_hashes=64, bands=32, rows_per_band=2, threshold=0.7
    )
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "q_table_profile",
    oracle="""
    SELECT 'o_orderkey' AS col,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_num,
           CAST(max(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           min(o_totalprice), max(o_totalprice), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL, min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           NULL, NULL, min(o_orderpriority), max(o_orderpriority)
    FROM orders
    """,
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic column profiler (the exact analog of DESCRIBE /
    df.summary(), which uses approximate quantiles and so can't be
    oracle-checked): one row per column with null count, exact distinct
    count, and typed min/max. ALL columns profile in ONE scan — a
    single aggregate computes every counter, then an executor-side
    stack pivots it to rows; at 100 TB this is one pass over the table
    regardless of column count. Numeric mins/maxes stay DOUBLE, string
    ones stay VARCHAR (cross-engine float→string formatting is not
    canonical, so types never mix)."""
    o = tbl(spark, sf_dir, "orders")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in num_cols + str_cols:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    one = o.agg(*aggs)
    rows = []
    for c in num_cols:
        rows.append(
            f"struct('{c}' AS col, nn_{c} AS n_nulls, nd_{c} AS n_distinct, "
            f"CAST(mn_{c} AS DOUBLE) AS min_num, CAST(mx_{c} AS DOUBLE) AS max_num, "
            f"CAST(NULL AS STRING) AS min_str, CAST(NULL AS STRING) AS max_str)"
        )
    for c in str_cols:
        rows.append(
            f"struct('{c}' AS col, nn_{c} AS n_nulls, nd_{c} AS n_distinct, "
            f"CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
            f"mn_{c} AS min_str, mx_{c} AS max_str)"
        )
    return one.select(
        F.explode(F.expr("array(" + ", ".join(rows) + ")")).alias("p")
    ).select("p.*")


#: mutual-10NN co-supply edge set (oracle dialect, shared by the
#: triangle census and the BFS distances — one definition, two
#: algorithms verified against it).
_EDGE_CTE = """
    ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ok AS (SELECT p FROM ps GROUP BY p HAVING count(*) <= 64),
    co AS (
      SELECT a.s AS sa, b.s AS sb, CAST(count(*) AS BIGINT) AS shared
      FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
      WHERE a.p IN (SELECT p FROM ok)
      GROUP BY 1, 2
    ),
    dir AS (SELECT sa AS src, sb AS dst, shared FROM co
            UNION ALL
            SELECT sb AS src, sa AS dst, shared FROM co),
    rk AS (SELECT src, dst,
                  row_number() OVER (PARTITION BY src
                                     ORDER BY shared DESC, dst ASC) AS rn
           FROM dir),
    knn AS (SELECT src, dst FROM rk WHERE rn <= 10),
    e AS (SELECT x.src AS a, x.dst AS b
          FROM knn x JOIN knn y ON x.src = y.dst AND x.dst = y.src
          WHERE x.src < x.dst)
"""


def _mutual_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mutual-10NN co-supply graph as canonical (a < b) edges —
    the Spark twin of :data:`_EDGE_CTE` (see q_graph_triangles's
    docstring for the three scale guards). Returned persisted; caller
    epochs release via ``release_persisted()``."""
    from mapreduceframework_cpp_spark.operators.common import (
        persist_tracked,
        spread,
    )

    # spread BEFORE the group-by, on the group key: the supplier-set
    # aggregate and the pair explode it feeds are CPU-bound on few
    # bytes, so AQE's byte-based coalescing runs them 2-3-wide on a
    # 32-core box; an explicit hash repartition on l_partkey keeps the
    # whole chain full-width at NO extra shuffle — on the narrow path
    # the group-by reuses the partitioning instead of exchanging again
    # (on an already-wide input spread() no-ops and the group-by
    # exchanges normally — best-effort co-location). Controlled A/B at
    # sf0.1, best-of-2 per consumer: bfs 7.4→4.5 s, labelprop
    # 6.4→3.3 s, triangles 4.6→2.4 s, degree_dist 4.6→3.3 s.
    sup_sets = (
        spread(
            tbl(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey"),
            "l_partkey",
        )
        .groupBy("l_partkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") <= 64)
    )
    pair_src = sup_sets.select(
        F.posexplode("ss").alias("i", "sa"), F.col("ss")
    )
    co = (
        pair_src.select(
            "sa",
            F.explode(
                F.expr("slice(ss, i + 2, size(ss) - i - 1)")
            ).alias("sb"),
        )
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("shared"))
    )
    direct = co.select(
        F.col("sa").alias("src"), F.col("sb").alias("dst"), "shared"
    ).unionAll(
        co.select(F.col("sb").alias("src"), F.col("sa").alias("dst"), "shared")
    )
    w = Window.partitionBy("src").orderBy(F.desc("shared"), F.asc("dst"))
    knn = direct.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 10
    )
    return persist_tracked(
        knn.groupBy(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") == 2)
        .select("a", "b")
    )


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH {_EDGE_CTE},
    tri AS (SELECT e1.a, e1.b, e2.b AS c
            FROM e e1 JOIN e e2 ON e1.b = e2.a
            WHERE EXISTS (SELECT 1 FROM e e3
                          WHERE e3.a = e1.a AND e3.b = e2.b))
    SELECT
      (SELECT CAST(count(DISTINCT v) AS BIGINT)
       FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)) AS n_vertices,
      (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
      (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the mutual-kNN co-supply graph — the
    clustering-coefficient precursor used to QA similarity graphs (a
    near-dup or co-occurrence graph whose triangle density collapses
    after an ingest change is a red flag). Three standard scale guards,
    each of which is a no-op at test SF but load-bearing at 100 TB:
    (1) hyper-common parts (>64 distinct suppliers) are dropped before
    the quadratic part self-join — the stop-item cap of co-occurrence
    mining; (2) each vertex keeps only its 10 strongest neighbours
    (shared-part count, id tie-break), so the edge set is O(V), not
    O(V^2); (3) mutuality (both directions survive the cap) makes the
    kNN graph symmetric. Triangle enumeration then orders vertices
    (a<b<c) so each triangle is found exactly once, and the degree cap
    bounds the e1⋈e2 wedge fan-out at 10 per vertex.

    Edge construction is the shared :func:`_mutual_knn_edges` (per-part
    sorted supplier sets in ONE shuffle, map-side sa<sb pair expansion
    off the array, mutuality as a canonical-pair count==2 aggregate —
    2 fact shuffles total instead of the 4 of the naive distinct +
    cap-join + equi-self-join pipeline)."""
    e = _mutual_knn_edges(spark, sf_dir)
    e1 = e.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = e.select(F.col("a").alias("wb"), F.col("b").alias("tc"))
    wedges = e1.join(e2, F.col("tb") == F.col("wb")).select("ta", "tb", "tc")
    closing = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tri = wedges.join(closing, ["ta", "tc"], "left_semi")

    verts = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .agg(F.count_distinct("v").cast("long").alias("n_vertices"))
    )
    edges = e.agg(F.count("*").cast("long").alias("n_edges"))
    tris = tri.agg(F.count("*").cast("long").alias("n_triangles"))
    out = verts.crossJoin(F.broadcast(edges)).crossJoin(F.broadcast(tris))
    return out.select("n_vertices", "n_edges", "n_triangles")


@query(
    "q_chi_square",
    oracle="""
    WITH c AS (
      SELECT d.lang, d.source, CAST(count(*) AS BIGINT) AS n
      FROM documents d GROUP BY 1, 2),
    m AS (
      SELECT lang, source, n,
             sum(n) OVER (PARTITION BY lang) AS row_n,
             sum(n) OVER (PARTITION BY source) AS col_n,
             sum(n) OVER () AS tot
      FROM c)
    SELECT lang, source, n,
           CAST(row_n * col_n AS DOUBLE) / tot AS expected,
           (CAST(n AS DOUBLE) - CAST(row_n * col_n AS DOUBLE) / tot)
           * (CAST(n AS DOUBLE) - CAST(row_n * col_n AS DOUBLE) / tot)
           / (CAST(row_n * col_n AS DOUBLE) / tot) AS chi2_term
    FROM m
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the lang × source contingency
    table — the drift detector that flags a crawler suddenly skewing
    one language to one source (each cell's chi2 term = (obs-exp)²/exp;
    a reviewer sums them against the χ² critical value). One exact-int
    cell aggregate (map-side combinable; |langs|·|sources| cells), then
    marginals via windows OVER THE TINY CELL FRAME — the fact table is
    never rescanned for row/column totals. All divisions are
    double-on-identical-int64s, bit-identical cross-engine."""
    c = (
        tbl(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_row = Window.partitionBy("lang")
    w_col = Window.partitionBy("source")
    w_all = Window.partitionBy()
    m = c.select(
        "lang",
        "source",
        "n",
        F.sum("n").over(w_row).alias("row_n"),
        F.sum("n").over(w_col).alias("col_n"),
        F.sum("n").over(w_all).alias("tot"),
    )
    expected = (F.col("row_n") * F.col("col_n")).cast("double") / F.col("tot")
    dev = F.col("n").cast("double") - expected
    return m.select(
        "lang",
        "source",
        "n",
        expected.alias("expected"),
        (dev * dev / expected).alias("chi2_term"),
    )


@query(
    "q_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n,
                 sum(count(*)) OVER () AS tot
          FROM d GROUP BY 1)
    SELECT digit, n,
           CAST(n AS DOUBLE) / tot AS observed_p,
           log10(1.0 + 1.0 / digit) AS benford_p,
           CAST(n AS DOUBLE) / tot - log10(1.0 + 1.0 / digit) AS excess
    FROM c
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order values — the classic
    fabricated-data screen (synthetic or truncated monetary columns
    drift from log10(1+1/d)). Leading digit extracted by exact integer
    stringification (no float log tricks), one 9-group aggregate with
    the total attached by a window over those 9 rows; observed vs
    Benford expectation and the signed excess per digit. Double math is
    a division and a log10 on identical operands — bit-identical."""
    d = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("digit")
        )
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy()
    benford_p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return c.select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(tot)).alias("observed_p"),
        benford_p.alias("benford_p"),
        (
            F.col("n").cast("double") / F.sum("n").over(tot) - benford_p
        ).alias("excess"),
    )


def _pagerank_unrolled_oracle(n_iter: int = 8) -> str:
    """DuckDB oracle for integer nano-rank PageRank: the power iteration
    unrolled as chained CTEs (recursive CTEs can't GROUP BY in the
    recursive term, so fixed-depth unrolling IS the portable SQL form).
    Arithmetic mirrors operators/graph.py bit-for-bit: integer division
    for per-edge contributions, exact BIGINT sums, and one
    correctly-rounded double multiply+floor per node per round (0.85
    cast to DOUBLE explicitly — DuckDB parses the bare literal as
    DECIMAL, which would use exact decimal arithmetic and drift from
    Spark's IEEE-754 product)."""
    unit, base = 1_000_000_000, int((1.0 - 0.85) * 1_000_000_000)
    sql = f"""
    WITH pair AS (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS cnode,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS snode
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate >= TIMESTAMP '2000-08-01'
    ),
    edges AS (
      SELECT cnode AS src, snode AS dst FROM pair
      UNION ALL SELECT snode, cnode FROM pair
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    nodes AS (SELECT DISTINCT src AS node
              FROM (SELECT src FROM edges UNION ALL SELECT dst FROM edges)),
    r0 AS (SELECT node, CAST({unit} AS BIGINT) AS rank_q FROM nodes)"""
    for i in range(1, n_iter + 1):
        sql += f""",
    c{i} AS (SELECT ed.dst AS node, sum(p.rank_q // ed.deg) AS in_q
             FROM ed JOIN r{i - 1} p ON p.node = ed.src GROUP BY ed.dst),
    r{i} AS (SELECT n.node,
             CAST({base} + floor(CAST(0.85 AS DOUBLE)
                                 * CAST(coalesce(c{i}.in_q, 0) AS DOUBLE))
                  AS BIGINT) AS rank_q
             FROM nodes n LEFT JOIN c{i} ON c{i}.node = n.node)"""
    return sql + f"\n    SELECT node, rank_q FROM r{n_iter}"


@query("q_graph_purchase_rank", oracle=_pagerank_unrolled_oracle(8))
def q_graph_purchase_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier purchase graph — 'who are the
    structurally central suppliers/buyers' (assortativity hubs), the
    oracle-verified companion to q_graph_pagerank (whose LSH edge set
    DuckDB can't reproduce). Edges: distinct (customer, supplier) pairs
    from the trailing year of orders⋈lineitem, symmetrized (the
    analytical window is the query's choice; the operator is
    size-agnostic and q_graph_pagerank exercises the bigger graph). Ranks are exact integer
    nano-ranks (operators/graph.py) so the 8-round power iteration is
    bit-identical to the unrolled-CTE oracle — an iterative algorithm
    under full hash verification, not rows-only. Scale: the symmetric
    edge list reads ``pair`` once and is checkpointed once; each round
    is one O(|edges|) co-partitioned join and one shuffle on the node
    key (operators/graph.py)."""
    from mapreduceframework_cpp_spark.operators.graph import pagerank

    o = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-08-01").cast("timestamp_ntz")
    )
    li = tbl(spark, sf_dir, "lineitem")
    pair = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("cnode"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("snode"),
        )
        .distinct()
    )
    edges = _symmetric(pair, "cnode", "snode")
    return pagerank(edges, damping=0.85, max_iter=8, raw_units=True)


@query(
    "q_join_size_estimate",
    oracle="""
    WITH k AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    SELECT CAST(sum(n * n) AS BIGINT) AS predicted_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_key_rows,
           CAST(max(n * n) AS DOUBLE) / CAST(sum(n * n) AS DOUBLE)
             AS max_key_share
    FROM k
    """,
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality prediction BEFORE running the join — the skew
    guard a planner (or an engineer) runs ahead of a per-user self-join
    (pair mining, sessionized co-occurrence): |A ⋈_k A| = Σ_k n_k².
    One aggregate over the key histogram — O(|A|) with partial
    aggregation, no join executed — yields the exact output size, the
    hottest key, and its share of the blowup (the salting decision
    input: max_key_share near 1 means one key dominates and a plain
    shuffle join stalls on a straggler). Exact integer sums; the only
    float is one double division on identical operands."""
    ev = tbl(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    nn = F.col("n") * F.col("n")
    return k.agg(
        F.sum(nn).alias("predicted_rows"),
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_key_rows"),
        (F.max(nn).cast("double") / F.sum(nn).cast("double")).alias(
            "max_key_share"
        ),
    )


@query(
    "q_graph_bfs_dist",
    oracle=f"""
    WITH RECURSIVE {_EDGE_CTE},
    sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    src AS (SELECT min(a) AS s FROM e),
    reach(v, d) AS (
      SELECT s, CAST(0 AS BIGINT) FROM src
      UNION
      SELECT sym.v, r.d + 1
      FROM reach r JOIN sym ON sym.u = r.v
      WHERE r.d < 8
    )
    SELECT v, CAST(min(d) AS BIGINT) AS dist
    FROM reach GROUP BY v
    """,
)
def q_graph_bfs_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BFS: hop distances (≤ 8) from the lowest-id vertex
    of the mutual-kNN co-supply graph — the reachability/radius probe
    that QAs a similarity graph's connectivity (an ingest change that
    fragments the graph shows up as exploding distances before any
    downstream metric moves). The Spark side is TRUE frontier BFS:
    each level is one join + distinct + anti-join against the visited
    set, ``localCheckpoint`` keeps the plan flat, and only a scalar
    frontier count reaches the driver per level (the
    operators/dedup.py convergence-probe discipline). The oracle walks
    the same graph with a recursive CTE whose UNION-dedup working set
    is bounded by 9·|V| rows — two independent traversal algorithms,
    one result."""
    e = _mutual_knn_edges(spark, sf_dir)
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint()
    src = e.agg(F.min("a")).collect()[0][0]  # scalar-probe: one value
    visited = (
        sym.sparkSession.createDataFrame([(src, 0)], "v long, dist long")
        .localCheckpoint()
    )
    frontier = visited.select("v")
    for depth in range(1, 9):
        nxt = (
            sym.join(frontier.withColumnRenamed("v", "u"), "u")
            .select("v")
            .distinct()
            .join(visited.select("v"), "v", "left_anti")
            .localCheckpoint()
        )
        n_new = nxt.count()  # scalar probe: frontier size only
        if n_new == 0:
            break
        nxt_d = nxt.withColumn("dist", F.lit(depth).cast("long"))
        visited = visited.unionByName(nxt_d).localCheckpoint()
        frontier = nxt
    return visited


#: 3 synchronized label-propagation rounds (oracle dialect), generated
#: once and inlined verbatim — each round: neighbor labels ∪ self,
#: per-vertex majority with (count DESC, label ASC) tie-break.
_LP_ROUNDS_SQL = """
    nbr1 AS (
      SELECT sym.v AS v, l0.lbl AS lbl
      FROM sym JOIN l0 ON l0.v = sym.u
      UNION ALL
      SELECT v, lbl FROM l0),
    cnt1 AS (SELECT v, lbl, count(*) AS c FROM nbr1 GROUP BY 1, 2),
    mx1 AS (SELECT v, max(c) AS mc FROM cnt1 GROUP BY 1),
    l1 AS (
      SELECT cnt1.v, min(cnt1.lbl) AS lbl
      FROM cnt1 JOIN mx1 ON mx1.v = cnt1.v AND cnt1.c = mx1.mc
      GROUP BY 1),
    nbr2 AS (
      SELECT sym.v AS v, l1.lbl AS lbl
      FROM sym JOIN l1 ON l1.v = sym.u
      UNION ALL
      SELECT v, lbl FROM l1),
    cnt2 AS (SELECT v, lbl, count(*) AS c FROM nbr2 GROUP BY 1, 2),
    mx2 AS (SELECT v, max(c) AS mc FROM cnt2 GROUP BY 1),
    l2 AS (
      SELECT cnt2.v, min(cnt2.lbl) AS lbl
      FROM cnt2 JOIN mx2 ON mx2.v = cnt2.v AND cnt2.c = mx2.mc
      GROUP BY 1),
    nbr3 AS (
      SELECT sym.v AS v, l2.lbl AS lbl
      FROM sym JOIN l2 ON l2.v = sym.u
      UNION ALL
      SELECT v, lbl FROM l2),
    cnt3 AS (SELECT v, lbl, count(*) AS c FROM nbr3 GROUP BY 1, 2),
    mx3 AS (SELECT v, max(c) AS mc FROM cnt3 GROUP BY 1),
    l3 AS (
      SELECT cnt3.v, min(cnt3.lbl) AS lbl
      FROM cnt3 JOIN mx3 ON mx3.v = cnt3.v AND cnt3.c = mx3.mc
      GROUP BY 1)"""


@query(
    "q_graph_labelprop",
    # every CTE is MATERIALIZED: the three chained LP rounds reference
    # sym/cntN/lN multiple times each, and DuckDB 1.0 inlines
    # multi-referenced CTEs — which re-evaluates the kNN edge build
    # exponentially per round (measured: 90 s at sf0.01, a 70 GB temp
    # spill at sf0.1; with the hint 0.13 s, identical rows).
    oracle=f"""
    WITH {_EDGE_CTE},
    sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM e
           UNION SELECT DISTINCT b, b FROM e),
    {_LP_ROUNDS_SQL}
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM l3 GROUP BY 1
    """.replace(" AS (", " AS MATERIALIZED ("),
    # ^ the blanket replace assumes EVERY " AS (" in this oracle is a
    # CTE header (true today for _EDGE_CTE/_LP_ROUNDS_SQL, verified);
    # a future non-CTE " AS (" added here would be silently corrupted —
    # write it without the surrounding spaces or inline MATERIALIZED
    # per CTE instead.
)
def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronized label propagation over the
    mutual-kNN co-supply graph: every vertex starts as its own label,
    then 3 FIXED rounds of "adopt the most frequent label among
    neighbors ∪ self, ties to the smallest label". Fixing the round
    count and the (count DESC, label ASC) tie-break makes classically
    nondeterministic LPA fully deterministic — deterministic enough
    that the oracle restates all three rounds as chained CTEs over the
    SAME shared edge definition and the hashes must agree. Per round:
    one edge join + two partial-agg shuffles on the capped O(V·k)
    graph; no per-vertex driver traffic at all (the round count is
    static, unlike the convergence-probed components loop —
    the trade a synchronous bulk engine makes at 100 TB)."""
    e = _mutual_knn_edges(spark, sf_dir)
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("u").alias("v")).distinct().select(
            "v", F.col("v").alias("lbl")
        )
    ).localCheckpoint()
    for _ in range(3):
        nbr = sym.join(
            labels.withColumnRenamed("v", "u"), "u"
        ).select("v", "lbl").unionAll(labels)
        cnt = nbr.groupBy("v", "lbl").agg(F.count(F.lit(1)).alias("c"))
        # argmax by (count DESC, label ASC) as ONE structural min — the
        # lexicographic min of (-c, lbl) IS "max count, ties to smallest
        # label", so the former max-count aggregate + equi-join +
        # min-label aggregate (3 exchanges per round, r13 plan audit)
        # collapses into a single map-side-combinable aggregation
        # (1 exchange). Values identical by construction; the oracle
        # still states the three-CTE max/join/min form.
        labels = (
            cnt.groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl"))
                ).alias("m")
            )
            .select("v", F.col("m.lbl").alias("lbl"))
            .localCheckpoint()
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


@query(
    "q_graph_degree_dist",
    oracle=f"""
    WITH {_EDGE_CTE},
    deg AS (
      SELECT v, count(*) AS d
      FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
      GROUP BY 1),
    hist AS (SELECT d, count(*) AS n_vertices FROM deg GROUP BY 1),
    hill AS (
      SELECT count(*) AS n,
             sum(CAST(floor(ln(CAST(d AS DOUBLE)) * 1e9 + 0.5) AS BIGINT))
               AS qlnsum
      FROM deg WHERE d >= 2)
    SELECT hist.d AS degree, CAST(hist.n_vertices AS BIGINT) AS n_vertices,
           round(1.0 + CAST(hill.n AS DOUBLE)
                 / (CAST(hill.qlnsum AS DOUBLE) / 1e9
                    - CAST(hill.n AS DOUBLE) * ln(2.0)), 6) AS hill_alpha
    FROM hist CROSS JOIN hill
    """,
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the mutual-kNN graph plus the Hill
    power-law tail exponent (α = 1 + n/Σln(d/d_min), d_min=2) — the
    shape diagnostic that tells a similarity graph's hubs from its
    noise (a kNN graph whose degree tail fattens after an ingest
    change grew spurious hubs). The per-degree histogram is two
    partial-agg shuffles over the capped edge set; the Hill sum is the
    ln float trap, so each ln quantizes to the 1e-9 grid before the
    int64 sum (q_events_entropy_rate's discipline) and the α formula
    is one double expression attached by a 1-row broadcast."""
    e = _mutual_knn_edges(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("n_vertices"))
    hill = deg.filter(F.col("d") >= 2).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.log(F.col("d").cast("double")) * 1e9 + 0.5).cast("long")
        ).alias("qlnsum"),
    )
    out = hist.crossJoin(F.broadcast(hill))
    return out.select(
        F.col("d").cast("long").alias("degree"),
        F.col("n_vertices").cast("long").alias("n_vertices"),
        F.round(
            F.lit(1.0)
            + F.col("n").cast("double")
            / (
                F.col("qlnsum").cast("double") / 1e9
                # ln(2.0) to the correctly-rounded double, matching the
                # oracle's ln(2.0) bit-for-bit
                - F.col("n").cast("double") * F.lit(0.6931471805599453)
            ),
            6,
        ).alias("hill_alpha"),
    )
