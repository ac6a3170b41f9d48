"""Similarity search over embedding columns (SURVEY.md §2.2-K).

Brute-force cosine top-k and near-duplicate pairs (the correctness
baselines) and bucketed variants (sign-LSH, IVF, label blocks: the scale
paths).

The two brute-force operators score TILES, never pair rows: rows hash
into B blocks (B = the session's default parallelism), each tile — a
block pair for near-dups, the query set × one candidate block for top-k
— is one ``groupBy(tile).applyInArrow`` group, and a Python worker
scores the whole tile with NumPy, emitting only the pairs its consumer
keeps (over-threshold pairs, or a partial top-k). The dot products fold
the d terms left to right exactly as the JVM-side ``_dot`` fold does, so
every cosine is the same IEEE double and no ε band is needed around a
threshold or the k-th score. The bucketed variants still score pair
rows with ``_dot`` (zip_with + aggregate, JVM-side).

Scale design: brute force is O(|Q|·|C|·d) — fine when the query set is
small and broadcastable, impossible corpus×corpus. The LSH variant
buckets both sides by sign-pattern so each query only scans its bucket
(and hamming-1 probes); recall depends on the data having angular
structure — on isotropic random vectors no sublinear method helps, which
is why the recall test uses clustered synthetic data.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark import cloudpickle
from pyspark.sql import DataFrame, Window
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DoubleType, StructField, StructType

from mapreduceframework_cpp_spark.operators.common import spread


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the double-cast vector and its L2 norm, EXCLUDING
    zero-norm rows: cosine similarity is undefined for the zero vector,
    and a 100 TB embedding table always contains some (failed encoder
    outputs, padding rows) — without the filter the ANSI cos division
    raises DIVIDE_BY_ZERO and one such row kills the whole job (r6
    degenerate-corpus sweep). The pair-row operators route through here
    and the tile kernel applies the same exclusion (``_scored_rows``),
    so it is uniform on both query and candidate sides; the SQL oracles
    carry the same ``> 0`` norm guard."""
    v = _as_double(F.col(vec_col))
    return (
        emb.withColumn("_v", v)
        .withColumn("_norm", F.sqrt(_dot(F.col("_v"), F.col("_v"))))
        .filter(F.col("_norm") > 0)
    )


# --------------------------------------------------------------------------
# Tile kernel: the brute-force operators score NumPy tiles in Python
# workers and never build pair rows.
# --------------------------------------------------------------------------


class EmbeddingContractError(ValueError):
    """An embedding broke the fixed-width contract: vectors of different
    widths meet in one tile, or a vector holds a NULL element. The
    ``_dot`` fold would silently null every cosine such a row touches;
    the tile kernel refuses instead."""


#: left rows a tile scores per step, so a tile's score matrix holds at
#: most _CHUNK × (rows on the right) doubles
_CHUNK = 64


def _n_blocks(df: DataFrame) -> int:
    return max(1, df.sparkSession.sparkContext.defaultParallelism)


def _vector_rows(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    # a NULL embedding or id has no cosine: excluded like a zero vector
    return df.filter(F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )


def _scored_rows(table: pa.Table) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """A tile's rows that have a cosine, as (row index, id, vector,
    norm). Zero-norm rows are dropped; NaN norms stay, as Spark's
    ``_norm > 0`` keeps them. Raises EmbeddingContractError on a NULL
    element or on rows of different widths."""
    vecs = table.column("_v").combine_chunks()
    values = vecs.flatten()
    if values.null_count:
        raise EmbeddingContractError("an embedding vector holds a NULL element")
    widths = vecs.value_lengths().to_numpy()
    if (widths != widths[0]).any():
        raise EmbeddingContractError(
            f"embedding widths differ: {sorted(set(widths.tolist()))}"
        )
    v = values.to_numpy(zero_copy_only=False).astype(np.float64)
    v = v.reshape(len(vecs), int(widths[0]))
    sq = np.zeros(len(v))
    for j in range(v.shape[1]):  # _dot(v, v)'s order, as in _cosines
        sq += v[:, j] * v[:, j]
    norms = np.sqrt(sq)
    keep = np.flatnonzero(norms != 0)
    ids = table.column("_id").to_numpy()
    return keep, ids[keep], v[keep], norms[keep]


def _cosines(a, na, b, nb) -> np.ndarray:
    """Every (a row, b row) cosine as ``_dot(va, vb) / (na * nb)``. Each
    dot product sums its d terms left to right from 0.0 — the order of
    ``_dot``'s aggregate, one rounded product and one rounded add per
    term (no BLAS reassociation, no fused multiply-add) — so every
    entry is the double the JVM fold computes."""
    acc = np.zeros((len(a), len(b)))
    term = np.empty_like(acc)
    for j in range(a.shape[1]):
        np.multiply.outer(a[:, j], b[:, j], out=term)
        acc += term
    return acc / np.multiply.outer(na, nb)


def _table(names: list[str], types: list, parts: list[list[np.ndarray]]) -> pa.Table:
    """One Arrow table from each column's per-chunk NumPy pieces."""
    return pa.table(
        [pa.array(np.concatenate(p) if p else [], t) for p, t in zip(parts, types)],
        names=names,
    )


def _near_dup_tile(key, table: pa.Table, threshold: float, id_type) -> pa.Table:
    """Pairs of one block-pair tile (lo, hi) with cos ≥ threshold (or
    NaN cos, which Spark's ``NaN >= θ`` keeps), as (least id, greatest
    id, cos). A diagonal tile pairs its block with itself, once per
    ``id_a < id_b``."""
    lo, hi = key[0].as_py(), key[1].as_py()
    rows, ids, v, n = _scored_rows(table)
    blk = table.column("_blk").to_numpy()[rows]
    left = np.flatnonzero(blk == lo)
    right = np.flatnonzero(blk == hi)
    if lo == hi:  # sorted by id, a chunk only needs the rows from itself on
        left = right = left[np.argsort(ids[left], kind="stable")]
    out_a, out_b, out_c = [], [], []
    for s in range(0, len(left), _CHUNK):
        a = left[s : s + _CHUNK]
        b = right[s:] if lo == hi else right
        cos = _cosines(v[a], n[a], v[b], n[b])
        keep = np.isnan(cos) | (cos >= threshold)
        if lo == hi:
            keep &= np.less.outer(ids[a], ids[b])
        i, j = np.nonzero(keep)
        ia, ib = ids[a][i], ids[b][j]
        out_a.append(np.minimum(ia, ib))
        out_b.append(np.maximum(ia, ib))
        out_c.append(cos[i, j])
    return _table(
        ["vec_id_a", "vec_id_b", "_cos"], [id_type, id_type, pa.float64()],
        [out_a, out_b, out_c],
    )


def _topk_tile(table: pa.Table, k: int, q_type, c_type) -> pa.Table:
    """The query rows (``_side`` 0) × one candidate block (``_side`` 1):
    each query's k best candidates in this block by (cos DESC with NaN
    first, as Spark orders it; cand id ASC), self pairs excluded."""
    rows, ids, v, n = _scored_rows(table)
    side = table.column("_side").to_numpy()[rows]
    q = np.flatnonzero(side == 0)
    c = np.flatnonzero(side == 1)
    cid = ids[c]
    out_q, out_c, out_s = [], [], []
    for s in range(0, len(q), _CHUNK):
        a = q[s : s + _CHUNK]
        cos = _cosines(v[a], n[a], v[c], n[c])
        self_pair = np.equal.outer(ids[a], cid)
        order = np.lexsort(
            (np.broadcast_to(cid, cos.shape), -cos, ~np.isnan(cos), self_pair),
            axis=-1,
        )[:, :k]
        r = np.arange(len(a))[:, None]
        i, j = np.nonzero(~self_pair[r, order])
        out_q.append(ids[a][i])
        out_c.append(cid[order[i, j]])
        out_s.append(cos[i, order[i, j]])
    return _table(
        ["query_id", "cand_id", "_cos"], [q_type, c_type, pa.float64()],
        [out_q, out_c, out_s],
    )


def _tile_topk(
    queries: DataFrame, candidates: DataFrame, k: int, vec_col: str, id_col: str
) -> DataFrame:
    """Each tile's partial top-k: (query_id, cand_id, _cos), at most
    |Q|·k rows per candidate block, so at most |Q|·k·B rows in all."""
    b = _n_blocks(candidates)
    q_type = queries.schema[id_col].dataType
    c_type = candidates.schema[id_col].dataType
    q = _vector_rows(queries, vec_col, id_col).select(
        "_id", "_v", F.lit(0).alias("_side"),
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("_blk"),
    )
    c = _vector_rows(candidates, vec_col, id_col).select(
        "_id", "_v", F.lit(1).alias("_side"),
        F.pmod(F.hash("_id"), F.lit(b)).alias("_blk"),
    )
    q_arrow, c_arrow = to_arrow_type(q_type), to_arrow_type(c_type)
    return q.unionByName(c).groupBy("_blk").applyInArrow(
        lambda t: _topk_tile(t, k, q_arrow, c_arrow),
        StructType([
            StructField("query_id", q_type),
            StructField("cand_id", c_type),
            StructField("_cos", DoubleType()),
        ]),
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (brute force). The
    query set is broadcastable by contract: it joins every candidate
    block's tile, and the rank window merges the tiles' partial top-k
    lists. Output: query_id, cand_id, cos_sim (rounded 6dp), rank."""
    scored = _tile_topk(queries, candidates, k, vec_col, id_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_cos", 6).alias("cos_sim"), "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def sign_lsh_buckets(
    emb: DataFrame, dim: int, n_planes: int = 12, seed: int = 7,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach a sign-LSH bucket id: bit j = sign(v · plane_j). Planes are
    deterministic (seeded) literal arrays — evaluated JVM-side."""
    planes = _hyperplanes(dim, n_planes, seed)
    withv = emb.withColumn("_v", _as_double(F.col(vec_col)))
    bucket = None
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(F.col("_v"), lit_plane) > 0, F.shiftleft(F.lit(1), j)).otherwise(0)
        bucket = bit if bucket is None else bucket.bitwiseOR(bit)
    return withv.withColumn("bucket", bucket).drop("_v")


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    multiprobe: bool = True,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's bucket
    (plus hamming-1 probe buckets). Same output schema as cosine_topk."""
    qb = sign_lsh_buckets(queries, dim, n_planes, vec_col=vec_col)
    cb = sign_lsh_buckets(candidates, dim, n_planes, vec_col=vec_col)
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    q = with_norm(qb, vec_col).select(
        F.col(id_col).alias("query_id"), "bucket",
        F.col("_v").alias("_qv"), F.col("_norm").alias("_qn"),
    )
    c = with_norm(cb, vec_col).select(
        F.col(id_col).alias("cand_id"), "bucket",
        F.col("_v").alias("_cv"), F.col("_norm").alias("_cn"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "_cos", _dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
        )
        .select("query_id", "cand_id", "_cos")
        .distinct()  # multiprobe can reach the same pair via several buckets
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_cos", 6).alias("cos_sim"), "rank")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 10,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means partitions the
    corpus into ``n_cells`` Voronoi cells; each query scores only the
    ``n_probe`` cells whose centroids are nearest, so scan cost drops by
    ~n_cells/n_probe versus brute force.

    The coarse quantizer trains with Spark ML k-means (distributed
    Lloyd's); the fitted centroids are bounded metadata (n_cells × dim
    floats) embedded as literals into the probe expression — the same
    "small static side stays JVM-side" pattern as the sign-LSH
    hyperplanes. Same output schema as :func:`cosine_topk`; recall
    depends on the corpus having cluster structure (tests assert
    score-correctness of what it returns, plus non-trivial recall)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings crash the ML fit (and can't be assigned a cell) —
    # exclude them like the zero-norm rows in with_norm (r6 null sweep)
    feats = candidates.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cvec"),
        array_to_vector(_as_double(F.col(vec_col))).alias("_fv"),
    )
    # coarse quantizers don't need Lloyd's to converge — cell quality
    # moves <0.5% between 10 and 20 iterations (measured trainingCost
    # 1851 vs 1848 at sf0.1) while the fit dominates query wall time,
    # so the iteration budget is capped; pass max_iter to override.
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter,
        featuresCol="_fv", predictionCol="cell",
    ).fit(feats)
    cand_cells = model.transform(feats).select(
        "cand_id", "cell", F.col("_cvec").alias(vec_col)
    )
    # clusterCenters() is model metadata (n_cells x dim), not a dataset
    # collect — identical in kind to the LSH hyperplane literals.
    centers = [[round(float(x), 6) for x in c] for c in model.clusterCenters()]

    withq = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias(vec_col)
    ).withColumn("_v", _as_double(F.col(vec_col)))
    cell_d2 = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("_v"),
                        F.array(*[F.lit(x) for x in c]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centers)
        ]
    )
    probed = (
        withq.withColumn(
            "cell",
            F.explode(
                F.slice(F.array_sort(cell_d2), 1, n_probe).getField("cell")
            ),
        )
        .select(
            "query_id",
            "cell",
            F.col("_v").alias("_qv"),
            F.sqrt(_dot(F.col("_v"), F.col("_v"))).alias("_qn"),
        )
        # zero-norm queries are excluded like everywhere else (cosine
        # undefined; see with_norm) — this side doesn't route through it
        .filter(F.col("_qn") > 0)
    )
    c = with_norm(spread(cand_cells, "cand_id"), vec_col).select(
        "cand_id", "cell", F.col("_v").alias("_cv"), F.col("_norm").alias("_cn")
    )
    # a candidate lives in exactly one cell, so a (query, cand) pair can
    # appear at most once — no dedup needed after the probe join
    scored = (
        F.broadcast(probed)
        .join(c, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "_cos", _dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("_cos", 6).alias("cos_sim"), "rank")
    )


def _tile_near_dups(
    emb: DataFrame, threshold: float, vec_col: str, id_col: str
) -> DataFrame:
    """Unrounded near-dup pairs (vec_id_a < vec_id_b, _cos). A row in
    block b joins the B tiles (least(b, o), greatest(b, o)) for every
    block o, so each block pair i ≤ j meets in exactly one tile."""
    b = _n_blocks(emb)
    id_type = emb.schema[id_col].dataType
    id_arrow = to_arrow_type(id_type)
    blk = F.pmod(F.hash("_id"), F.lit(b))
    other = F.explode(F.sequence(F.lit(0), F.lit(b - 1)))
    tiles = (
        _vector_rows(emb, vec_col, id_col)
        .select("_id", "_v", blk.alias("_blk"), other.alias("_o"))
        .select(
            "_id", "_v", "_blk",
            F.least("_blk", "_o").alias("_lo"), F.greatest("_blk", "_o").alias("_hi"),
        )
    )
    return tiles.groupBy("_lo", "_hi").applyInArrow(
        lambda key, t: _near_dup_tile(key, t, threshold, id_arrow),
        StructType([
            StructField("vec_id_a", id_type),
            StructField("vec_id_b", id_type),
            StructField("_cos", DoubleType()),
        ]),
    )


def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.4, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact all-pairs over tiles of
    the corpus; the LSH bucketing above is the drop-in candidate
    generator at 100 TB). Only over-threshold pairs leave a tile, so
    the pair space is never materialized as rows. Output: vec_id_a <
    vec_id_b, cos_sim (rounded 6dp)."""
    return _tile_near_dups(emb, threshold, vec_col, id_col).select(
        "vec_id_a", "vec_id_b", F.round("_cos", 6).alias("cos_sim")
    )


def label_blocked_knn(
    emb: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    salt: int = 4,
) -> DataFrame:
    """Exact k-NN within coarse blocks (the IVF idea with a stored
    cell id): candidates are restricted to vectors sharing ``block_col``,
    so the pair space is sum-of-squared-cell-sizes instead of n² and the
    join is a plain co-partitioned equi join on the block key — each
    cell's pairs materialize on one executor, no broadcast of the full
    corpus anywhere.

    ``salt`` sub-splits each cell's QUERY side inside the join key
    (probe rows keep one salt, candidate rows replicate ``salt`` ways),
    multiplying join parallelism by ``salt`` without changing the pair
    set — the fix for few-large-cells layouts where `|cells| < cores`
    leaves most of the machine idle during the cosine stage. Candidate
    replication is bounded (×salt rows of the narrow candidate frame),
    the classic skew-salt trade. Output: vec_id, neighbor_id,
    cos_sim (6dp), rank."""
    a = with_norm(spread(emb, id_col), vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(block_col).alias("_blk"),
        (F.pmod(F.hash(F.col(id_col)), F.lit(salt))).alias("_salt"),
        F.col("_v").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    b = (
        with_norm(spread(emb, id_col), vec_col)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(block_col).alias("_blk_b"),
            F.col("_v").alias("_cv"),
            F.col("_norm").alias("_cn"),
        )
        .withColumn(
            "_salt_b",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))),
        )
    )
    scored = a.join(
        b,
        (F.col("_blk") == F.col("_blk_b"))
        & (F.col("_salt") == F.col("_salt_b"))
        & (F.col("vec_id") != F.col("neighbor_id")),
    ).withColumn(
        "_cos", _dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id", "neighbor_id", F.round("_cos", 6).alias("cos_sim"), "rank"
        )
    )


def kmeans_cluster_report(
    emb: DataFrame,
    k: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus (Spark ML —
    the fit is a sequence of broadcast-centroid map passes + mean
    aggregations, exactly the scale shape hand-rolled IVF training
    would have), reduced to a per-cluster QA report: size, within-
    cluster sum of squared distances, and mean L2 norm. Clustering is
    the corpus-organization step (dedup blocking, mixture balancing,
    curriculum buckets); the report row count is k, so nothing bigger
    than the centroids ever leaves the executors."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL embeddings crash the ML fit — excluded (r6 null sweep)
    feats = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_fv", array_to_vector(F.col("_v")))
    model = KMeans(
        k=k, seed=seed, featuresCol="_fv", predictionCol="cluster"
    ).fit(feats)
    centers = model.clusterCenters()
    assigned = model.transform(feats).select("vec_id", "_v", "cluster")
    # squared distance to own centroid, JVM-side against literal centers
    center_arr = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c])
            for c in centers
        ]
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("_v"),
            F.element_at(center_arr, F.col("cluster") + 1),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = F.sqrt(_dot(F.col("_v"), F.col("_v")))
    return (
        assigned.withColumn("_d2", d2)
        .withColumn("_norm", norm)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum(F.round(F.col("_d2"), 6)), 6).alias("wssse"),
            F.round(F.sum(F.round(F.col("_norm"), 6)) / F.count("*"), 6).alias(
                "mean_norm"
            ),
        )
        .withColumn("cluster", F.col("cluster").cast("long"))
    )


# The tile functions run in Python workers: ship this module by value so
# they need no importable package on the executors' PYTHONPATH
# (operators/multimodal.py does the same).
cloudpickle.register_pickle_by_value(sys.modules[__name__])
