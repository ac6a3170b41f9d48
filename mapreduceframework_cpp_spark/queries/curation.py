"""Training-corpus curation queries (SURVEY.md §2.2-K, round-2 batch 2):
the dataset-assembly operations that turn a deduped corpus into training
shards — source-mixture weights, token-budget shard packing, TF-IDF
keyword extraction, and per-class embedding centroids / norm audits.

Cross-engine float discipline (extends queries/llm_pipeline.py notes):
ratios of exact integers divide identically in double; order-dependent
double sums across ROWS are quantized first (``floor(x*scale + 0.5)`` —
the same IEEE ops in both engines — then exact BIGINT sums), so results
are bit-identical under any partitioning; per-row array folds
(``aggregate``/``list_dot_product``) are order-fixed and verified
bit-identical in round 1.

Kernel lowering: mixture/TF-IDF are R6 shuffle + R8 count shapes over
exploded tokens (≙ the Sample Client's char-count job,
``Sample Client/SampleClient.cpp:32-66``, at word granularity); shard
packing is an R5 per-group ordered fold; centroids are R6 on a
composite (label, dim) key.

Registered AFTER the round-1 families (see queries/__init__.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mapreduceframework_cpp_spark.operators.sketch import (
    CMS_A,
    CMS_B1,
    CMS_B2,
    CMS_P,
)
from mapreduceframework_cpp_spark.registry import query
from mapreduceframework_cpp_spark.sources.tables import tbl

#: tokens per training shard for q_tok_pack_shards (small so sf=0.01
#: still yields multiple shards per language; the operator is
#: budget-agnostic)
_SHARD_BUDGET = 1000


@query(
    "q_corpus_mixture",
    oracle="""
    WITH m AS (
      SELECT lang, source,
             count(*) AS n_docs,
             sum(len(string_split(text, ' '))) AS toks
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(toks AS BIGINT) AS total_tokens,
           round(toks * 1.0 / sum(toks) OVER (PARTITION BY lang), 6)
             AS token_share
    FROM m
    """,
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture weights: per (language, source) document and token
    counts plus each source's token share within its language — the
    numbers a sampling schedule is built from. Aggregate first (the
    100 TB corpus collapses to |lang|×|source| rows), THEN window over
    the tiny aggregate; the share is a ratio of exact integers so it
    divides identically across engines."""
    docs = tbl(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    m = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(n_toks).cast("long").alias("total_tokens"),
    )
    w = Window.partitionBy("lang")
    return m.select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / F.sum("total_tokens").over(w), 6).alias(
            "token_share"
        ),
    )


@query(
    "q_tok_pack_shards",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(COALESCE(sum(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {_SHARD_BUDGET}.0) AS BIGINT) AS shard
    FROM t
    """,
)
def q_tok_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: within each language, documents (in
    doc_id order) are packed into shards of ~_SHARD_BUDGET tokens —
    shard = exclusive-prefix-sum(tokens) div budget, so a document
    starts a new shard when the budget spills. This is how fixed-token
    training files are laid out. One exchange on lang + one ordered
    fold. At 100 TB a single per-language window serializes; the scale
    recipe (same operator) is hierarchical: pack within hash-ranged
    partitions, then offset shard ids by each partition's token
    prefix-sum — only the |partitions|-row prefix table is
    driver-visible."""
    docs = tbl(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / float(_SHARD_BUDGET)
        )
        .cast("long")
        .alias("shard"),
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    sc AS (
      SELECT doc_id, token, tf, tf * ln(n * 1.0 / df) AS score
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, token, tf, score,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(round(score * 1e9) AS BIGINT) DESC, token) AS rn
      FROM sc
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
           round(score, 6) AS tfidf
    FROM r WHERE rn <= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document. Document frequencies are an
    aggregate of the term-frequency table (one token-explode pass, not
    two); the DF side is tiny (vocabulary-sized) so Spark broadcasts it
    back onto tf. Ranking quantizes the score to integer nanos before
    row_number so a last-ulp ``ln`` difference between engines can never
    flip a rank; ties break on the token itself."""
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    score = F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))
    sc = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score") * 1e9).cast("long").desc(), F.col("token")
    )
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.round("score", 6).alias("tfidf"),
        )
    )


@query(
    "q_emb_centroid",
    oracle="""
    WITH q AS (
      SELECT label, i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e7 + 0.5) AS BIGINT)
               AS qv
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    )
    SELECT label, CAST(pos AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(qv) / (count(*) * 1e7), 6) AS centroid
    FROM q GROUP BY label, pos
    """,
)
def q_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension) —
    the class-prototype computation behind IVF seeding and semantic
    drift audits. A mean of doubles across rows is partition-order
    dependent, so each element is quantized to an exact 1e-7 grid with
    ``floor(x*1e7 + 0.5)`` (identical IEEE ops both engines) and summed
    as BIGINT — exact, order-independent, partial-agg friendly (the
    same reason q_agg_stats accumulates decimals). posexplode keeps the
    dimension index without a separate positions table."""
    emb = tbl(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        "pos",
        F.floor(F.col("v").cast("double") * 1e7 + 0.5).cast("long").alias("qv"),
    )
    return q.groupBy("label", "pos").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("qv") / (F.count("*") * 1e7), 6).alias("centroid"),
    ).select(
        "label", F.col("pos").cast("long").alias("pos"), "n", "centroid"
    )


@query(
    "q_emb_norm_stats",
    oracle="""
    WITH nrm AS (
      SELECT label,
             CAST(floor(sqrt(list_dot_product(
                    CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                  * 1e6 + 0.5) AS BIGINT) AS qn
      FROM embeddings
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           round(min(qn) / 1e6, 6) AS min_norm,
           round(max(qn) / 1e6, 6) AS max_norm,
           round(sum(qn) / (count(*) * 1e6), 6) AS avg_norm
    FROM nrm GROUP BY label
    """,
)
def q_emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm audit per label (catches unnormalized or
    degenerate vectors before they poison cosine retrieval). The
    per-row sum-of-squares is an order-fixed array fold — bit-identical
    to DuckDB ``list_dot_product`` (round-1 verified) — and the
    cross-row mean uses the same 1e-6 quantize-then-BIGINT-sum trick as
    q_emb_centroid. No shuffle until the |labels|-row aggregate."""
    emb = tbl(spark, sf_dir, "embeddings")
    ss = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    nrm = emb.select(
        "label",
        F.floor(F.sqrt(ss) * 1e6 + 0.5).cast("long").alias("qn"),
    )
    return nrm.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.min("qn") / 1e6, 6).alias("min_norm"),
        F.round(F.max("qn") / 1e6, 6).alias("max_norm"),
        F.round(F.sum("qn") / (F.count("*") * 1e6), 6).alias("avg_norm"),
    )


#: the Carter–Wegman bucket expression for the CMS oracle, generated
#: from the SAME constants operators/sketch.py hashes with (one source
#: of truth — a constant change there breaks CI here, not a driver
#: round): ((A·(row+1) mod P)·x + B1 + B2·row) mod P mod width.
_CMS_BUCKET = (
    f"((CAST({CMS_A} AS BIGINT) * (row + 1) % {CMS_P}) * x\n"
    f"              + {CMS_B1} + CAST({CMS_B2} AS BIGINT) * row)\n"
    f"             % {CMS_P} % 1024 AS bucket"
)


@query(
    "q_sketch_countmin",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ),
    rws(row) AS (SELECT unnest(range(0, 4))),
    bs AS (
      SELECT token,
             CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)
               % {CMS_P} AS x
      FROM tok
    ),
    b AS (
      SELECT {_CMS_BUCKET},
             row
      FROM bs CROSS JOIN rws
    ),
    counters AS (
      SELECT row, bucket, count(*) AS cnt FROM b GROUP BY 1, 2
    ),
    pbs AS (
      SELECT token,
             CAST('0x' || substr(md5(token), 1, 15) AS BIGINT)
               % {CMS_P} AS x
      FROM (SELECT DISTINCT token FROM tok)
    ),
    pb AS (
      SELECT token,
             {_CMS_BUCKET},
             row
      FROM pbs CROSS JOIN rws
    ),
    est AS (
      SELECT pb.token, min(coalesce(c.cnt, 0)) AS est
      FROM pb LEFT JOIN counters c USING (row, bucket)
      GROUP BY 1
    ),
    r AS (
      SELECT token, CAST(est AS BIGINT) AS est,
             row_number() OVER (ORDER BY est DESC, token) AS rk
      FROM est
    )
    SELECT token, est, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 20
    """,
)
def q_sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketch.py): token frequencies of the
    corpus estimated from a 4×1024 counter matrix instead of an exact
    per-token group-by — the sublinear-state path when the vocabulary
    would not fit aggregate state. Returns the top-20 tokens by
    estimate (deterministic tie-break). Tests assert the sketch
    guarantee (estimate ≥ truth, bounded overestimate) vs exact
    counts.

    Upgraded from rows-only to hash-gradeable in r8 (the VERDICT r7
    item-6 playbook): the sketch's hash family is now portable — one
    60-bit md5 base per key (DuckDB parses the same hex via
    ``CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)``; parity probed
    across unicode/empty/long tokens) fed through Carter–Wegman
    ``(a_i·x + b_i) mod P`` row hashes in plain BIGINT arithmetic both
    engines evaluate identically — so the whole counter matrix, every
    estimate, and the top-20 ranking hash-match a full relational
    restatement."""
    from mapreduceframework_cpp_spark.operators.sketch import (
        count_min_counters,
        count_min_estimate,
    )

    toks = tbl(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    counters = count_min_counters(toks, "token", depth=4, width=1024)
    est = count_min_estimate(counters, toks, "token", depth=4, width=1024)
    w = Window.orderBy(F.desc("est"), F.col("key"))
    return (
        est.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(F.col("key").alias("token"), "est", F.col("rk").cast("long").alias("rk"))
    )


@query(
    "q_emb_quantize_int8",
    oracle="""
    WITH x AS (
      SELECT label, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    b AS (SELECT label, min(v) AS mn, (max(v) - min(v)) / 255.0 AS scale
          FROM x GROUP BY label),
    e AS (
      SELECT x.label,
             CAST(floor(abs(x.v - (b.mn + floor((x.v - b.mn) / b.scale + 0.5)
                                   * b.scale)) * 1e9 + 0.5) AS BIGINT) AS err_q
      FROM x JOIN b USING (label)
    )
    SELECT e.label, CAST(count(*) AS BIGINT) AS n_vals,
           round(any_value(b.scale), 9) AS scale,
           round(max(err_q) / 1e9, 9) AS max_err,
           round(CAST(sum(err_q) AS BIGINT) / (count(*) * 1e9), 9) AS mean_err
    FROM e JOIN b USING (label)
    GROUP BY e.label
    """,
)
def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 vector-quantization audit (the compression step before
    shipping embeddings to an ANN index): per label, min-max scale onto
    [0, 255], quantize with floor(+0.5), and report the reconstruction
    error envelope. Bounds are a tiny per-label aggregate broadcast
    back onto the component stream (same shape as q_events_p99_outliers
    — no second wide shuffle); errors are quantized onto a 1e-9 grid as
    BIGINTs before the cross-row mean so the aggregate is exact and
    order-independent (FIXTURES.md §3 discipline)."""
    emb = tbl(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.explode("embedding").alias("vf")
    ).select("label", F.col("vf").cast("double").alias("v"))
    b = x.groupBy("label").agg(
        F.min("v").alias("mn"),
        ((F.max("v") - F.min("v")) / 255.0).alias("scale"),
    )
    j = x.join(F.broadcast(b), "label")
    recon = F.col("mn") + F.floor((F.col("v") - F.col("mn")) / F.col("scale") + 0.5) * F.col("scale")
    e = j.select(
        "label",
        "scale",
        F.floor(F.abs(F.col("v") - recon) * 1e9 + 0.5).cast("long").alias("err_q"),
    )
    return e.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vals"),
        F.round(F.first("scale"), 9).alias("scale"),
        F.round(F.max("err_q") / 1e9, 9).alias("max_err"),
        F.round(F.sum("err_q") / (F.count("*") * 1e9), 9).alias("mean_err"),
    )


@query(
    "q_emb_feature_stats",
    oracle="""
    WITH d AS (
      SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings,
           unnest(range(1, len(embedding) + 1)) AS t(i))
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(min(v) AS DOUBLE) AS dim_min,
           CAST(max(v) AS DOUBLE) AS dim_max,
           CAST(sum(CAST(round(v * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000 / count(*) AS dim_mean
    FROM d GROUP BY 1
    """,
)
def q_emb_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics over the embedding corpus
    (min/max/mean per coordinate) — the profile a min-max scaler or
    whitening step consumes. posexplode fans each vector to (dim,
    value) rows that partial-aggregate BEFORE the 64-key shuffle;
    means quantize each float32 coordinate onto a 1e-6 grid (exact for
    float32 inputs) so the cross-row sum is order-independent."""
    emb = tbl(spark, sf_dir, "embeddings")
    d = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        )
    )
    q = F.round(F.col("v") * 1000000).cast("long")
    return d.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.min("v").cast("double").alias("dim_min"),
        F.max("v").cast("double").alias("dim_max"),
        (F.sum(q).cast("double") / 1000000 / F.count("*")).alias("dim_mean"),
    )


@query(
    "q_emb_outliers",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings
      WHERE embedding IS NOT NULL),
    m AS (SELECT CAST(sum(CAST(round(nrm * 1000000000) AS BIGINT))
                      AS DOUBLE) / 1000000000 / count(*) AS mu
          FROM n),
    s AS (SELECT mu,
                 sqrt(CAST(sum(CAST(round((nrm - mu) * (nrm - mu) * 1e15)
                                   AS BIGINT)) AS DOUBLE) / 1e15
                      / (count(*) - 1)) AS sd
          FROM n, m GROUP BY mu)
    SELECT vec_id, CAST(nrm AS DOUBLE) AS norm,
           CAST((nrm - mu) / sd AS DOUBLE) AS zscore
    FROM n, s
    WHERE abs((nrm - mu) / sd) > 2.0
    """,
)
def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-QA outlier report: vectors whose L2 norm sits more
    than 2σ from the corpus mean — the corrupt/degenerate-vector screen
    run before any ANN indexing. The corpus here is unit-normalized
    (σ ≈ 1e-5), so variance needs the TWO-PASS centered form: a raw
    power-sum loses the entire signal below any integer-quantization
    grid coarse enough for the means (and to catastrophic cancellation
    generally). Pass 1: 1e-9-grid mean. Pass 2: centered squares on a
    1e-15 grid (values ~1e-10 → exact, order-independent sums). Both
    1-row stats broadcast back onto the norms."""
    from mapreduceframework_cpp_spark.operators.similarity import (
        _as_double,
        _dot,
    )

    # norms computed INLINE, not via with_norm: with_norm excludes
    # zero-norm vectors (cosine is undefined there, r6), but this
    # screen exists precisely to REPORT degenerate vectors — a zero
    # norm is the outlier of interest. NULL embeddings (no norm at
    # all) stay excluded on both sides.
    emb = tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    v = _as_double(F.col("embedding"))
    n = emb.select("vec_id", F.sqrt(_dot(v, v)).alias("nrm"))
    q1 = F.round(F.col("nrm") * 1000000000).cast("long")
    m = n.agg(
        (F.sum(q1).cast("double") / 1000000000 / F.count("*")).alias("mu")
    )
    centered_sq = F.round(
        (F.col("nrm") - F.col("mu")) * (F.col("nrm") - F.col("mu")) * 1e15
    ).cast("long")
    s = (
        n.crossJoin(F.broadcast(m))
        .agg(
            F.first("mu").alias("mu"),
            F.sum(centered_sq).alias("_sq"),
            F.count("*").alias("_c"),
        )
        .select(
            "mu",
            F.sqrt(
                F.col("_sq").cast("double") / 1e15 / (F.col("_c") - 1)
            ).alias("sd"),
        )
    )
    z = (F.col("nrm") - F.col("mu")) / F.col("sd")
    return (
        n.crossJoin(F.broadcast(s))
        .filter(F.abs(z) > 2.0)
        .select(
            "vec_id",
            F.col("nrm").cast("double").alias("norm"),
            z.cast("double").alias("zscore"),
        )
    )


@query("q_emb_pca_top")  # rows-only: no SQL oracle computes an eigenvector
def q_emb_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table from one exact
    covariance pass and a driver-side ``eigh`` (operators/pca.py) — the
    dominant-direction / whitening primitive (ABTT-style
    postprocessing, drift monitoring). Rows-only: correctness is
    pytest-bound against numpy's eigendecomposition at sf0.001, sf0.01
    and sf0.1 (eigenvalue within 1e-6 of lambda1, |cos| >= 1 - 1e-6 to
    the top eigenvector, tests/test_pca.py) plus partition invariance
    of the integer-grid accumulation."""
    from mapreduceframework_cpp_spark.operators.pca import top_principal_component

    return top_principal_component(tbl(spark, sf_dir, "embeddings"))


#: lanes normalized by q_emb_quantile_norm (bounded output; the
#: pattern extends to all dims unchanged)
_QN_DIMS = 4


@query(
    "q_emb_quantile_norm",
    oracle=f"""
    WITH lanes AS (
      SELECT vec_id, j AS dim,
             CAST(embedding[j + 1] AS DOUBLE) AS v
      FROM embeddings, range(0, {_QN_DIMS}) t(j)),
    r AS (
      SELECT vec_id, dim, v,
             row_number() OVER (PARTITION BY dim ORDER BY v, vec_id)
               AS rk,
             count(*) OVER (PARTITION BY dim) AS n
      FROM lanes)
    SELECT vec_id, CAST(dim AS BIGINT) AS dim, v,
           (rk - 0.5) / n AS qnorm
    FROM r
    """,
)
def q_emb_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of embedding lanes: each
    dimension's values map to their empirical percentile (rank−0.5)/n
    — the scale/outlier-immune feature prep that makes mixed-source
    embedding spaces comparable before clustering or kNN (a lane with
    10× the variance otherwise dominates every distance). Ranks use a
    (value, vec_id) total order so ties are deterministic; the only
    float op is one division of exact integers per row. One explode
    (shuffle-free) then per-dimension windows — at full width the
    window key has |dims| partitions, each a rank sort of n values,
    the same per-key ordered fold as every window in SURVEY §2.2-E."""
    emb = tbl(spark, sf_dir, "embeddings")
    lanes = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_QN_DIMS - 1))).alias("dim"),
        "embedding",
    ).select(
        "vec_id",
        "dim",
        F.element_at("embedding", F.col("dim").cast("int") + 1)
        .cast("double")
        .alias("v"),
    )
    w_rank = Window.partitionBy("dim").orderBy("v", "vec_id")
    w_n = Window.partitionBy("dim")
    return lanes.select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        "v",
        (
            (F.row_number().over(w_rank) - 0.5)
            / F.count(F.lit(1)).over(w_n)
        ).alias("qnorm"),
    )


#: ANSI md5 hex-fold (6 chars → exact int in [0, 16^6)), parameterized
#: by the hash column name — shared text with the geospatial family's
#: 8-char variant (queries/geospatial.py).
def _hex6_of(col: str) -> str:
    return " + ".join(
        f"(instr('0123456789abcdef', substr({col}, {i}, 1)) - 1)"
        f" * CAST({16 ** (6 - i)} AS BIGINT)"
        for i in range(1, 7)
    )


@query(
    "q_feat_target_encode",
    oracle="""
    WITH y AS (
      SELECT c.c_custkey, c.c_mktsegment,
             CAST(count(o.o_orderkey) AS BIGINT) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    seg AS (
      SELECT c_mktsegment, sum(y) AS s, count(*) AS n
      FROM y GROUP BY 1)
    SELECT y.c_custkey, y.c_mktsegment, y.y,
           CASE WHEN seg.n = 1 THEN NULL
                ELSE CAST(seg.s - y.y AS DOUBLE) / CAST(seg.n - 1 AS DOUBLE)
           END AS target_enc
    FROM y JOIN seg USING (c_mktsegment)
    """,
)
def q_feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature (the
    leakage-safe mean-target encoder): each customer's market segment is
    encoded as the mean order count of the OTHER customers in that
    segment — enc = (S_seg − y_i)/(n_seg − 1), so a row never sees its
    own target (the leakage K-fold/LOO schemes exist to prevent). Two
    aggregate-first shuffles (orders → per-customer target, then
    per-segment sums) and the tiny segment aggregate broadcasts back
    onto the customer rows; the encoding is ONE double division over
    exact int64 operands, NULL on singleton segments."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders")
    y = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").cast("long").alias("y"))
    )
    seg = y.groupBy("c_mktsegment").agg(
        F.sum("y").alias("s"), F.count(F.lit(1)).alias("n")
    )
    j = y.join(F.broadcast(seg), "c_mktsegment")
    return j.select(
        "c_custkey",
        "c_mktsegment",
        "y",
        F.when(F.col("n") == 1, F.lit(None).cast("double"))
        .otherwise(
            (F.col("s") - F.col("y")).cast("double")
            / (F.col("n") - 1).cast("double")
        )
        .alias("target_enc"),
    )


_NEG_HASH = "md5(CAST(doc_id AS VARCHAR) || '#neg' || CAST(j AS VARCHAR))"


@query(
    "q_negative_sampling",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    j3 AS (SELECT unnest([1, 2, 3]) AS j),
    drawn AS (
      SELECT d.doc_id, j3.j,
             ({_hex6_of(_NEG_HASH)}) AS u, n.n_docs
      FROM documents d CROSS JOIN j3 CROSS JOIN n)
    SELECT doc_id, CAST(j AS BIGINT) AS j,
           CAST((doc_id + 1 + (u % (n_docs - 1))) % n_docs AS BIGINT)
             AS neg_id
    FROM drawn
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document draws 3 negatives by modular offset — neg = (id + 1 +
    h % (N−1)) mod N with h an md5 fold of (doc, draw) — which is (a)
    reproducible across reruns and cluster layouts, (b) uniform over
    the corpus, and (c) PROVABLY never the anchor itself (offset ∈
    [1, N−1]). doc_ids are dense 0..N−1 in this corpus (asserted by
    the oracle's arithmetic matching); the only non-map operation is
    the one-row corpus count broadcast. At 100 TB this is the shape
    that replaces shuffling the corpus per epoch: a map-only pass
    whose randomness is a function of (id, draw, nothing else)."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    j3 = spark.createDataFrame([(1,), (2,), (3,)], "j long")
    drawn = (
        docs.crossJoin(F.broadcast(j3))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("#neg"),
                    F.col("j").cast("string"),
                )
            ),
        )
        .withColumn("u", F.expr(_hex6_of("h")))
    )
    return drawn.select(
        "doc_id",
        F.col("j").cast("long").alias("j"),
        (
            (F.col("doc_id") + 1 + F.col("u") % (F.col("n_docs") - 1))
            % F.col("n_docs")
        )
        .cast("long")
        .alias("neg_id"),
    )


_FH_BUCKETS = 64
_FH_HASH = "md5(tok || '#fh')"


@query(
    "q_feat_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    vocab AS (
      SELECT tok, ({_hex6_of(_FH_HASH)}) % {_FH_BUCKETS} AS bucket
      FROM (SELECT DISTINCT tok FROM toks)),
    cells AS (
      SELECT t.doc_id, v.bucket, CAST(count(*) AS BIGINT) AS c
      FROM toks t JOIN vocab v USING (tok)
      GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_buckets,
           string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(c AS VARCHAR),
                      ' ' ORDER BY bucket) AS sparse_vec
    FROM cells GROUP BY doc_id
    """,
)
def q_feat_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): every token maps to one of
    64 buckets by an md5 fold, giving each document a fixed-width
    sparse count vector with NO vocabulary to build, ship, or version —
    the linear-model featurizer that works on a stream. Scale shape:
    the hash is computed once per DISTINCT token (the vocabulary is
    tiny next to the corpus) and broadcast back onto the exploded
    tokens, then two partial-agg shuffles produce per-(doc, bucket)
    cells and the serialized sorted vector. Bucket assignment is the
    shared ANSI hex-fold, so both engines build byte-identical
    vectors."""
    docs = tbl(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    vocab = (
        toks.select("tok")
        .distinct()
        .withColumn("h", F.md5(F.concat(F.col("tok"), F.lit("#fh"))))
        .select(
            "tok",
            (F.expr(_hex6_of("h")) % _FH_BUCKETS).alias("bucket"),
        )
    )
    cells = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cells.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "c"))),
                lambda s: F.concat(
                    s["bucket"].cast("string"), F.lit(":"), s["c"].cast("string")
                ),
            ),
            " ",
        ).alias("sparse_vec"),
    )


@query(
    "q_feat_churn_labels",
    oracle="""
    WITH cut AS (SELECT max(ts) - INTERVAL 7 DAY AS c FROM events),
    f AS (
      SELECT e.user_id,
             CAST(sum(CASE WHEN e.ts < cut.c THEN 1 ELSE 0 END) AS BIGINT)
               AS n_events_obs,
             CAST(sum(CASE WHEN e.ts < cut.c AND e.event_type = 'click'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks_obs,
             CAST(sum(CASE WHEN e.ts < cut.c AND e.event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_purch_obs,
             CAST(count(DISTINCT CASE WHEN e.ts < cut.c
                        THEN date_trunc('day', e.ts) END) AS BIGINT)
               AS days_active_obs,
             CAST(sum(CASE WHEN e.ts >= cut.c AND e.event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_purch_hold
      FROM events e CROSS JOIN cut
      GROUP BY 1)
    SELECT user_id, n_events_obs, n_clicks_obs, n_purch_obs,
           days_active_obs,
           CAST(CASE WHEN n_purch_hold >= 4 THEN 1 ELSE 0 END AS BIGINT)
             AS label_active_buyer
    FROM f
    """,
)
def q_feat_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal label generation for a churn/propensity model — the
    leakage-safe featurize-then-label split every behavioral ML
    pipeline needs: the LAST 7 days of data are the holdout (label =
    kept purchasing, >= 4 purchases), everything before the cut is the
    observation window (event/click/purchase counts, active days).
    Features and label come out of ONE conditional-aggregation scan —
    the cut is a 1-row aggregate broadcast, every window membership a
    CASE — so no row ever contributes to both sides (no leakage by
    construction) and no second pass over the fact. The cut is derived
    from the data's own max(ts): reproducible on any snapshot."""
    ev = tbl(spark, sf_dir, "events")
    cut = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 7 DAY")).alias("c")
    )
    j = ev.crossJoin(F.broadcast(cut))
    obs = F.col("ts") < F.col("c")
    hold = F.col("ts") >= F.col("c")
    return j.groupBy("user_id").agg(
        F.sum(F.when(obs, 1).otherwise(0)).cast("long").alias("n_events_obs"),
        F.sum(F.when(obs & (F.col("event_type") == "click"), 1).otherwise(0))
        .cast("long")
        .alias("n_clicks_obs"),
        F.sum(F.when(obs & (F.col("event_type") == "purchase"), 1).otherwise(0))
        .cast("long")
        .alias("n_purch_obs"),
        F.count_distinct(
            F.when(obs, F.date_trunc("day", "ts"))
        )
        .cast("long")
        .alias("days_active_obs"),
        F.when(
            F.sum(
                F.when(hold & (F.col("event_type") == "purchase"), 1).otherwise(0)
            )
            >= 4,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("label_active_buyer"),
    )


@query(
    "q_emb_zscore_outliers",
    oracle="""
    WITH q AS (
      SELECT vec_id, label, i - 1 AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e7 + 0.5) AS BIGINT)
               AS qv
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    st AS (
      SELECT label, pos, count(*) AS n,
             sum(CAST(qv AS DECIMAL(19,0))) AS s,
             sum(CAST(qv AS DECIMAL(19,0)) * CAST(qv AS DECIMAL(19,0))) AS sq
      FROM q GROUP BY 1, 2)
    SELECT q.vec_id, q.label,
           CAST(sum(CASE WHEN st.n * st.sq - st.s * st.s > 0
                          AND abs(CAST(q.qv AS DOUBLE) * CAST(st.n AS DOUBLE)
                                  - CAST(st.s AS DOUBLE))
                              > 3 * sqrt(CAST(st.n AS DOUBLE)
                                         * (CAST(st.n AS DOUBLE)
                                            * CAST(st.sq AS DOUBLE)
                                            - CAST(st.s AS DOUBLE)
                                              * CAST(st.s AS DOUBLE)))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme_dims,
           CAST(CASE WHEN sum(CASE WHEN st.n * st.sq - st.s * st.s > 0
                          AND abs(CAST(q.qv AS DOUBLE) * CAST(st.n AS DOUBLE)
                                  - CAST(st.s AS DOUBLE))
                              > 3 * sqrt(CAST(st.n AS DOUBLE)
                                         * (CAST(st.n AS DOUBLE)
                                            * CAST(st.sq AS DOUBLE)
                                            - CAST(st.s AS DOUBLE)
                                              * CAST(st.s AS DOUBLE)))
                         THEN 1 ELSE 0 END) >= 2 THEN 1 ELSE 0 END AS BIGINT)
             AS is_outlier
    FROM q JOIN st ON st.label = q.label AND st.pos = q.pos
    GROUP BY 1, 2
    """,
)
def q_emb_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier screen by per-dimension z-scores within each
    label (diagonal-Mahalanobis QA): a vector with >= 2 dimensions
    beyond 3 sigma of its class is flagged — the cheap geometric sanity
    check that catches corrupted embeddings and mislabeled points
    before they poison centroids or ANN training. Elements quantize to
    the shared 1e-7 grid (q_emb_centroid's discipline), per-(label,
    dim) power sums accumulate exact DECIMALs, and each z-test is the
    cleared-denominator comparison |qv·n − S| > 3·sqrt(n(n·Q − S²)) —
    exact operands, one comparison, no division at all. Shapes: one
    posexplode shuffle to (label, dim) stats, tiny stats broadcast
    back, one partial-agg count per vector."""
    emb = tbl(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        "label",
        "pos",
        F.floor(F.col("v").cast("double") * 1e7 + 0.5).cast("long").alias("qv"),
    )
    qd = F.col("qv").cast("decimal(19,0)")
    st = q.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qd).alias("s"),
        F.sum(qd * qd).alias("sq"),
    )
    j = q.join(F.broadcast(st), ["label", "pos"])
    nn = F.col("n").cast("double")
    s = F.col("s").cast("double")
    sq = F.col("sq").cast("double")
    var_pos = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    extreme = (
        (var_pos > 0)
        & (
            F.abs(F.col("qv").cast("double") * nn - s)
            > F.lit(3) * F.sqrt(nn * (nn * sq - s * s))
        )
    ).cast("int")
    g = j.groupBy("vec_id", "label").agg(
        F.sum(extreme).cast("long").alias("n_extreme_dims")
    )
    return g.select(
        "vec_id",
        "label",
        "n_extreme_dims",
        (F.col("n_extreme_dims") >= 2).cast("long").alias("is_outlier"),
    )


@query(
    "q_feat_impute",
    oracle="""
    WITH damaged AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
      FROM events),
    m AS (
      SELECT event_type,
             CAST(count(v) AS BIGINT) AS n_obs,
             sum(CAST(floor(v * 1e6 + 0.5) AS BIGINT)) AS qsum
      FROM damaged GROUP BY 1)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN d.v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           round(CAST(m.qsum AS DOUBLE) / (CAST(m.n_obs AS DOUBLE) * 1e6), 6)
             AS fill_value,
           CAST(sum(coalesce(CAST(floor(d.v * 1e6 + 0.5) AS BIGINT),
                             (m.qsum - (m.qsum % m.n_obs)) / m.n_obs))
                AS BIGINT) AS imputed_qsum
    FROM damaged d JOIN m USING (event_type)
    GROUP BY d.event_type, m.qsum, m.n_obs
    """,
)
def q_feat_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation with the group mean — the feature-prep
    default before model training. The corpus has no organic nulls, so
    damage is PLANTED deterministically (every 11th event's value
    nulled — the dirty-input contract of the PII/markup/dup-payment
    families), then each group's fill value is its observed mean and
    the audit reports rows imputed plus a checksum of the imputed
    column. Float discipline: values quantize to a 1e-6 grid, the fill
    value used in the checksum is the exact INTEGER floor-mean
    (subtract-mod division — both engines agree without float means),
    and the per-group stats broadcast back onto the scan (two
    aggregate passes, zero extra shuffles of the fact)."""
    damaged = tbl(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    qv = F.floor(F.col("v") * 1e6 + 0.5).cast("long")
    m = damaged.groupBy("event_type").agg(
        F.count("v").alias("n_obs"), F.sum(qv).alias("qsum")
    )
    fill_int = F.expr("(qsum - (qsum % n_obs)) / n_obs").cast("long")
    j = damaged.join(F.broadcast(m), "event_type")
    return j.groupBy("event_type", "qsum", "n_obs").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_imputed"),
        F.round(
            F.col("qsum").cast("double") / (F.col("n_obs").cast("double") * 1e6),
            6,
        ).alias("fill_value"),
        F.sum(F.coalesce(qv, fill_int)).cast("long").alias("imputed_qsum"),
    ).select(
        "event_type", "n_rows", "n_imputed", "fill_value", "imputed_qsum"
    )


#: 4 raking steps (2 rounds x lang/source), generated once and inlined
#: — each step scales every doc weight toward a UNIFORM marginal on one
#: dimension, with weights re-quantized to the 1e-9 integer grid after
#: every step so marginal sums stay exact int64.
_IPF_CHAIN_SQL = """
    m1 AS (
      SELECT lang, sum(w) AS mw FROM w0 GROUP BY 1),
    t1 AS (
      SELECT sum(w) AS tw, (SELECT count(*) FROM m1) AS nd FROM w0),
    w1 AS (
      SELECT p.doc_id, p.lang, p.source,
             CAST(floor(CAST(p.w AS DOUBLE)
                        * (CAST(t1.tw AS DOUBLE)
                           / (CAST(t1.nd AS DOUBLE)
                              * CAST(m1.mw AS DOUBLE))) + 0.5)
                  AS BIGINT) AS w
      FROM w0 p
      JOIN m1 ON m1.lang = p.lang
      CROSS JOIN t1),
    m2 AS (
      SELECT source, sum(w) AS mw FROM w1 GROUP BY 1),
    t2 AS (
      SELECT sum(w) AS tw, (SELECT count(*) FROM m2) AS nd FROM w1),
    w2 AS (
      SELECT p.doc_id, p.lang, p.source,
             CAST(floor(CAST(p.w AS DOUBLE)
                        * (CAST(t2.tw AS DOUBLE)
                           / (CAST(t2.nd AS DOUBLE)
                              * CAST(m2.mw AS DOUBLE))) + 0.5)
                  AS BIGINT) AS w
      FROM w1 p
      JOIN m2 ON m2.source = p.source
      CROSS JOIN t2),
    m3 AS (
      SELECT lang, sum(w) AS mw FROM w2 GROUP BY 1),
    t3 AS (
      SELECT sum(w) AS tw, (SELECT count(*) FROM m3) AS nd FROM w2),
    w3 AS (
      SELECT p.doc_id, p.lang, p.source,
             CAST(floor(CAST(p.w AS DOUBLE)
                        * (CAST(t3.tw AS DOUBLE)
                           / (CAST(t3.nd AS DOUBLE)
                              * CAST(m3.mw AS DOUBLE))) + 0.5)
                  AS BIGINT) AS w
      FROM w2 p
      JOIN m3 ON m3.lang = p.lang
      CROSS JOIN t3),
    m4 AS (
      SELECT source, sum(w) AS mw FROM w3 GROUP BY 1),
    t4 AS (
      SELECT sum(w) AS tw, (SELECT count(*) FROM m4) AS nd FROM w3),
    w4 AS (
      SELECT p.doc_id, p.lang, p.source,
             CAST(floor(CAST(p.w AS DOUBLE)
                        * (CAST(t4.tw AS DOUBLE)
                           / (CAST(t4.nd AS DOUBLE)
                              * CAST(m4.mw AS DOUBLE))) + 0.5)
                  AS BIGINT) AS w
      FROM w3 p
      JOIN m4 ON m4.source = p.source
      CROSS JOIN t4)"""


@query(
    "q_mix_raking",
    oracle=f"""
    WITH w0 AS (
      SELECT doc_id, lang, source, CAST(1000000000 AS BIGINT) AS w
      FROM documents),
    {_IPF_CHAIN_SQL}
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS weight_q
    FROM w4 GROUP BY 1, 2
    """,
)
def q_mix_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset reweighting by RAKING (iterative proportional fitting):
    document weights are alternately scaled so the LANGUAGE marginal
    and then the SOURCE marginal match uniform targets, twice over —
    the survey-statistics workhorse that is exactly how a training
    mix is rebalanced on two attributes at once when per-cell targets
    are unavailable. Classic IPF is float-iterative and
    order-sensitive; here every step re-quantizes weights to the 1e-9
    integer grid (floor(w·factor + 0.5) — identical IEEE ops both
    engines), so marginal sums are exact int64 and the fixed 4-step
    schedule is bit-deterministic — deterministic enough that the
    oracle restates all four scalings as chained CTEs. Per step: one
    marginal partial-agg shuffle + a broadcast factor join; weights
    never leave the executors. Every OTHER step ends in localCheckpoint
    — ``cur`` feeds three consumers per step (marginal, total, join),
    so without lineage truncation the upstream plan re-derives 3× per
    step, compounding over the 4 steps (measured ~3× wall at sf0.1);
    truncating on alternate steps bounds the re-derivation to one
    2-step chain while halving the eager materializations — the same
    cadence as operators/graph.py (checkpointed frames are released by
    GC, so fewer of them is also less executor-storage linger)."""
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.lit(10**9).cast("long").alias("w")
    )
    cur = docs
    for step, dim in enumerate(("lang", "source", "lang", "source")):
        m = cur.groupBy(dim).agg(F.sum("w").alias("mw"))
        t = cur.agg(F.sum("w").alias("tw")).crossJoin(
            F.broadcast(m.agg(F.count(F.lit(1)).alias("nd")))
        )
        cur = (
            cur.join(F.broadcast(m), dim)
            .crossJoin(F.broadcast(t))
            .select(
                "doc_id",
                "lang",
                "source",
                F.floor(
                    F.col("w").cast("double")
                    * (
                        F.col("tw").cast("double")
                        / (F.col("nd").cast("double") * F.col("mw").cast("double"))
                    )
                    + 0.5
                )
                .cast("long")
                .alias("w"),
            )
        )
        if step % 2 == 1:
            cur = cur.localCheckpoint()
    return cur.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("weight_q"),
    )
