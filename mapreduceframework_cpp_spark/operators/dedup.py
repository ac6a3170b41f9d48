"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.2-K).

Exact (hash group-by), n-gram Jaccard, MinHash+LSH, SimHash — all pure
DataFrame compositions (no Python UDFs): hashing via xxhash64/sha2,
shingling via higher-order array functions, banding via explode + group-by.

Scale design:
- Exact dedup shuffles 32-byte digests, not documents.
- MinHash-LSH is the 100 TB near-dup path: signature cost is one pass over
  (doc, shingle) pairs; candidate generation shuffles only (band, hash)
  keys, so cost tracks the number of *colliding* pairs, not n².
- The exact-Jaccard verifier joins on shingles only for candidate pairs
  (or, in the standalone query, over the inverted shingle index — fine at
  test scale, replaced by LSH candidates at real scale).
- SimHash gives a 64-bit per-doc sketch; hamming-band join finds neighbor
  candidates without pairwise comparison.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from mapreduceframework_cpp_spark.operators.common import persist_tracked, spread


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group documents by content digest: one row per distinct content,
    keeping the smallest doc_id as canonical + the copy count."""
    return (
        docs.select("doc_id", F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
    )


def normalized_dedup_report(
    docs: DataFrame, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Canonicalize-then-hash dedup audit (q_dedup_normalized): per
    ``group_col`` counters raw_docs / distinct_raw / distinct_normalized
    / dup_mass, where normalization is lowercase + collapse-whitespace +
    trim before sha256. dup_mass = docs removable by normalized dedup;
    distinct_raw − distinct_normalized = mass ONLY the normalized pass
    catches (trivially re-encoded copies raw sha256 misses). Pure JVM
    regexp in the scan projection; shuffles 32-byte digests only."""
    nhash = F.sha2(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), 256
    )
    return (
        docs.select(
            group_col,
            nhash.alias("nhash"),
            F.sha2(text_col, 256).alias("rhash"),
        )
        .groupBy(group_col)
        .agg(
            F.count("*").alias("raw_docs"),
            F.countDistinct("rhash").alias("distinct_raw"),
            F.countDistinct("nhash").alias("distinct_normalized"),
            (F.count("*") - F.countDistinct("nhash")).alias("dup_mass"),
        )
    )


def _tokenized(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    toks = F.split(F.lower(F.col(text_col)), " ")
    return docs.select("doc_id", toks.alias("_toks")).filter(F.size("_toks") >= n)


def _gram_expr(n: int):
    """Distinct word n-gram array over a ``_toks`` column. Spark array
    indexing is 0-based; sequence(0, size-n) enumerates every n-gram
    start. Direct element concat beats concat_ws(slice(...)) ~2.3x: no
    per-gram array allocation."""
    parts = ", ' ', ".join(f"_toks[i + {k}]" for k in range(n))
    return F.expr(
        f"array_distinct(transform(sequence(0, size(_toks) - {n}), "
        f"i -> concat({parts})))"
    )


def shingle_arrays(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-document DISTINCT word n-gram shingles as an array column:
    (doc_id, shingles, sz). Deduplication happens inside the row
    (``array_distinct``), so building shingle sets costs zero shuffles.
    Documents with fewer than ``n`` tokens drop out."""
    return (
        _tokenized(docs, text_col, n)
        .select("doc_id", _gram_expr(n).alias("shingles"))
        .withColumn("sz", F.size("shingles"))
    )


def shingle_sets(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle) —
    the exploded (inverted-index) form of :func:`shingle_arrays`.

    The explode is applied to the gram EXPRESSION, not to a named array
    column: exploding a named lambda-built column lets Catalyst's
    InferFiltersFromGenerate push `size(col) > 0 AND isnotnull(col)`
    through the projection, inlining the whole shingle-construction
    chain into an INTERPRETED Filter that re-evaluates it per row —
    measured 28x slower (3.7s vs 0.13s over 100 docs). Direct-expression
    explode keeps one whole-stage-codegen span."""
    return _tokenized(docs, text_col, n).select(
        "doc_id", F.explode(_gram_expr(n)).alias("shingle")
    )


def jaccard_pairs(
    shingled: DataFrame, threshold: float = 0.5, pairs: DataFrame | None = None
) -> DataFrame:
    """Exact Jaccard similarity between document pairs sharing ≥1 shingle.

    ``pairs`` (doc_id_a, doc_id_b) restricts computation to candidates
    (the LSH path); otherwise the full inverted-index self-join runs
    (test-scale / small-corpus path).
    """
    # the shingle pipeline feeds three plan branches (sizes + both join
    # sides) — persist so it computes once, not three times
    shingled = persist_tracked(shingled)
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingled.select(F.col("doc_id").alias("doc_id_a"), "shingle")
    b = shingled.select(F.col("doc_id").alias("doc_id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("inter"))
    )
    if pairs is not None:
        inter = inter.join(pairs, ["doc_id_a", "doc_id_b"], "left_semi")
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(shingled: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Asymmetric CONTAINMENT between document pairs sharing ≥1 shingle:
    cont(A→B) = |A∩B| / |A|. Catches near-SUPERSET duplication (a doc
    embedded verbatim inside a larger one) that symmetric Jaccard
    misses — |A∩B|/|A∪B| stays small when |B| ≫ |A| even though A is
    wholly contained. Emits both directions per (a < b) pair, keeping
    pairs where either direction clears ``threshold``. Same inverted-
    index shape (and scale caveats) as :func:`jaccard_pairs`; LSH over
    the smaller doc's shingles is the scale path."""
    shingled = persist_tracked(shingled)
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingled.select(F.col("doc_id").alias("doc_id_a"), "shingle")
    b = shingled.select(F.col("doc_id").alias("doc_id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("sz").alias("sz_b"))
    cont_a = F.col("inter") / F.col("sz_a")
    cont_b = F.col("inter") / F.col("sz_b")
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .filter(F.greatest(cont_a, cont_b) >= threshold)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(cont_a, 6).alias("cont_a"),
            F.round(cont_b, 6).alias("cont_b"),
        )
    )


def minhash_signatures(shingled_arrays: DataFrame, num_hashes: int = 128) -> DataFrame:
    """MinHash signature per doc: slot i's value = min over shingles of
    xxhash64(xxhash64(shingle), i). Each shingle STRING is hashed to a
    64-bit value exactly once (the ``_pre`` projection below); the
    ``num_hashes`` slot functions then re-hash that fixed 8-byte long
    with the slot index as seed — a cheap constant-size hash instead of
    re-walking the string per slot (measured ~3x on banding, which
    evaluates the same slots). Re-hashing a 64-bit value with
    independent seeds is the standard MinHash hash-family construction
    (one base hash + k derived permutations); the s-curve recall
    analysis only needs the per-slot functions to be pairwise
    independent-ish, which seeded xxhash64 over longs provides.

    ``_pre`` is a SEPARATE projection: CollapseProject will not inline
    it into the slot lambdas because a non-trivial producer expression
    referenced ``num_hashes`` times is not collapse-eligible — so the
    string pass runs once per row, not once per slot. Zero shuffles,
    one whole-stage-codegen span."""
    pre = shingled_arrays.select(
        "doc_id", F.expr("transform(shingles, g -> xxhash64(g))").alias("_pre")
    )
    sig = F.expr(
        f"transform(sequence(0, {num_hashes - 1}), "
        f"i -> array_min(transform(_pre, h -> xxhash64(h, i))))"
    )
    return pre.select("doc_id", sig.alias("signature"))


def lsh_banded(
    shingled_arrays: DataFrame, bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, bucket) rows: band j's bucket is the hash of minhash
    slots [j*r, (j+1)*r), with slot i's minhash = min over shingles of
    xxhash64(xxhash64(shingle), i) — identical hash family and indexing
    as :func:`minhash_signatures` (each shingle string hashed ONCE, then
    cheap long re-hashes per slot; see there for why ``_pre`` stays a
    separate non-collapsible projection).

    Buckets are computed directly from the pre-hash array in ONE
    projection. Deriving them from a lazy ``signature[k]`` projection
    instead looks equivalent but is ~2x slower: Catalyst collapses the
    projections and inlines the whole minhash transform into every
    element reference, recomputing it per band slot."""
    inner = ", ".join(
        f"array_min(transform(_pre, h -> xxhash64(h, {rows_per_band} * j + {k})))"
        for k in range(rows_per_band)
    )
    buckets = F.expr(f"transform(sequence(0, {bands - 1}), j -> xxhash64({inner}))")
    return shingled_arrays.select(
        "doc_id", F.expr("transform(shingles, g -> xxhash64(g))").alias("_pre")
    ).select("doc_id", F.posexplode(buckets).alias("band", "bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """Candidate pairs colliding in ≥1 band, from a signature DataFrame
    (compatibility path; :func:`minhash_lsh_near_dups` goes through
    :func:`lsh_banded` directly).

    s-curve: P(candidate | jaccard=s) = 1 - (1 - s^r)^b; with b=32, r=4
    the 50% threshold sits at s ≈ 0.42 — near-certain capture above 0.7.
    """
    banded = signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[F.col("signature")[j * rows_per_band + r] for r in range(rows_per_band)]
                    )
                    for j in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    return _pairs_from_banded(banded)


def _pairs_from_banded(banded: DataFrame, max_bucket: int = 1024) -> DataFrame:
    """Enumerate distinct colliding pairs inside each (band, bucket)
    group: one banding pass, one (band, bucket) shuffle, one window and
    one aggregation in that shuffle's stage, then the final
    ``distinct``. No self-join (a self-join would scan and re-hash the
    signature input twice).

    Degenerate-bucket guard, BOUNDED-BUFFER form (VERDICT r7: the
    earlier version capped emitted pairs but still ``collect_list``-ed
    the FULL bucket into one aggregation buffer first — a task-OOM on
    a boilerplate-heavy corpus where one hot (band, bucket) cell holds
    10⁷–10⁸ members). The window annotates every row with its bucket's
    size ``k`` and min doc_id ``m``; the aggregation then groups by
    (band, bucket, ``CASE WHEN k > max_bucket THEN doc_id END``):

    - k ≤ ``max_bucket``: the third key is NULL, so the group is the
      whole bucket and its ``collect_list`` buffer holds at most
      ``max_bucket`` ids; every pair is enumerated.
    - k > ``max_bucket``: the third key is the doc_id, so every group
      is ONE member and its buffer holds one id, whatever the bucket's
      size. It emits the STAR pair (``m``, doc_id) — linear output.
      Every member stays connected to the same component, so
      downstream clustering (``dedup_clusters``) and canonical
      selection are unchanged.

    The window's hash partitioning on (band, bucket) satisfies the
    aggregation's clustering on (band, bucket, key), so Spark plans no
    second exchange. The banded frame has a single consumer, so the
    minhash banding, the shuffle, the sort and the window each run
    once: a second consumer (say, one branch per regime) would plan
    its own exchange and re-run the banding below it, even where AQE
    reuses the shuffle files.

    Direct pair-level recall for docs meeting ONLY inside an oversized
    bucket is delegated to the other b-1 bands (a pair at jaccard ≥ 0.7
    with b=32/r=2 collides in ~10 bands in expectation); testdata
    buckets stay far below the default cap, so threshold queries
    remain exact.

    REJECTED alternative (r9, VERDICT r8 item 6): a scalar max-bucket
    pre-probe (groupBy count → max → driver scalar) that skips the
    regime split on clean corpora. Interleaved B-A-B-A at sf0.1 over
    q_dedup_near + q_dedup_incremental: probe 3.52/2.70 s vs the window
    form 2.43/2.43 s — the probe's count aggregation recomputes the
    banded frame (the minhash-heavy part, deliberately unpersisted at
    scale), which costs more than the window it saves."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "bucket")
    sized = banded.select(
        "band",
        "bucket",
        "doc_id",
        F.count("*").over(w).alias("k"),
        F.min("doc_id").over(w).alias("m"),
    ).filter(F.col("k") > 1)
    groups = sized.groupBy(
        "band",
        "bucket",
        F.when(F.col("k") > max_bucket, F.col("doc_id")).alias("star"),
    ).agg(F.collect_list("doc_id").alias("ids"), F.min("m").alias("m"))
    pairs = F.expr(
        "CASE WHEN star IS NULL THEN "
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> "
        "struct(least(x, y) AS doc_id_a, greatest(x, y) AS doc_id_b)))) "
        "WHEN star != m THEN array(struct(m AS doc_id_a, star AS doc_id_b)) "
        "ELSE array() END"
    )
    return (
        groups.select(F.explode(pairs).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
        .distinct()
    )


def jaccard_verify(
    cands: DataFrame, arrays: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Exact Jaccard for candidate pairs only, via per-doc shingle ARRAYS
    (``array_intersect`` per pair) — never touches the inverted index, so
    verification cost is O(|candidates| · shingles-per-doc) regardless of
    corpus size. ``arrays`` is :func:`shingle_arrays` output."""
    a = arrays.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("shingles").alias("_sh_a"),
        F.col("sz").alias("_sz_a"),
    )
    b = arrays.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("shingles").alias("_sh_b"),
        F.col("sz").alias("_sz_b"),
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        cands.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(inter / (F.col("_sz_a") + F.col("_sz_b") - inter), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_near_dups(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates, then exact-Jaccard
    verification at ``threshold``. The scale path: no full pairwise join
    and no inverted-index join ever materializes.

    The shingle arrays feed both the banding branch and the verify
    branch; persisted (memory-and-disk) so the diamond doesn't shingle
    the corpus twice. ``num_hashes`` must equal ``bands *
    rows_per_band`` (the banding computes exactly those minhash slots).
    """
    if num_hashes != bands * rows_per_band:
        raise ValueError("num_hashes must equal bands * rows_per_band")
    arrays = persist_tracked(shingle_arrays(spread(docs), n=n))
    cands = _pairs_from_banded(
        lsh_banded(arrays, bands=bands, rows_per_band=rows_per_band)
    )
    return jaccard_verify(cands, arrays, threshold=threshold)


def incremental_near_dups(
    corpus_docs: DataFrame,
    batch_docs: DataFrame,
    n: int = 3,
    bands: int = 32,
    rows_per_band: int = 2,
    threshold: float = 0.7,
    corpus_arrays: DataFrame | None = None,
    corpus_banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of an incoming BATCH against an existing CORPUS
    plus batch-internal pairs — the shape an ingest pipeline needs:
    corpus×corpus work is never redone. Candidates come from (a) the
    batch's banded buckets joined against the corpus's banded buckets
    on (band, bucket) and (b) :func:`_pairs_from_banded` over the batch
    alone; both verify with exact Jaccard. Returns (doc_id_a, doc_id_b,
    jaccard) with doc_id_b always the batch member.

    At real scale the corpus index is precomputed and persisted (pass
    ``corpus_banded``/``corpus_arrays``, e.g. read back from parquet) so
    per-batch cost is O(batch) banding + a key join against the index —
    the corpus documents themselves are never re-shingled."""
    batch_arrays = persist_tracked(shingle_arrays(spread(batch_docs), n=n))
    if corpus_arrays is None:
        corpus_arrays = persist_tracked(shingle_arrays(spread(corpus_docs), n=n))
    if corpus_banded is None:
        corpus_banded = lsh_banded(corpus_arrays, bands=bands, rows_per_band=rows_per_band)
    batch_banded = lsh_banded(batch_arrays, bands=bands, rows_per_band=rows_per_band)
    cross = (
        corpus_banded.select(F.col("doc_id").alias("doc_id_a"), "band", "bucket")
        .join(
            batch_banded.select(F.col("doc_id").alias("doc_id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    cands = cross.union(_pairs_from_banded(batch_banded))
    return jaccard_verify(cands, corpus_arrays.union(batch_arrays), threshold=threshold)


#: SimHash width. 60 (not 64) since r8: the bit source is
#: portable_hash60 — md5-derived, reproducible in DuckDB/stdlib — which
#: upgraded q_dedup_simhash from rows-only to a full value oracle. A
#: 60-bit frequency-weighted simhash has the same near-dup behavior
#: (hamming thresholds scale with width), fingerprints are always
#: non-negative (no signed bit-63 reassembly), and 60 splits evenly
#: into 4 pigeonhole blocks of 15 bits.
SIMHASH_BITS = 60


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document over word tokens (frequency-weighted:
    repeated tokens vote repeatedly). Pure JVM: token explode + 60
    conditional sums + bit reassembly; bit source = portable_hash60
    (see SIMHASH_BITS)."""
    from mapreduceframework_cpp_spark.operators.common import portable_hash60

    toks = spread(docs).select(
        "doc_id", F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).withColumn("h", portable_hash60("tok"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    fingerprint = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = bit if fingerprint is None else fingerprint.bitwiseOR(bit)
    return votes.select("doc_id", fingerprint.alias("simhash"))


def simhash_near_dups(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Candidate pairs whose SimHash hamming distance ≤ ``max_hamming``,
    found by exact-matching one of 4 15-bit blocks (pigeonhole: any pair
    within hamming 6 shares at least one intact block... within hamming 3
    guaranteed; 4 blocks is the standard recipe, 15 bits each at
    SIMHASH_BITS=60)."""
    # the 60-sum fingerprint aggregate feeds both self-join sides —
    # persist so it computes once
    fp = persist_tracked(simhash_fingerprints(docs))
    block_bits = SIMHASH_BITS // 4
    blocks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(blk).alias("blk"),
                        F.shiftright(F.col("simhash"), blk * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("key"),
                    )
                    for blk in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.blk", "bb.key")
    l = blocks.select("blk", "key", F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sh_a"))
    r = blocks.select("blk", "key", F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sh_b"))
    cands = (
        l.join(r, ["blk", "key"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", "sh_a", "sh_b")
        .distinct()
    )
    return cands.select(
        "doc_id_a",
        "doc_id_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Duplicate CLUSTERS from near-dup PAIRS: connected components by
    iterative min-label propagation — label(v) := min(label over v and
    its neighbors), repeated to fixpoint. Returns (doc_id, cluster_id)
    for every doc appearing in a pair, cluster_id = min doc_id of the
    component (docs in no pair are implicit singletons).

    Each iteration is one join + partial-aggregated group-by, and
    ``localCheckpoint`` truncates the lineage so the plan stays flat
    (executor-side materialization, nothing on the driver; the only
    driver value is the scalar convergence count). Iterations needed =
    component diameter — small for dedup clusters; for adversarially
    long chains switch to the large-star/small-star variant, same
    primitive per round.
    """
    # materialize the PAIRS once, before the symmetrize union: both
    # union branches read the same upstream pipeline, so checkpointing
    # after the union would execute the whole pair computation (e.g.
    # MinHash-LSH) twice. Iterations then join against the cheap
    # union-over-checkpoint plan — nothing upstream ever re-runs.
    pairs_ck = pairs.select("doc_id_a", "doc_id_b").localCheckpoint()
    edges = pairs_ck.select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    ).union(
        pairs_ck.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst"))
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    # Convergence probe: labels only ever DECREASE under min-propagation,
    # so the total label sum (exact decimal — 64-bit ids at corpus scale
    # would overflow a long sum) strictly decreases iff any label
    # changed. One aggregate over the just-checkpointed frame per
    # iteration — no labels-vs-new-labels join, and still only a scalar
    # on the driver.
    prev_sum = object()  # sentinel != any sum, including None (empty set)
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                labels.doc_id,
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]  # scalar-probe: one aggregate value, not a result set
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def canonical_docs(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """The deduplicated corpus: drop every cluster member except the
    canonical (min doc_id) one; docs in no cluster pass through."""
    dupes = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(dupes, "doc_id", "left_anti")
