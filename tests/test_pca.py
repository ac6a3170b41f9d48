"""Exact covariance PCA vs numpy ground truth + layout invariance."""

from __future__ import annotations

import os

import numpy as np
import pyspark.sql.functions as F
import pytest

from mapreduceframework_cpp_spark.operators.pca import top_principal_component
from mapreduceframework_cpp_spark.sources.tables import tbl


def _numpy_spectrum(emb_rows):
    X = np.array(emb_rows, dtype=np.float64)
    X = X - X.mean(axis=0)
    cov = X.T @ X / (len(X) - 1)
    w, v = np.linalg.eigh(cov)
    return w, v


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_top_component_matches_numpy(spark, oracle_sf_dir, scale):
    """One exact covariance pass + eigh: the eigenvalue is lambda1 and
    the loadings are the top eigenvector, at every bench scale and
    whatever the eigengap (this synthetic spectrum is nearly flat,
    lambda2/lambda1 ~ 0.98)."""
    emb = tbl(spark, os.path.join(os.path.dirname(oracle_sf_dir), scale), "embeddings")
    got = top_principal_component(emb).collect()
    loadings = np.array(
        [r["loading"] for r in sorted(got, key=lambda r: r["dim"])]
    )
    eig = got[0]["eigenvalue"]
    rows = [r["embedding"] for r in emb.select("embedding").collect()]
    w, v = _numpy_spectrum(rows)
    assert abs(eig - w[-1]) <= 1e-6, (eig, w[-1])
    cos = abs(float(loadings @ v[:, -1]))
    assert cos >= 1 - 1e-6, f"direction cosine {cos}"
    assert abs(float(loadings @ loadings) - 1.0) < 1e-6  # unit vector


def test_top_component_partition_invariant(spark, sf_dir):
    emb = tbl(spark, sf_dir, "embeddings")
    ref = sorted(map(tuple, top_principal_component(emb).collect()))
    for n in (1, 16):
        got = sorted(
            map(
                tuple,
                top_principal_component(emb.repartition(n)).collect(),
            )
        )
        assert got == ref, f"{n} partitions changed the component"


def test_top_component_rejects_broken_width(spark, oracle_sf_dir):
    """A 63-wide row among 64-wide ones, or a null element, must raise
    rather than return a component of a silently mismatched matrix."""
    emb = tbl(spark, oracle_sf_dir, "embeddings")
    first = emb.agg(F.min("vec_id")).first()[0]
    is_first = F.col("vec_id") == first
    short = emb.withColumn(
        "embedding",
        F.when(is_first, F.slice("embedding", 1, 63)).otherwise(F.col("embedding")),
    )
    with pytest.raises(ValueError, match="differ in width"):
        top_principal_component(short).collect()
    holed = emb.withColumn(
        "embedding",
        F.when(is_first, F.array_insert(F.slice("embedding", 2, 63), 1, F.lit(None).cast("float")))
        .otherwise(F.col("embedding")),
    )
    with pytest.raises(ValueError, match="hold nulls"):
        top_principal_component(holed).collect()
    with pytest.raises(ValueError, match="at least 2 rows"):
        top_principal_component(emb.filter(is_first)).collect()
