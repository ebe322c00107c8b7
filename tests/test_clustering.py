"""Differential tests for the distributed Lloyd's trainers
(functions/clustering.py — k-means, the IVF coarse quantizer and the
PQ codebooks): each must match a pure-numpy Lloyd's twin exactly on
assignments and to float tolerance on centroids, across randomized
datasets — the compat-MR fuzz strategy applied to clustering.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from map_reduce_spark.functions.clustering import (
    KM_K,
    _stack,
    kmeans_assign,
    lloyd_kmeans,
    nearest_codes,
    train_codebooks,
)
from map_reduce_spark.functions.similarity import (
    KMEANS_ITERS,
    N_CELLS,
    PQ_K,
    PQ_M,
    train_centroids,
)
from map_reduce_spark.registry import load_all


def _np_lloyd(x: np.ndarray, k: int, iters: int):
    """Reference Lloyd's: lowest-index init, squared-L2 argmin ties to
    the lowest cluster id, empty clusters keep their centroid."""
    cents = x[:k].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1)
        lab = d2.argmin(axis=1)
        for j in range(k):
            if (lab == j).any():
                cents[j] = x[lab == j].mean(axis=0)
    d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1)
    return cents, d2.argmin(axis=1)


@pytest.mark.parametrize("seed,n,dim,k,iters", [
    (0, 60, 4, 3, 3),
    (1, 100, 8, 5, 2),
    (2, 40, 2, 4, 4),
    (3, 120, 4, 20, 2),  # K > KM_EXPR_MAX: the numpy assignment kernel
])
def test_lloyd_matches_numpy_twin(spark, seed, n, dim, k, iters):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, dim)).round(3)  # coarse grid: no near-ties
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "id bigint, dv array<double>")

    cents = lloyd_kmeans(df, "id", "dv", k, iters)
    ref_cents, ref_lab = _np_lloyd(x.astype(np.float64), k, iters)

    assert np.allclose(np.array(cents), ref_cents, atol=1e-9)
    got = {
        r["id"]: r["cluster"]
        for r in kmeans_assign(df, "dv", cents, "cluster").collect()
    }
    assert [got[i] for i in range(n)] == list(ref_lab)


@pytest.mark.parametrize("m", [2, 4])
def test_codebooks_match_numpy_twin_per_subspace(spark, m):
    """Lloyd's in m subspaces at once equals the numpy twin run
    separately in each subspace: codebooks to float tolerance, and
    ``nearest_codes`` labels exactly."""
    n, dim, k, iters = 90, 8, 5, 3
    rng = np.random.default_rng(10 + m)
    x = rng.normal(size=(n, dim)).round(3)  # coarse grid: no near-ties
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "id bigint, dv array<double>")

    books = train_codebooks(df, "id", "dv", m, k, iters)
    assert books.shape == (m, k, dim // m)
    codes, _ = nearest_codes(_stack(list(x), m), books)
    for j, sub in enumerate(np.split(x, m, axis=1)):
        ref_cents, ref_lab = _np_lloyd(sub, k, iters)
        assert np.allclose(books[j], ref_cents, atol=1e-9)
        assert list(codes[:, j]) == list(ref_lab)


def _np_cosine_lloyd(x: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Reference IVF quantizer: lowest-index init, assignment to the
    highest-cosine centroid, mean update, empty cells keep their
    centroid."""
    cents = x[:k].copy()
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)
    for _ in range(iters):
        lab = (unit @ cents.T / np.linalg.norm(cents, axis=1)).argmax(axis=1)
        for j in range(k):
            if (lab == j).any():
                cents[j] = x[lab == j].mean(axis=0)
    return cents


def test_ivf_quantizer_matches_numpy_cosine_twin(spark):
    """``similarity.train_centroids`` is Lloyd's with nearest-cosine
    assignment. Random float data has no cosine ties (in
    ``_with_nearest_cells`` a tie would go to the highest cell id)."""
    n, dim = 120, 8
    x = np.random.default_rng(7).normal(size=(n, dim)).astype(np.float32)
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    cents = train_centroids(emb)
    ref = _np_cosine_lloyd(x.astype(np.float64), N_CELLS, KMEANS_ITERS)
    assert np.allclose(np.array(cents), ref, atol=1e-9)


@pytest.mark.parametrize("trainer,k", [
    (lambda df, k: lloyd_kmeans(df, "vec_id", "dv", k, 2), KM_K),
    (lambda df, k: train_centroids(df, k), N_CELLS),
    (lambda df, k: train_codebooks(df, "vec_id", "dv", PQ_M, k, 2), PQ_K),
], ids=["lloyd_kmeans", "train_centroids", "train_codebooks"])
def test_seed_guard(spark, trainer, k):
    """Every trainer seeds through one rule and refuses a corpus
    smaller than k instead of returning a short model."""
    rows = [(i, [float(i + j) for j in range(PQ_M)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    df = df.withColumn("dv", F.col("embedding").cast("array<double>"))
    with pytest.raises(ValueError, match="need >="):
        trainer(df, k)


def test_assignment_tie_breaks_to_lowest_id(spark):
    """A point equidistant to two centroids lands in the lower id."""
    df = spark.createDataFrame([(0, [0.0, 0.0])], "id bigint, dv array<double>")
    out = kmeans_assign(df, "dv", [[1.0, 0.0], [-1.0, 0.0]], "c").collect()
    assert out[0]["c"] == 0


def test_registered_summary_covers_corpus(spark, sf_dir):
    """The registered summary is a partition of the corpus: counts sum
    to the table size, every cluster id is in range, distances are
    non-negative."""
    out = load_all()["ml_kmeans_embeddings"].builder(spark, sf_dir)
    assert [f.name for f in out.schema.fields] == [
        "cluster_id", "n_points", "avg_dist2", "centroid_norm",
    ]
    rows = out.collect()
    from map_reduce_spark.sources import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_points"] for r in rows) == n
    assert all(0 <= r["cluster_id"] < KM_K for r in rows)
    assert all(r["avg_dist2"] >= 0 for r in rows)
