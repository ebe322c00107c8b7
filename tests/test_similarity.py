"""Similarity-search tests: LSH ANN recall against the brute-force
oracle, centroid math sanity."""

from __future__ import annotations

from collections import defaultdict

from map_reduce_spark.functions.similarity import (
    TOP_K,
    sim_knn_bruteforce,
    sim_knn_lsh,
)


def _by_probe(rows):
    d = defaultdict(set)
    for r in rows:
        d[r.probe_id].add(r.neighbor_id)
    return d


def test_lsh_recall_at_k(spark, sf_dir):
    """recall@10 of the sketch-filtered ANN vs exact top-10.

    16-bit sign sketches at hamming<=6 cut comparisons ~4x; on
    *random* (unclustered) 64-d vectors — the worst case for LSH —
    expected recall is ~0.6.
    """
    exact = _by_probe(sim_knn_bruteforce(spark, sf_dir).collect())
    approx = _by_probe(sim_knn_lsh(spark, sf_dir).collect())
    assert set(exact) == set(approx)  # same probe set
    recalls = [
        len(exact[p] & approx[p]) / TOP_K for p in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.4, f"mean recall@{TOP_K} too low: {recalls}"


def test_bruteforce_scores_sorted_and_bounded(spark, sf_dir):
    rows = sim_knn_bruteforce(spark, sf_dir).collect()
    by_probe = defaultdict(list)
    for r in rows:
        by_probe[r.probe_id].append((r.rank, r.score))
    for probe, rs in by_probe.items():
        rs.sort()
        scores = [s for _, s in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in scores)
        assert len(rs) == TOP_K


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """n_probe = N_CELLS means every cell is searched — IVF must then
    return the exact brute-force top-k, scores included (the
    degradation invariant; both share one exact tail)."""
    from map_reduce_spark.functions.similarity import N_CELLS, knn_ivf

    exact = sim_knn_bruteforce(spark, sf_dir).collect()
    full = knn_ivf(spark, sf_dir, N_CELLS).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, full))


def test_ivf_recall_at_k(spark, sf_dir):
    """nprobe=2 of 8 cells cuts per-probe work ~4x; on random 64-d
    vectors (LSH/IVF worst case) measured mean recall@10 is ~0.52."""
    from map_reduce_spark.functions.similarity import knn_ivf

    exact = _by_probe(sim_knn_bruteforce(spark, sf_dir).collect())
    approx = _by_probe(knn_ivf(spark, sf_dir, 2).collect())
    assert set(exact) == set(approx)
    recalls = [len(exact[p] & approx[p]) / TOP_K for p in exact]
    assert sum(recalls) / len(recalls) >= 0.35, f"mean recall@{TOP_K}: {recalls}"


def test_pq_full_rerank_equals_bruteforce(spark, sf_dir):
    """rerank >= |corpus| means every ADC candidate is exact-reranked —
    PQ must then return the exact brute-force top-k, scores included
    (the degradation invariant; exact scores share brute-force's
    float-op order)."""
    from map_reduce_spark.functions.similarity import knn_pq

    exact = sim_knn_bruteforce(spark, sf_dir).collect()
    full = knn_pq(spark, sf_dir, rerank=10**9).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, full))


def test_pq_recall_at_k(spark, sf_dir):
    """Default rerank=8k ADC shortlist on random 64-d vectors (the PQ
    worst case — no cluster structure for the codebooks to exploit);
    measured mean recall@10 is ~0.76 at sf0.01."""
    from map_reduce_spark.functions.similarity import knn_pq

    exact = _by_probe(sim_knn_bruteforce(spark, sf_dir).collect())
    approx = _by_probe(knn_pq(spark, sf_dir).collect())
    assert set(exact) == set(approx)
    recalls = [len(exact[p] & approx[p]) / TOP_K for p in exact]
    assert sum(recalls) / len(recalls) >= 0.5, f"mean recall@{TOP_K}: {recalls}"


def test_pq_code_table_compression_invariants(spark, sf_dir):
    """The stored index is PQ_M small-int codes in [0, PQ_K) plus one
    norm per vector — the memory-compression contract — and encoding
    against a CACHED codebook is stable across calls (the production
    pattern: one train, many encodes).

    Note (r5 ADVICE): the second ``pq_encode`` deliberately reuses the
    session-cached codebook, so this pins cached-reuse determinism,
    NOT cross-training bit-determinism — the codebook's groupBy float
    sums are partition-order dependent, so two independent trainings
    may differ in last-ulp centroid values. The retrain check below
    therefore asserts the *shape/validity* invariants on a fresh
    training rather than code equality."""
    from map_reduce_spark.functions.similarity import (
        PQ_K,
        PQ_M,
        pq_codebooks,
        pq_encode,
    )

    rows = pq_encode(spark, sf_dir).collect()
    n_corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_corpus
    for r in rows:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_K for c in r.codes)
        assert r.norm > 0
    again = pq_encode(spark, sf_dir).collect()
    assert sorted((r.vec_id, tuple(r.codes)) for r in rows) == sorted(
        (r.vec_id, tuple(r.codes)) for r in again
    )
    # Genuine retrain: evict the cached codebook and train from
    # scratch. Codes must still satisfy every index invariant and the
    # codebooks must be numerically close to the first training (same
    # data, same deterministic init; only reduce-order ulps differ).
    import numpy as np

    first_books = np.asarray(pq_codebooks(spark, sf_dir), dtype=np.float64)
    pq_codebooks.cache_clear()
    retrained = pq_encode(spark, sf_dir).collect()
    assert len(retrained) == n_corpus
    for r in retrained:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_K for c in r.codes)
    second_books = np.asarray(pq_codebooks(spark, sf_dir), dtype=np.float64)
    np.testing.assert_allclose(second_books, first_books, rtol=1e-9, atol=1e-12)


def test_ivfpq_full_settings_equal_bruteforce(spark, sf_dir):
    """n_probe=N_CELLS + rerank>=|corpus| searches every cell and
    exact-reranks every candidate — IVF-PQ must then return the exact
    brute-force top-k, scores included."""
    from map_reduce_spark.functions.similarity import N_CELLS, knn_ivfpq

    exact = sim_knn_bruteforce(spark, sf_dir).collect()
    full = knn_ivfpq(spark, sf_dir, n_probe=N_CELLS, rerank=10**9).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, full))


def test_ivfpq_recall_at_k(spark, sf_dir):
    """Composed recall ~ r(ivf) x r(pq); on random 64-d vectors the
    floor is well above chance — pin a conservative 0.25."""
    from map_reduce_spark.functions.similarity import knn_ivfpq

    exact = _by_probe(sim_knn_bruteforce(spark, sf_dir).collect())
    approx = _by_probe(knn_ivfpq(spark, sf_dir).collect())
    assert set(exact) == set(approx)
    recalls = [len(exact[p] & approx[p]) / TOP_K for p in exact]
    assert sum(recalls) / len(recalls) >= 0.25, f"mean recall@{TOP_K}: {recalls}"


def test_sq8_recall_at_k(spark, sf_dir):
    """recall@10 of the scalar-quantized + exact-rerank ANN vs exact
    top-10. 8-bit per-dimension quantization of 64-d vectors keeps
    relative reconstruction error ~1e-2, and the 4x-k exact re-rank
    absorbs most ordering flips — expected recall is near 1."""
    from map_reduce_spark.functions.similarity import sim_knn_sq8

    exact = _by_probe(sim_knn_bruteforce(spark, sf_dir).collect())
    approx = _by_probe(sim_knn_sq8(spark, sf_dir).collect())
    assert set(exact) == set(approx)
    recalls = [len(exact[p] & approx[p]) / TOP_K for p in exact]
    assert sum(recalls) / len(recalls) >= 0.9, f"mean recall@{TOP_K}: {recalls}"


def test_sq8_full_rerank_equals_bruteforce(spark, sf_dir):
    """rerank >= corpus size means the exact re-rank sees every
    candidate — SQ8 must then return exactly the brute-force top-k
    (quantization error can no longer drop a true neighbor)."""
    from map_reduce_spark.functions.similarity import knn_sq8
    from map_reduce_spark.sources import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    exact = {
        (r.probe_id, r.rank): (r.neighbor_id, r.score)
        for r in sim_knn_bruteforce(spark, sf_dir).collect()
    }
    full = {
        (r.probe_id, r.rank): (r.neighbor_id, r.score)
        for r in knn_sq8(spark, sf_dir, rerank=n).collect()
    }
    assert exact == full
