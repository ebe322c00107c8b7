"""Dedup ground-truth tests: the approximate paths (MinHash-LSH,
SimHash) are validated against the exact n-gram Jaccard pairs —
recall bounds, not hash equality (SURVEY.md §7 'Hard 4').
"""

from __future__ import annotations

import pytest

from map_reduce_spark.functions.dedup import (
    JACCARD_THRESHOLD,
    SIMHASH_HAMMING_MAX,
    dedup_minhash_lsh,
    dedup_ngram_jaccard_pairs,
    dedup_simhash_pairs,
    shingles_col,
    simhash_fingerprints,
)
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def true_pairs(spark, sf_dir):
    return {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard_pairs(spark, sf_dir).collect()
    }


def test_shingles_small_example(spark):
    from map_reduce_spark.operators.text_rel import tokens_col

    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], ["doc_id", "text"])
    df = df.withColumn("toks", tokens_col())
    rows = {r.doc_id: sorted(r.sh) for r in df.select("doc_id", shingles_col().alias("sh")).collect()}
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []  # shorter than the shingle width


def test_exact_pairs_exist(true_pairs):
    # The fixture plants near-duplicate documents; the exact Jaccard
    # join must surface them.
    assert len(true_pairs) >= 5


def test_df_capped_jaccard_matches_uncapped_on_fixture(spark, sf_dir):
    """The DF cap drops only ubiquitous (uninformative) shingles, so
    on a corpus whose near-dup pairs share at least one rare shingle
    the capped similarity space yields the SAME pair set and values.
    Pins that the cap is a skew bound, not a semantic change, at
    fixture scale; the DuckDB oracle separately pins exactness of the
    capped semantics themselves."""
    from map_reduce_spark.functions.dedup import dedup_jaccard_df_capped

    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_jaccard_df_capped(spark, sf_dir).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    assert capped == uncapped


def test_minhash_lsh_matches_exact(spark, sf_dir, true_pairs):
    """Verified-LSH output == exact jaccard>=t pairs on this fixture
    (detection probability ~1 at the planted similarity levels)."""
    lsh_pairs = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh_pairs == true_pairs


def test_minhash_jaccard_values_match_exact(spark, sf_dir):
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh == exact


def test_simhash_deterministic(spark, sf_dir):
    # __wrapped__: two independent builds, not one session-cached frame
    build = simhash_fingerprints.__wrapped__
    a = {r.doc_id: r.simhash for r in build(spark, sf_dir).collect()}
    b = {r.doc_id: r.simhash for r in build(spark, sf_dir).collect()}
    assert a == b
    assert len(a) > 0


def test_simhash_recall_on_near_dups(spark, sf_dir, true_pairs):
    """Near-identical docs (jaccard>=0.6 on trigrams) should collide
    within hamming<=6 — SimHash's design property."""
    sim_pairs = {
        (r.doc_a, r.doc_b) for r in dedup_simhash_pairs(spark, sf_dir).collect()
    }
    found = len(true_pairs & sim_pairs)
    assert found / max(len(true_pairs), 1) >= 0.8


def test_simhash_banding_is_complete(spark, sf_dir):
    """The 7-band join must return EVERY pair at hamming <= 6 (the
    pigeonhole guarantee), with its exact hamming distance: brute
    force over all fingerprint pairs is the reference."""
    fps = sorted(
        (r.doc_id, r.simhash & (2**64 - 1))
        for r in simhash_fingerprints(spark, sf_dir).collect()
    )
    want = {}
    for i, (a, fa) in enumerate(fps):
        for b, fb in fps[i + 1:]:
            d = (fa ^ fb).bit_count()
            if d <= SIMHASH_HAMMING_MAX:
                want[(a, b)] = d
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup_simhash_pairs(spark, sf_dir).collect()
    }
    assert want
    assert got == want


def test_embedding_lsh_hi_finds_exactly_planted_pairs(spark, sf_dir):
    """In the design regime (tau=0.95, planted near-copies) the banded
    LSH must find exactly the planted pairs: each planted vector
    (vec_id+offset) keeps its source, nothing else crosses tau."""
    from map_reduce_spark.functions.dedup import (
        _PLANT_OFFSET,
        HI_TAU,
        dedup_embedding_lsh_hi,
    )

    rows = dedup_embedding_lsh_hi(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.dup_id >= _PLANT_OFFSET, "only planted ids may be dups"
        assert r.keeper_id == r.dup_id - _PLANT_OFFSET, "keeper is the source"
        assert r.n_near_dups == 1
        assert r.keeper_score >= HI_TAU


def test_embedding_lsh_hi_plans_hash_join_not_nlj(spark, sf_dir):
    """Candidate generation must be a (band, val) hash equi-join — the
    10^9-vector shape — not a nested-loop scan of the pair space."""
    from map_reduce_spark.functions.dedup import dedup_embedding_lsh_hi
    from map_reduce_spark.plans.explain import physical_plan

    plan = physical_plan(dedup_embedding_lsh_hi(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_embedding_cosine_dedup_keeper_rule(spark, sf_dir, duck):
    """Keeper is always the lowest-id near neighbor; scores >= tau;
    pair set matches an exact DuckDB all-pairs run."""
    from map_reduce_spark.functions.dedup import (
        COSINE_DUP_TAU,
        dedup_embedding_cosine,
    )

    rows = dedup_embedding_cosine(spark, sf_dir).collect()
    assert rows, "fixture should contain near-dups at tau=0.4"
    for r in rows:
        assert r.keeper_id < r.dup_id
        assert r.keeper_score >= COSINE_DUP_TAU
    dup_ids = {r.dup_id for r in rows}
    expected = {
        v
        for (v,) in duck.execute(
            f"""SELECT DISTINCT b.vec_id
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[])
                      >= {COSINE_DUP_TAU}"""
        ).fetchall()
    }
    assert dup_ids == expected


def test_gemm_dedup_multiblock_equals_exact_twin(spark, sf_dir, monkeypatch):
    """Force the blocked-GEMM path onto a multi-block grid at smoke
    scale (the fixture's 20 vectors fit one block by default, which
    would leave the cross-block tile orientation — where a dropped
    min/max swap once lost pairs — untested) and check it equals the
    exact all-pairs twin row for row."""
    import map_reduce_spark.functions.dedup as dd

    monkeypatch.setattr(dd, "_GEMM_MIN_BLOCK", 4)
    got = {
        (r.dup_id, r.keeper_id, r.keeper_score, r.n_near_dups)
        for r in dd.dedup_embedding_lsh(spark, sf_dir).collect()
    }
    want = {
        (r.dup_id, r.keeper_id, r.keeper_score, r.n_near_dups)
        for r in dd.dedup_embedding_cosine(spark, sf_dir).collect()
    }
    assert got == want


def test_keep_best_manifest_invariants(spark, sf_dir):
    """dedup_cluster_keep_best: exactly one keeper per cluster; the
    keeper is the longest member (ties -> smallest doc_id); cluster
    membership agrees with dedup_duplicate_clusters; every corpus doc
    appears exactly once."""
    from collections import defaultdict

    from map_reduce_spark.functions.dedup import (
        dedup_cluster_keep_best,
        dedup_duplicate_clusters,
    )
    from map_reduce_spark.sources import load_table

    rows = dedup_cluster_keep_best(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs

    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    for cid, members in by_cluster.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1, f"cluster {cid}: {len(keeps)} keepers"
        best = min(members, key=lambda r: (-r.n_tokens, r.doc_id))
        assert keeps[0].doc_id == best.doc_id
        assert all(r.n_members == len(members) for r in members)

    comp = {r.component_id: r.n_members for r in
            dedup_duplicate_clusters(spark, sf_dir).collect()}
    multi = {cid: len(m) for cid, m in by_cluster.items() if len(m) > 1}
    assert multi == comp


def test_embedding_hi_pairs_exactly_match_bruteforce_graph(spark, sf_dir):
    """Pair-level parity pin (r5 ADVICE): the banded-LSH verified pair
    index ``embedding_hi_pairs`` must equal the EXACT all-pairs
    cos >= HI_TAU join on the augmented corpus, pair by pair.

    The semantic-CC oracle match rests on the banding's zero-miss
    property; without this pin, a future fixture/tau change that
    breaks it would surface as an opaque component-level hash
    mismatch. Here a banding miss fails with the missing (ia, ib)
    identified.
    """
    import numpy as np

    from map_reduce_spark.functions.dedup import (
        HI_TAU,
        _augmented_sketched_embeddings,
        embedding_hi_pairs,
    )

    got = {
        (r.ia, r.ib)
        for r in embedding_hi_pairs(spark, sf_dir).collect()
    }

    rows = _augmented_sketched_embeddings(spark, sf_dir).select(
        "vec_id", "dv"
    ).collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.stack([np.asarray(r.dv, dtype=np.float64) for r in rows])
    norms = np.sqrt((mat * mat).sum(axis=1))
    cos = (mat @ mat.T) / np.outer(norms, norms)
    want = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < ids[j] and cos[i, j] >= HI_TAU:
                want.add((int(ids[i]), int(ids[j])))

    missing = want - got
    spurious = got - want
    assert not missing, f"banding MISSED pairs: {sorted(missing)[:10]}"
    assert not spurious, f"verify let through non-pairs: {sorted(spurious)[:10]}"


def test_exact_substring_differential_vs_python(spark):
    """dedup_exact_substring against a brute-force pure-Python
    reference on a corpus with planted span duplication: a shared
    10-token boilerplate (three overlapping K=8 windows -> a run),
    an exact duplicate pair, internal-only repetition (must NOT
    count), and a short doc (excluded)."""
    from map_reduce_spark.functions.dedup import SUBSTR_K, dedup_exact_substring

    boiler = "terms of service apply to all users of this product"
    docs = [
        (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, "intro words here " + boiler + " tail one two three four"),
        (3, "x y z " + " ".join(["loop"] * 30)),  # internal repetition only
        (4, "completely different content with no shared spans at all "
            "padding words continue for a while longer here"),
        (5, "tiny doc"),  # < K tokens: excluded
        (6, docs_dup := "exact duplicate document body with enough tokens "
            "to produce several windows in a row"),
        (7, docs_dup),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            r.doc_id: (r.n_windows, r.n_dup_windows, r.max_dup_run, r.dup_ratio)
            for r in dedup_exact_substring(spark, td).collect()
        }

    # pure-Python reference
    import re
    k = SUBSTR_K
    toks = {d: [t for t in re.split("[^a-z]+", txt.lower()) if t] for d, txt in docs}
    wins = {
        d: [" ".join(ts[i : i + k]) for i in range(len(ts) - k + 1)]
        for d, ts in toks.items()
        if len(ts) >= k
    }
    owners = {}
    for d, ws in wins.items():
        for w in set(ws):
            owners.setdefault(w, set()).add(d)
    expect = {}
    for d, ws in wins.items():
        dup = [i for i, w in enumerate(ws) if len(owners[w]) >= 2]
        run, best, prev = 0, 0, None
        for i in dup:
            run = run + 1 if prev is not None and i == prev + 1 else 1
            best = max(best, run)
            prev = i
        expect[d] = (
            len(ws),
            len(dup),
            best,
            round(len(dup) / len(ws), 6),
        )
    assert got == expect
    assert 5 not in got  # short doc excluded
    assert got[3][1] == 0  # internal repetition is not duplication
    assert got[6][1] == got[6][0]  # exact dup pair: every window shared
    assert got[1][2] >= 2  # overlapping boilerplate windows form a run


# --- incremental batch-vs-corpus dedup (r7) --------------------------


def test_incremental_batch_verdicts(spark, tmp_path):
    """Crafted split: doc 10 (incoming) is an EXACT copy of existing
    doc 3; doc 20 (incoming) is a NEAR copy of existing doc 7 (one
    word changed); doc 30 (incoming) shares nothing -> keep. Existing
    near-dups of each other (docs 5, 6) must NOT appear: verdicts are
    for the incoming batch only, pairs are incoming x existing only."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_spark.functions.dedup import dedup_incremental_batch

    base = ("spark shuffle partition broadcast join aggregate window "
            "catalyst tungsten codegen arrow stream batch watermark state")
    near = base.replace("arrow", "falcon")
    texts = {
        3: base,                      # existing
        5: "alpha beta gamma delta epsilon zeta eta theta " * 3,  # existing
        6: "alpha beta gamma delta epsilon zeta eta theta " * 3,  # existing twin
        7: base.replace("state", "checkpoint"),   # existing
        10: base,                     # incoming: exact copy of 3
        20: near,                     # incoming: near-dup of 3/7 family
        30: "completely different words about cooking pasta tonight "
            "with tomatoes basil garlic and olive oil for dinner",
        11: "another unrelated existing document talking about hiking "
            "mountains rivers forests and long quiet trails in autumn",
    }
    rows = sorted(texts.items())
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["t"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    d = str(tmp_path / "inc")
    os.makedirs(d)
    pq.write_table(tbl, f"{d}/documents.parquet")

    out = {r.doc_id: r for r in dedup_incremental_batch(spark, d).collect()}
    # only incoming docs (doc_id % 10 == 0) get verdicts
    assert set(out) == {10, 20, 30}
    assert out[10].verdict == "exact_dup" and out[10].match_doc == 3
    assert out[10].jaccard is None
    assert out[20].verdict == "near_dup" and out[20].match_doc in (3, 7)
    assert out[20].jaccard is not None and out[20].jaccard >= 0.6
    assert out[30].verdict == "keep" and out[30].match_doc is None
