"""Retrieval-index contracts added in r7: session-cached normalized
index, probe-modulus parameterization, and the chunk_uid packing
guard."""

from __future__ import annotations

import numpy as np
import pytest

from map_reduce_spark.functions.retrieval import (
    CHUNKS_PER_DOC_CAP,
    PROBE_DOC_MOD,
    _tfidf_search,
    chunk_tfidf_index,
)


def test_index_is_session_cached_and_normalized(spark, sf_dir):
    """One index per (session, corpus): a second call returns the SAME
    persisted frame (the leak fixed in r7 minted a new cached copy per
    build). And the index is length-normalized: per-chunk L2 norm of
    ``wn`` is exactly 1 (the property that lets the search skip norm
    joins on the pair stream)."""
    a = chunk_tfidf_index(spark, sf_dir)
    b = chunk_tfidf_index(spark, sf_dir)
    assert a is b
    norms = (
        a.groupBy("chunk_uid")
        .agg({"wn": "collect_list"})
        .withColumnRenamed("collect_list(wn)", "ws")
        .collect()
    )
    for r in norms:
        assert abs(float(np.linalg.norm(r.ws)) - 1.0) < 1e-9, r.chunk_uid


def test_probe_modulus_parameterization(spark, sf_dir):
    """_tfidf_search(probe_doc_mod=m) probes exactly the chunks of
    every m-th document; the registered entry equals the core at
    PROBE_DOC_MOD."""
    from map_reduce_spark.registry import load_all

    for mod in (PROBE_DOC_MOD, 7):
        rows = _tfidf_search(spark, sf_dir, mod).collect()
        assert rows, f"no results at probe mod {mod}"
        probe_docs = {r.probe_uid // CHUNKS_PER_DOC_CAP for r in rows}
        assert all(d % mod == 0 for d in probe_docs)
    reg = load_all()["rag_chunk_tfidf_search"].builder(spark, sf_dir).collect()
    core = _tfidf_search(spark, sf_dir, PROBE_DOC_MOD).collect()
    assert [tuple(r) for r in reg] == [tuple(r) for r in core]


def test_chunk_uid_packing_overflow_raises(spark, tmp_path):
    """A document with >= CHUNKS_PER_DOC_CAP chunks must fail LOUDLY
    (r6 ADVICE: the bare constant silently collided uids). Build a
    one-doc corpus long enough to exceed the cap and assert the
    runtime guard fires with the doc id in the message."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_spark.functions.prep import CHUNK_STEP, CHUNK_TOKENS
    from map_reduce_spark.functions.retrieval import chunk_tokens

    n_tokens = CHUNK_TOKENS + CHUNK_STEP * CHUNKS_PER_DOC_CAP  # > cap chunks
    text = " ".join("tok%d" % (i % 50) for i in range(n_tokens))
    tbl = pa.table(
        {
            "doc_id": pa.array([3], type=pa.int64()),
            "text": pa.array([text]),
            "lang": pa.array(["en"]),
            "source": pa.array(["t"]),
            "n_chars": pa.array([len(text)], type=pa.int64()),
        }
    )
    d = str(tmp_path / "overflow")
    import os

    os.makedirs(d)
    pq.write_table(tbl, f"{d}/documents.parquet")
    from pyspark.sql import functions as F

    # evaluate chunk_uid itself — a bare count() lets Catalyst prune
    # the guarded projection away (the guard fires on USE, which every
    # real consumer of the index does)
    with pytest.raises(Exception, match="packing overflow.*3"):
        chunk_tokens(spark, d).agg(F.max("chunk_uid")).collect()


# --- BM25 (r7) -------------------------------------------------------


def _write_docs(tmp_path, name, texts):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / name)
    os.makedirs(d, exist_ok=True)
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["t"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(tbl, f"{d}/documents.parquet")
    return d


def test_bm25_idf_favors_rare_term_match(spark, tmp_path):
    """The probe shares a RARE term with one candidate and a COMMON
    term with the rest — BM25's idf must rank the rare-term match
    first. (Docs stay under CHUNK_TOKENS so each is one chunk and
    doc 0, the only doc_id % PROBE_DOC_MOD == 0, is the sole probe.)"""
    from map_reduce_spark.functions.retrieval import (
        CHUNKS_PER_DOC_CAP,
        rag_bm25_search,
    )

    filler = "alpha beta gamma delta"
    texts = [
        f"zebra common {filler}",  # doc 0: probe
        f"zebra {filler}",  # doc 1: rare-term match
        f"common {filler} one",  # docs 2..5: common-term matches
        f"common {filler} two",
        f"common {filler} three",
        f"common {filler} four",
    ]
    d = _write_docs(tmp_path, "bm25_idf", texts)
    rows = rag_bm25_search(spark, d).collect()
    by_rank = {r.rank: r.cand_uid // CHUNKS_PER_DOC_CAP for r in rows}
    assert by_rank[1] == 1, rows


def test_bm25_length_normalization(spark, tmp_path):
    """Two candidates match the probe's term with tf=1; the SHORTER
    one must score higher (the b-term length penalty)."""
    from map_reduce_spark.functions.retrieval import (
        CHUNKS_PER_DOC_CAP,
        rag_bm25_search,
    )

    texts = [
        "zebra",  # doc 0: probe (one term)
        "zebra pad1 pad2 pad3 pad4 pad5 pad6 pad7 pad8 pad9",  # long
        "zebra pad1 pad2",  # short
        "other filler words here",  # dilute zebra's df below the cap
        "more other filler words",
    ]
    d = _write_docs(tmp_path, "bm25_len", texts)
    rows = rag_bm25_search(spark, d).collect()
    docs_in_rank_order = [
        r.cand_uid // CHUNKS_PER_DOC_CAP for r in sorted(rows, key=lambda r: r.rank)
    ]
    assert docs_in_rank_order[0] == 2, rows


def test_bm25_impacts_positive_and_index_cached(spark, sf_dir):
    """Lucene-variant idf is always positive, so every stored impact
    must be > 0; and the impact index is session-cached like the
    tf-idf index."""
    from map_reduce_spark.functions.retrieval import chunk_bm25_index

    a = chunk_bm25_index(spark, sf_dir)
    assert a is chunk_bm25_index(spark, sf_dir)
    assert a.filter("bm <= 0").count() == 0


def test_cands_broadcast_regime_agg_and_topk_are_exchange_free(
    spark, sf_dir, monkeypatch
):
    """The large-probe regime (r10): with the probe side pre-
    partitioned by probe_uid and the pruned candidate frame broadcast,
    the (probe, cand) score aggregate and the per-probe top-k window
    must add NO further hash exchange — the pair stream is born
    partitioned by a grouping-key subset, which is the property that
    kept the sf10 aggregate out of 6.5 GB of spilled hash state.
    Pinned by asserting no ENSURE_REQUIREMENTS hash exchange mentions
    the aggregate keys (the only hash exchange allowed is the
    explicit REPARTITION_BY_NUM of the tiny probe side). Checked for
    both the TF-IDF and the BM25 search."""
    import re

    import map_reduce_spark.functions.retrieval as R
    from map_reduce_spark.plans.explain import physical_plan

    monkeypatch.setattr(R, "PROBE_BROADCAST_MAX_DOCS", 0)
    for search in (R._tfidf_search, R._bm25_search):
        plan = physical_plan(search(spark, sf_dir, R.PROBE_DOC_MOD))
        bad = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line
            and "ENSURE_REQUIREMENTS" in line
            and re.search(r"probe_uid#\d+L?, (chunk_uid|cand_uid)", line)
        ]
        assert not bad, f"{search.__name__} re-shuffled the pair stream: {bad}"
        assert "BroadcastHashJoin" in plan  # cands side broadcast


# --- r11: postings-cap recall differential + deferred large-probe ----


def _patched_search(spark, d, monkeypatch, cap):
    """Run the registered tfidf search over corpus dir ``d`` with the
    postings cap patched to ``cap``. Each call uses a FRESH corpus dir
    (the index builders are session-cached per (session, sf_dir), so
    reusing a dir would serve a frame built under the previous cap)."""
    import map_reduce_spark.functions.retrieval as R

    monkeypatch.setattr(R, "RETRIEVAL_MAX_POSTINGS", cap)
    return {
        (r.probe_uid, r.rank): r.cand_uid
        for r in R._tfidf_search(spark, d, R.PROBE_DOC_MOD).collect()
    }


def _cap_corpus(tmp_path, name):
    """15-doc corpus where an 8-posting cap BINDS on token 'common'
    (df=12) and provably drops a true top-k candidate: doc 11 is the
    single-token doc 'common' (normalized weight 1.0 -> the highest
    cosine against the probe) but has tf=1, so the (tf DESC) impact
    order ranks it behind the ten padded docs and the cap prunes it."""
    texts = ["common probetok"]  # doc 0: the sole probe (mod 150)
    for i in range(1, 11):  # docs 1..10: tf(common) = 12 - i
        texts.append(" ".join(["common"] * (12 - i)) + f" pad{i}a pad{i}b")
    texts.append("common")  # doc 11: the victim (tf=1, wn=1.0)
    for j in range(3):  # docs 12..14: keep df(common) <= 0.9 * n
        texts.append(f"zzz{j} yyy{j}")
    return _write_docs(tmp_path, name, texts)


def test_postings_cap_recall_differential(spark, tmp_path, monkeypatch):
    """The candidate-postings cap is UNSAFE (non-rank-preserving)
    pruning — r10 ADVICE demanded this measured, not asserted away.
    Three runs over byte-identical corpora: (a) cap=8 (binds, victim
    pruned), (b) cap huge (never binds — the uncapped truth), (c)
    cap=50 (does not bind at df=12). Checks: non-binding == uncapped
    exactly; binding preserves the per-probe emission SHAPE (k rows,
    same probes) but measurably loses the uncapped top-1 — recall@5
    is exactly 4/5 on this construction."""
    from map_reduce_spark.functions.retrieval import RETRIEVAL_TOP_K

    capped = _patched_search(
        spark, _cap_corpus(tmp_path, "cap8"), monkeypatch, 8
    )
    uncapped = _patched_search(
        spark, _cap_corpus(tmp_path, "capbig"), monkeypatch, 1 << 30
    )
    loose = _patched_search(
        spark, _cap_corpus(tmp_path, "cap50"), monkeypatch, 50
    )
    assert loose == uncapped  # cap that never binds is a no-op
    # emission shape preserved: same probe set, k ranks each
    probes = {p for p, _ in uncapped}
    assert {p for p, _ in capped} == probes
    for p in probes:
        assert [(p, k) in capped for k in range(1, RETRIEVAL_TOP_K + 1)] == [True] * RETRIEVAL_TOP_K
    # the victim (doc 11, single-token 'common') tops the uncapped
    # ranking but is pruned out of the capped pool entirely
    (probe,) = probes
    assert uncapped[(probe, 1)] // CHUNKS_PER_DOC_CAP == 11
    assert all(c // CHUNKS_PER_DOC_CAP != 11 for c in capped.values())
    top = lambda res: {res[(probe, k)] for k in range(1, RETRIEVAL_TOP_K + 1)}
    recall = len(top(capped) & top(uncapped)) / RETRIEVAL_TOP_K
    assert recall == 0.8, recall


def test_large_probe_regime_is_deferred(spark, sf_dir, monkeypatch):
    """r10 ADVICE: the count-sized large-probe regime decision must
    not run Spark actions at builder-construction time. With the
    probe-broadcast gate forced shut, the search builders return a
    DeferredDataFrame that serves the declared schema without
    materializing, the declared schema equals the lazy branch's, and
    the materialized rows equal the lazy branch's (the regime choice
    changes the plan, never the result). Both search families (TF-IDF
    and BM25) and their RRF fusion are checked."""
    import map_reduce_spark.functions.retrieval as R
    from map_reduce_spark.plans.deferred import DeferredDataFrame

    searches = (R._tfidf_search, R._bm25_search)
    lazy = {s: s(spark, sf_dir, R.PROBE_DOC_MOD) for s in searches}
    assert not any(isinstance(df, DeferredDataFrame) for df in lazy.values())
    lazy_rows = {s: [tuple(r) for r in df.collect()] for s, df in lazy.items()}

    monkeypatch.setattr(R, "PROBE_BROADCAST_MAX_DOCS", 0)
    builders = [
        (lambda s=s: s(spark, sf_dir, R.PROBE_DOC_MOD), s) for s in searches
    ] + [(lambda: R.rag_rrf_fusion_search(spark, sf_dir), None)]
    for builder, ref in builders:
        got = builder()
        assert isinstance(got, DeferredDataFrame)
        declared = list(got.dtypes)  # cheap introspection, pre-thunk
        assert not got.is_materialized
        if ref is not None:
            assert declared == list(lazy[ref].dtypes)  # dtypes, house pin
            assert [tuple(r) for r in got.collect()] == lazy_rows[ref]
        else:
            got.collect()  # materializes; declared dtypes must hold
        assert list(got.dtypes) == declared
