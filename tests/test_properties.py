"""Property-based tests (hypothesis) for the pure kernels.

The reference's whole test strategy is differential: distributed
output must equal a trusted sequential twin on whatever input shows up
(SURVEY.md §5.1). Hypothesis generalizes that from six fixed fixture
files to generated adversarial inputs — non-BMP unicode, empty files,
single-character keys — for every kernel that is pure enough to check
cheaply:

- the FNV-32a partitioner (compat/fnv.py) against its bit-level
  definition and its partitioning contract,
- the unicode-letter tokenizer (compat/apps._words) against its
  run-of-letters specification,
- the vectorized sign-sketch bit-pack (functions/vector_udfs.py)
  against a naive per-row/per-plane loop,
- the compat MapReduce job (one Spark differential over a
  hypothesis-built corpus, bounded example count — the expensive one).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce_spark.compat.apps import APPS, _words
from map_reduce_spark.compat.fnv import FNV_OFFSET_32, FNV_PRIME_32, fnv1a_32, ihash, make_partitioner

# ---------------------------------------------------------------------------
# FNV-32a partitioner
# ---------------------------------------------------------------------------


@given(st.text(max_size=200))
def test_fnv_matches_bytewise_definition(s: str) -> None:
    """fnv1a_32 equals the from-scratch fold over UTF-8 bytes."""
    h = FNV_OFFSET_32
    for b in s.encode("utf-8"):
        h = ((h ^ b) * FNV_PRIME_32) & 0xFFFFFFFF
    assert fnv1a_32(s) == h


@given(st.text(max_size=200), st.integers(min_value=1, max_value=64))
def test_partitioner_in_range_and_deterministic(key: str, n: int) -> None:
    part = make_partitioner(n)
    b = part(key)
    assert 0 <= b < n
    assert b == part(key) == ihash(key) % n
    assert 0 <= ihash(key) <= 0x7FFFFFFF


@given(st.text(min_size=0, max_size=50), st.text(min_size=0, max_size=50))
def test_fnv_is_prefix_sensitive(a: str, b: str) -> None:
    """Hash of a+b is the fold of b's bytes starting from hash(a) —
    i.e. the hash is a true left fold (no buffering/chunking bugs)."""
    h = fnv1a_32(a)
    for byte in b.encode("utf-8"):
        h = ((h ^ byte) * FNV_PRIME_32) & 0xFFFFFFFF
    assert fnv1a_32(a + b) == h


# ---------------------------------------------------------------------------
# Unicode-letter tokenizer (wc/indexer map semantics)
# ---------------------------------------------------------------------------


@given(st.text(max_size=300))
def test_words_are_maximal_letter_runs(text: str) -> None:
    words = _words(text)
    # every token is nonempty, all-letters
    assert all(w and all(c.isalpha() for c in w) for w in words)
    # tokens appear in order as disjoint slices of the input
    pos = 0
    for w in words:
        i = text.index(w, pos)
        # maximality: the char before/after the run is not a letter
        assert i == 0 or not text[i - 1].isalpha() or text[i - 1 : i + len(w)] != text[i - 1] + w
        pos = i + len(w)
    # reconstruction: stripping all non-letters leaves exactly the tokens
    assert "".join(words) == "".join(c for c in text if c.isalpha())


@given(st.lists(st.text(st.characters(categories=("Lu", "Ll", "Lo")), min_size=1, max_size=10), max_size=20))
def test_words_round_trips_space_joined_tokens(tokens: list[str]) -> None:
    assert _words(" ".join(tokens)) == tokens


def test_words_splits_candidate_runs_that_are_not_all_letters() -> None:
    """"½", "Ⅻ" and "²" are word characters, neither digits nor "_", but
    not letters (so a ``[^\\W\\d_]`` class would take them in); they
    must split a run exactly as the per-character groupby does."""
    text = "ab½cd Ⅻx²y"
    assert _words(text) == _letter_runs(text) == ["ab", "cd", "x", "y"]


def _letter_runs(text: str) -> list[str]:
    """The per-character definition: maximal runs of str.isalpha."""
    return ["".join(g) for alpha, g in itertools.groupby(text, key=str.isalpha) if alpha]


def test_words_equal_per_character_definition_on_every_code_point() -> None:
    """Exhaustive over U+0000..U+10FFFF minus the surrogates: the
    candidate class is exact on the BMP and admits the whole astral
    range, so astral non-letters must still split runs. Checked on the
    code points in order and with separators (BMP and astral
    non-letters) interleaved at varying strides."""
    every = "".join(chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF)
    assert _words(every) == _letter_runs(every)
    seps = itertools.cycle([" ", "1", "_", "½", "\n", "\U0001d7cf", "\U0001f600"])
    strides = itertools.cycle(range(1, 10))
    parts, i = [], 0
    while i < len(every):
        n = next(strides)
        parts += [every[i : i + n], next(seps)]
        i += n
    interleaved = "".join(parts)
    assert _words(interleaved) == _letter_runs(interleaved)


def test_words_mixed_bmp_and_astral_runs() -> None:
    """Astral letters join BMP letters in one run; astral non-letters
    ("\U0001d7cf" MATHEMATICAL BOLD DIGIT ONE) and BMP non-letters
    split runs."""
    cases = {
        "𝐀𝐁c1d": ["𝐀𝐁c", "d"],
        "𝐀𝐁c\U0001d7cfd": ["𝐀𝐁c", "d"],
        "ab½cd Ⅻx²y": ["ab", "cd", "x", "y"],
        "x\U0001f600𝐀y": ["x", "𝐀y"],
        "\U0001f600\U0001d7cf": [],
        "": [],
    }
    for text, want in cases.items():
        assert _words(text) == _letter_runs(text) == want, text


# ---------------------------------------------------------------------------
# Sign-sketch bit-pack kernel (ANN / embedding-LSH hot path)
# ---------------------------------------------------------------------------


@given(
    st.integers(min_value=1, max_value=100_000),
    st.integers(min_value=2, max_value=16),  # dim
    st.integers(min_value=1, max_value=16),  # n_planes
    st.integers(min_value=1, max_value=8),  # batch rows
)
@settings(max_examples=25, deadline=None)
def test_sign_sketch_matches_naive_loop(spark, seed, dim, n_planes, n) -> None:
    # spark fixture: pandas_udf() parses its DDL return type via the
    # active SparkContext even though .func runs pure-Python below
    from map_reduce_spark.functions.vector_udfs import make_sign_sketch_udf

    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim)).tolist()
    vecs = rng.normal(size=(n, dim))

    udf = make_sign_sketch_udf(planes, n_planes)
    # `.func` is the plain Python function wrapped by pandas_udf
    got = udf.func(pd.Series(list(vecs))).tolist()

    for row, g in zip(vecs, got):
        expect = 0
        for i, plane in enumerate(planes):  # MSB-first: plane 0 -> bit n-1
            if float(np.dot(row, plane)) > 0:
                expect |= 1 << (n_planes - 1 - i)
        assert g == expect


# ---------------------------------------------------------------------------
# Compat MapReduce: hypothesis-built corpus differential (the reference's
# defining check, over generated inputs instead of the fixed fixture)
# ---------------------------------------------------------------------------

_corpus_text = st.text(
    st.one_of(
        st.characters(categories=("Lu", "Ll", "Lo", "Nd", "Po", "Zs")),
        st.sampled_from("\n\t Übêrλ漢字"),
    ),
    max_size=400,
)


@given(st.lists(_corpus_text, min_size=1, max_size=4))
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_distributed_equals_sequential_on_generated_corpus(
    spark, tmp_path_factory, texts: list[str]
) -> None:
    from map_reduce_spark.compat.job import MapReduceJob, sorted_output

    d = tmp_path_factory.mktemp("hyp_corpus")
    for i, text in enumerate(texts):
        (d / f"pg-{i}.txt").write_text(text, encoding="utf-8")

    for app in ("wc", "indexer"):
        map_fn, reduce_fn = APPS[app]
        job_seq = MapReduceJob(f"{d}/pg-*.txt", map_fn, reduce_fn)
        seq = sorted_output(job_seq.run_sequential())
        dist = sorted_output(
            MapReduceJob(f"{d}/pg-*.txt", map_fn, reduce_fn, n_reduce=5).run(
                spark, str(tmp_path_factory.mktemp("hyp_out") / app)
            )
        )
        assert seq == dist


# --- weighted-median / quantile interpolation kernels ----------------------

@given(
    st.lists(
        st.tuples(
            st.floats(-1e6, 1e6, allow_nan=False),
            st.integers(min_value=1, max_value=20),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_equals_pandas_on_expanded_multiset(pairs) -> None:
    """_weighted_median over (value, count) must equal pandas' median
    of the expanded series — the exact contract the supplier-stats
    UDAF relies on after its histogram combine."""
    from map_reduce_spark.operators.advanced import _weighted_median

    vals = sorted(set(v for v, _ in pairs))
    counts = {v: 0 for v in vals}
    for v, c in pairs:
        counts[v] += c
    v_arr = np.array(vals)
    w_arr = np.array([counts[v] for v in vals])
    expanded = pd.Series(np.repeat(v_arr, w_arr))
    assert _weighted_median(v_arr, w_arr) == expanded.median()


@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=60),
    st.floats(0.0, 1.0),
)
def test_interp_matches_duckdb_quantile_cont(vals, q) -> None:
    """_interp (the exact-percentile query's interpolation) must be
    bit-identical to DuckDB's quantile_cont on the same multiset."""
    import duckdb

    from map_reduce_spark.operators.relational import _interp

    h = (len(vals) - 1) * q
    got = _interp(sorted((v, 1) for v in vals), h)
    want = duckdb.execute(
        "SELECT quantile_cont(v, ?) FROM (SELECT unnest(?) AS v)", [q, vals]
    ).fetchone()[0]
    assert got == want


def test_repetition_stats_pandas_equals_fold(spark) -> None:
    """The registered Arrow-batched doc_repetition_stats must agree
    row-for-row with its pure-expression run-length-fold twin — pins
    the Python tokenizer/tie-break against the Catalyst one."""
    from map_reduce_spark.functions.prep import (
        doc_repetition_stats,
        doc_repetition_stats_fold,
    )

    sf = "/root/testdata/sf0.001"
    a = doc_repetition_stats(spark, sf).toPandas()
    b = doc_repetition_stats_fold(spark, sf).toPandas()
    assert len(a) and a.equals(b)


def _bigram_lm_reference(texts):
    """Pure-Python bigram LM: P(w2|w1) = c(w1 w2)/c(w1,*) from the
    corpus itself; per-doc mean log-prob over its bigram stream."""
    import math
    import re
    from collections import Counter

    def toks(t):
        return [w for w in re.split(r"[^a-z]+", t.lower()) if w]

    doc_bgs = {i: list(zip(toks(t), toks(t)[1:])) for i, t in enumerate(texts)}
    cbg = Counter(bg for bgs in doc_bgs.values() for bg in bgs)
    cleft = Counter()
    for (w1, _), c in cbg.items():
        cleft[w1] += c
    out = {}
    for i, bgs in doc_bgs.items():
        if not bgs:
            continue
        ll = sum(math.log(cbg[bg] / cleft[bg[0]]) for bg in bgs)
        out[i] = (len(bgs), ll / len(bgs))
    return out


@given(
    st.lists(
        st.lists(st.integers(0, 7), min_size=0, max_size=20),
        min_size=1,
        max_size=8,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bigram_logprob_matches_reference(spark, tmp_path_factory, idx_lists):
    """doc_bigram_logprob must agree with a pure-Python sequential
    bigram LM on randomized corpora (same differential pattern as the
    compat-layer oracle): per-doc bigram counts exactly, mean log-prob
    to float tolerance."""
    import pandas as pd

    from map_reduce_spark.functions.text import doc_bigram_logprob

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    texts = [" ".join(words[i] for i in idxs) for idxs in idx_lists]
    d = tmp_path_factory.mktemp("hyp_bigram")
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["hyp"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(str(d) + "/documents.parquet", index=False)

    got = {r.doc_id: r for r in doc_bigram_logprob(spark, str(d)).collect()}
    want = _bigram_lm_reference(texts)
    assert set(got) == set(want)
    for i, (n_bg, mean_ll) in want.items():
        assert got[i].n_bigrams == n_bg
        assert abs(got[i].mean_logprob - round(mean_ll, 6)) <= 1e-6


@given(
    # max_size 80 > WSAMPLE_K=50 so the top-k truncation boundary is
    # exercised, not just the everyone-selected regime.
    st.lists(st.integers(1, 500), min_size=1, max_size=80),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_weighted_sample_matches_reference(spark, tmp_path_factory, weights):
    """doc_weighted_sample must pick exactly the docs a pure-Python
    Efraimidis-Spirakis selection picks from the same md5 deal (same
    u, same ln(u)/w keys, same (key desc, doc_id) order)."""
    import hashlib
    import math

    import pandas as pd

    from map_reduce_spark.functions.prep import (
        WSAMPLE_K,
        WSAMPLE_SALT,
        doc_weighted_sample,
    )

    d = tmp_path_factory.mktemp("hyp_wsample")
    pd.DataFrame(
        {
            "doc_id": range(len(weights)),
            "text": ["x" * w for w in weights],
            "lang": ["en"] * len(weights),
            "source": ["hyp"] * len(weights),
            "n_chars": weights,
        }
    ).to_parquet(str(d) + "/documents.parquet", index=False)

    def key(doc_id, w):
        h = hashlib.md5(f"{doc_id}/{WSAMPLE_SALT}".encode()).hexdigest()
        u = (int(h[:8], 16) + 1) / (2**32 + 1)
        return math.log(u) / w

    want = sorted(
        ((key(i, w), i) for i, w in enumerate(weights)),
        key=lambda t: (-t[0], t[1]),
    )[:WSAMPLE_K]
    got = doc_weighted_sample(spark, str(d)).collect()
    assert [r.doc_id for r in got] == [i for _, i in want]
    for r, (k, _) in zip(got, want):
        assert abs(r.skey - round(k, 6)) <= 1e-6
        assert r.sample_rank == got.index(r) + 1
