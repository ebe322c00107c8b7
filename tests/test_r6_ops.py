"""Property tests for the round-6 additions: the training-order
shuffle manifest, the cosine range search, and the z-score flagger.

Value-level correctness is covered by the DuckDB oracle gate
(tools/check_oracle.py); these pin the structural invariants the
oracle hash alone doesn't state explicitly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_spark.registry import load_all


def test_global_shuffle_is_a_permutation(spark, sf_dir):
    """Every doc appears exactly once; per-shard positions are the
    contiguous range 1..n_shard (no gaps, no duplicates). Coverage is
    checked against the DOCUMENTS table, not the operator's own
    output, so a silently-dropping builder fails."""
    from map_reduce_spark.sources import load_table

    out = load_all()["doc_global_shuffle"].builder(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
    per_shard = (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("pos").alias("mn"),
            F.max("pos").alias("mx"),
            F.countDistinct("pos").alias("nd"),
        )
        .collect()
    )
    assert per_shard, "no shards produced"
    for row in per_shard:
        assert (row.mn, row.mx, row.nd) == (1, row.n, row.n), row


def test_global_shuffle_is_deterministic(spark, sf_dir):
    a = load_all()["doc_global_shuffle"].builder(spark, sf_dir).collect()
    b = load_all()["doc_global_shuffle"].builder(spark, sf_dir).collect()
    assert a == b


def test_range_search_agrees_with_bruteforce(spark, sf_dir):
    """Range results respect the floor, and every brute-force top-k
    neighbor scoring >= tau shows up in the range result (the two
    operators share probes, so top-k ∩ above-floor ⊆ range)."""
    from map_reduce_spark.functions.similarity import RANGE_TAU

    rng = load_all()["sim_range_search"].builder(spark, sf_dir)
    rows = rng.collect()
    assert all(r.score >= RANGE_TAU for r in rows)
    got = {(r.probe_id, r.neighbor_id) for r in rows}
    knn = load_all()["sim_knn_bruteforce"].builder(spark, sf_dir).collect()
    expected = {(r.probe_id, r.neighbor_id) for r in knn if r.score >= RANGE_TAU}
    assert expected <= got


def test_anomaly_zscore_flags_only_high_tail(spark, sf_dir):
    from map_reduce_spark.operators.temporal import Z_THRESHOLD

    out = load_all()["events_anomaly_zscore"].builder(spark, sf_dir).collect()
    assert out, "fixture should contain at least one 3-sigma event"
    assert all(r.z >= Z_THRESHOLD for r in out)


def test_q21ish_decorrelation_matches_literal_joins(spark, sf_dir):
    """The registered aggregation formulation must equal the literal
    EXISTS (left-semi) / NOT EXISTS (left-anti) plan the oracle SQL
    states — proving the decorrelation on the live fixture, not just
    at the two oracle-checked scales."""
    from pyspark.sql import functions as F
    from map_reduce_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").alias("l3")
    exists = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    not_exists = exists.alias("l1").join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    supplier = load_table(spark, sf_dir, "supplier")
    literal = (
        not_exists.groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "n_orders")
        .orderBy(F.desc("n_orders"), "s_name")
        .limit(20)
    )
    registered = load_all()["q21ish_sole_return_suppliers"].builder(spark, sf_dir)
    assert registered.collect() == literal.collect()


def test_mixture_sample_hits_target_proportions(spark, sf_dir):
    """The kept corpus's language proportions must track MIX_SHARES
    to within hash-deal binomial noise, and the minimizing language
    must be kept (near-)fully — the downsample-only budget contract."""
    from map_reduce_spark.functions.prep import MIX_SHARES

    from map_reduce_spark.sources import load_table

    docs = load_all()["doc_mixture_sample"].builder(spark, sf_dir).collect()
    kept = {}
    for r in docs:
        kept[r.lang] = kept.get(r.lang, 0) + 1
    total = sum(kept.values())
    assert set(kept) <= set(MIX_SHARES)
    for lang, share in MIX_SHARES.items():
        got = kept.get(lang, 0) / total
        # 4-sigma binomial tolerance at the fixture's corpus size
        tol = 4 * (share * (1 - share) / total) ** 0.5 + 1 / total
        assert abs(got - share) <= tol, (lang, got, share, tol)
    # Downsample-only contract: the budget-minimizing language (rate
    # pinned to 1.0) must be kept in full.
    corpus = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    arg_min = min(MIX_SHARES, key=lambda l: corpus[l] / MIX_SHARES[l])
    assert kept[arg_min] == corpus[arg_min], (arg_min, kept, corpus)


def test_range_search_probe_blocks_stay_balanced(spark, tmp_path, monkeypatch):
    """Regression pin for the probe-block deal: probe ids are all
    multiples of PROBE_MOD, so dealing by ``vec_id % nb_p`` would
    collapse probes into the blocks divisible by gcd(PROBE_MOD, nb_p).
    With a shrunken block cap forcing nb_p > 1, every probe block must
    be non-empty and within 2x of the ideal share, and the result must
    still match the brute-force range set."""
    import numpy as np
    import pandas as pd

    from map_reduce_spark.functions import similarity as S

    rng = np.random.default_rng(7)
    n = 1000
    vecs = rng.normal(size=(n, 8)).round(3)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [v.tolist() for v in vecs],
            "label": ["x"] * n,
        }
    )
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/embeddings.parquet")

    monkeypatch.setattr(S, "GEMM_MAX_BLOCK", 4)
    df = S.sim_range_search(spark, sf_dir)
    rows = df.collect()

    # ground truth: exact numpy range search over the same data
    probes = np.arange(0, n, S.PROBE_MOD)
    P = vecs[probes] / np.linalg.norm(vecs[probes], axis=1, keepdims=True)
    C = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    Sc = P @ C.T
    expected = {
        (int(probes[i]), int(j))
        for i, j in zip(*np.nonzero(Sc >= S.RANGE_TAU))
        if probes[i] != j
    }
    assert {(r.probe_id, r.neighbor_id) for r in rows} == expected

    # block balance under the shrunken cap: nb_p = ceil(10/4) = 3
    n_probes = len(probes)
    nb_p = -(-n_probes // 4)
    assert nb_p > 1
    per_block = {}
    for p in probes:
        per_block[(p // S.PROBE_MOD) % nb_p] = per_block.get((p // S.PROBE_MOD) % nb_p, 0) + 1
    assert len(per_block) == nb_p, "a probe block is empty"
    ideal = n_probes / nb_p
    assert max(per_block.values()) <= 2 * ideal


def test_chunking_udtf_twin_matches_builtin_plan(spark, sf_dir):
    """Python-UDTF lateral-join twin of doc_chunk_for_rag: same chunk
    boundaries from imperative Python, row-equal with the registered
    built-in-expression plan. The built-ins own the hot path (no
    per-row Python); this pins the UDTF API surface end-to-end."""
    import re

    from pyspark.sql.functions import udtf

    from map_reduce_spark.functions.prep import (
        CHUNK_STEP,
        CHUNK_TOKENS,
    )
    from map_reduce_spark.operators.text_rel import TOKEN_SPLIT_RE

    @udtf(returnType="chunk_id bigint, chunk_text string, n_tokens bigint")
    class ChunkDoc:
        def eval(self, text: str):
            toks = [t for t in re.split(TOKEN_SPLIT_RE, text.lower()) if t]
            if not toks:
                return
            last_start = max(1, len(toks) - CHUNK_TOKENS + 1)
            starts = list(range(1, last_start + 1, CHUNK_STEP))
            if starts[-1] != last_start:
                starts.append(last_start)  # end-anchored final chunk
            for cid, start in enumerate(starts):
                window = toks[start - 1 : start - 1 + CHUNK_TOKENS]
                yield cid, " ".join(window), len(window)

    spark.udtf.register("chunk_doc", ChunkDoc)
    load_all()  # ensure fixture tables registerable
    from map_reduce_spark.sources import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf_src")
    via_udtf = spark.sql(
        """SELECT doc_id, c.chunk_id, c.chunk_text, c.n_tokens
           FROM docs_udtf_src, LATERAL chunk_doc(text) AS c
           ORDER BY doc_id, chunk_id"""
    ).collect()
    builtin = load_all()["doc_chunk_for_rag"].builder(spark, sf_dir).collect()
    assert [tuple(r) for r in via_udtf] == [tuple(r) for r in builtin]


def test_chunking_covers_every_token(spark, sf_dir):
    """Tail-coverage pin: for every doc, the final (end-anchored)
    chunk must end exactly at the doc's last token — the regression
    that motivated the anchor dropped up to stride-1 trailing tokens
    (15% of fixture tokens) from the retrieval index."""
    import re

    from map_reduce_spark.operators.text_rel import TOKEN_SPLIT_RE
    from map_reduce_spark.sources import load_table

    chunks = load_all()["doc_chunk_for_rag"].builder(spark, sf_dir).collect()
    last_chunk = {}
    for r in chunks:
        prev = last_chunk.get(r.doc_id)
        if prev is None or r.chunk_id > prev.chunk_id:
            last_chunk[r.doc_id] = r
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    pat = re.compile(TOKEN_SPLIT_RE)
    checked = 0
    for d in docs:
        toks = [t for t in pat.split(d.text.lower()) if t]
        if not toks:
            continue
        lc = last_chunk[d.doc_id]
        assert lc.chunk_text.split(" ")[-1] == toks[-1], (d.doc_id, lc)
        checked += 1
    assert checked > 0


def test_fuzzy_qgram_blocking_zero_miss_property(spark, tmp_path):
    """Property check of the q-gram count-filter certificate beyond
    the shipped fixture: on a random corpus of short strings (min
    length 7, tight alphabet so edit-close pairs actually occur), the
    blocked plan must find EXACTLY the pairs an exact all-pairs
    levenshtein scan finds."""
    import itertools
    import random

    import pandas as pd

    from map_reduce_spark.operators.relational3 import (
        FUZZY_MAX_DIST,
        fuzzy_join_part_names,
    )

    rng = random.Random(17)
    names = set()
    while len(names) < 60:
        base = "".join(rng.choice("abc") for _ in range(rng.randint(8, 11)))
        names.add(base)
        # planted near-misses: one substitution (same length) AND one
        # deletion (cross-length — the q-gram bound's harder case,
        # where the guarantee depends on max(len) of the pair)
        mut = list(base)
        mut[rng.randrange(len(mut))] = rng.choice("abc")
        names.add("".join(mut))
        dele = base[:3] + base[4:]
        if len(dele) >= 7:
            names.add(dele)
    names = sorted(names)

    pd.DataFrame(
        {
            "p_partkey": range(len(names)),
            "p_name": names,
            "p_brand": ["Brand#1"] * len(names),
            "p_type": ["SMALL"] * len(names),
            "p_size": [1] * len(names),
            "p_retailprice": [1.0] * len(names),
        }
    ).to_parquet(f"{tmp_path}/part.parquet")

    got = {
        (r.name_a, r.name_b, r.dist)
        for r in fuzzy_join_part_names(spark, str(tmp_path)).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expected = {
        (a, b, lev(a, b))
        for a, b in itertools.combinations(names, 2)
        if lev(a, b) <= FUZZY_MAX_DIST
    }
    assert expected, "corpus should contain close pairs"
    assert got == expected


def test_retrieval_surfaces_dedup_near_duplicates(spark, sf_dir):
    """Cross-operator consistency: when a probe document has a planted
    near-duplicate (per the n-gram Jaccard dedup operator at >= 0.9),
    the retrieval engine's top-k for that probe's chunks must include
    a chunk of the duplicate document — two independent
    implementations (shingle Jaccard vs TF-IDF cosine over chunk
    windows) agreeing on what "nearly the same text" means."""
    from map_reduce_spark.functions.retrieval import PROBE_DOC_MOD

    pairs = load_all()["dedup_ngram_jaccard_pairs"].builder(spark, sf_dir).collect()
    dup_of = {}
    for r in pairs:
        if r.jaccard >= 0.9:
            dup_of.setdefault(r.doc_a, set()).add(r.doc_b)
            dup_of.setdefault(r.doc_b, set()).add(r.doc_a)
    probe_docs = {d for d in dup_of if d % PROBE_DOC_MOD == 0}
    assert probe_docs, "fixture should plant near-dups on probe docs"

    hits = load_all()["rag_chunk_tfidf_search"].builder(spark, sf_dir).collect()
    top_docs = {}
    for r in hits:
        top_docs.setdefault(r.probe_uid // 10000, set()).add(r.cand_uid // 10000)
    found = sum(
        1 for d in probe_docs if top_docs.get(d, set()) & dup_of[d]
    )
    # Chunk-level TF-IDF over the fixture's ~31-token vocabulary is
    # weakly discriminative, so borderline (~0.9) pairs may lose top-5
    # slots to competing word salad — require a MAJORITY at >=0.9 and
    # be strict for the unambiguous >=0.97 pairs below.
    assert 2 * found >= len(probe_docs), (found, len(probe_docs), probe_docs)

    strict = {}
    for r in pairs:
        if r.jaccard >= 0.97:
            strict.setdefault(r.doc_a, set()).add(r.doc_b)
            strict.setdefault(r.doc_b, set()).add(r.doc_a)
    strict_probes = {d for d in strict if d % PROBE_DOC_MOD == 0}
    assert strict_probes, "fixture should plant a high-jaccard probe pair"
    for d in strict_probes:
        assert top_docs.get(d, set()) & strict[d], (d, strict[d], top_docs.get(d))
