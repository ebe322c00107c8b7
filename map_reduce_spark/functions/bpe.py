"""Real byte-pair-encoding tokenization over the documents corpus.

``doc_profile`` counts BPE-ish pre-tokens with a regex — the cheap
budget signal. This module is the real thing: TRAIN a BPE merge table
on the corpus, then TOKENIZE every document with it, reporting exact
piece counts (what a token-budget pipeline actually bills against).

Scale design (the sentencepiece/HF-trainer architecture, stated in
Spark terms): BPE training never needs the corpus — it needs the
WORD-FREQUENCY TABLE, which is vocabulary-bounded (Zipf), and here
additionally hard-capped at BPE_MAX_WORD_TYPES by (count, word) rank.
So the corpus-sized work is exactly ONE distributed tokenize+groupBy
scan; the capped word table is a bounded collect (same sanctioned
shape as the IVF/PQ training collects, similarity.py) feeding the
classic in-memory pair-merge loop; and ENCODING is vocab-bounded too:
only DISTINCT words are encoded (Arrow-batched mapInPandas over the
word table with the tiny merge list in the closure), then piece
counts join back to per-(doc, word) counts through a broadcast — the
corpus is never touched by Python row-at-a-time code.

Not SQL-expressible (the merge loop is iterative with data-dependent
ranks), so the registered query is rows-only; correctness is pinned
by a pytest differential against an independent naive implementation
(tests/test_bpe.py), the same strategy as the compat MR layer.

Reference lineage: the wc app (/root/reference/src/mrapps/wc.go)
counts words; this trains the subword vocabulary those counts feed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.operators.text_rel import doc_toks, tokens_col
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_spread, session_memo

BPE_N_MERGES = 64
# Hard bound on the trainer's input: top word types by (count DESC,
# word ASC). The Zipf tail this drops carries negligible pair mass;
# the cap is what makes the training collect BOUNDED by construction
# (not by corpus luck) at any corpus size.
BPE_MAX_WORD_TYPES = 65_536
EOW = "</w>"  # end-of-word sentinel, standard BPE


def train_merges(word_counts: list[tuple[str, int]], n_merges: int = BPE_N_MERGES):
    """Classic BPE trainer: repeatedly merge the most frequent adjacent
    symbol pair (ties: larger count first, then lexicographic (left,
    right) ASC — fully deterministic). Incremental pair-count updates;
    the naive recount-from-scratch twin in tests/test_bpe.py is the
    differential oracle for this exact loop.

    Returns [(left, right), ...] in merge order.
    """
    words = {w: list(w) + [EOW] for w, _ in word_counts}
    counts = dict(word_counts)
    pair_counts: dict[tuple[str, str], int] = {}
    for w, syms in words.items():
        c = counts[w]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = None
        for pair, c in pair_counts.items():
            if c <= 0:
                continue
            key = (-c, pair)
            if best is None or key < best[0]:
                best = (key, pair)
        if best is None:
            break
        left, right = best[1]
        merges.append((left, right))
        merged = left + right
        for w, syms in words.items():
            c = counts[w]
            i = 0
            while i < len(syms) - 1:
                if syms[i] == left and syms[i + 1] == right:
                    if i > 0:
                        pair_counts[(syms[i - 1], left)] -= c
                        pair_counts[(syms[i - 1], merged)] = (
                            pair_counts.get((syms[i - 1], merged), 0) + c
                        )
                    if i + 2 < len(syms):
                        pair_counts[(right, syms[i + 2])] -= c
                        pair_counts[(merged, syms[i + 2])] = (
                            pair_counts.get((merged, syms[i + 2]), 0) + c
                        )
                    syms[i : i + 2] = [merged]
                else:
                    i += 1
        pair_counts[(left, right)] = 0
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode: repeatedly apply the lowest-rank applicable
    merge (the standard GPT-2-style encoder loop)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


# ``session_memo``, not ``session_cached``: the trained merge table is
# a tuple, not a persistable DataFrame.
@session_memo
def bpe_merge_list(spark: SparkSession, sf_dir: str) -> tuple[tuple[str, str], ...]:
    """Train (once per session+corpus) and return the merge table as a
    plain tuple — small enough to live in closures (BPE_N_MERGES
    entries). The corpus-sized work is the one tokenize+count scan;
    the collect is bounded by BPE_MAX_WORD_TYPES."""
    wc = (
        doc_toks(spark, sf_dir).select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(BPE_MAX_WORD_TYPES)
        .collect()
    )
    return tuple(train_merges([(r.word, r.cnt) for r in wc]))


@register("doc_bpe_tokens", oracle_sql=None)
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document EXACT BPE piece counts under a corpus-trained
    merge table: (doc_id, n_tokens, n_bpe_tokens), n_bpe_tokens =
    sum over the doc's words of trained-BPE piece counts.

    Rows-only (iterative training is not SQL-expressible); the
    trainer, encoder, and this end-to-end count are differential-
    tested against independent naive implementations in
    tests/test_bpe.py. Deferred builder: training's bounded collect
    fires on first real use, like the ANN index builders.

    Scale: one corpus scan for word counts (train), one for
    per-(doc, word) counts (apply); Python touches only the DISTINCT
    word table (vocab-bounded mapInPandas with the merge list in the
    closure); piece counts re-join the corpus through a broadcast.
    """
    from map_reduce_spark.plans.deferred import deferred

    schema = "doc_id bigint, n_tokens bigint, n_bpe_tokens bigint"

    def build() -> DataFrame:
        merges = bpe_merge_list(spark, sf_dir)
        ranks = {pair: i for i, pair in enumerate(merges)}

        def encode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                yield pd.DataFrame(
                    {
                        "word": pdf["word"],
                        "n_pieces": [
                            len(encode_word(w, ranks)) for w in pdf["word"]
                        ],
                    }
                )

        doc_words = (
            doc_toks(spark, sf_dir)
            .select("doc_id", F.explode("toks").alias("word"))
            .groupBy("doc_id", "word")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        word_pieces = (
            doc_words.select("word")
            .distinct()
            .mapInPandas(encode_batches, "word string, n_pieces long")
        )
        # NO forced broadcast on word_pieces: it is vocab-bounded on
        # natural corpora (Zipf) but grows LINEARLY on an adversarial
        # all-unique-words corpus — the forced-broadcast OOM trap the
        # plan audits exist to catch. AQE sees the actual post-encode
        # size at runtime and broadcasts exactly when it is small.
        return (
            doc_words.join(word_pieces, "word")
            .groupBy("doc_id")
            .agg(
                F.sum("cnt").alias("n_tokens"),
                F.sum(F.col("cnt") * F.col("n_pieces")).alias("n_bpe_tokens"),
            )
            .orderBy("doc_id")
        )

    return deferred(spark, schema, build)
