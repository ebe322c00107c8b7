"""Reference-app analogues over the ``documents`` table.

The reference ships word-count and inverted-index as its flagship
MapReduce applications (A1 `/root/reference/src/mrapps/wc.go:22-43`,
A2 `/root/reference/src/mrapps/indexer.go:20-38`). Here they are
re-expressed as declarative DataFrame pipelines over the `documents`
fixture — tokenize → explode → hash-aggregate — the exact Spark-first
mapping called out in SURVEY.md §2.2.

The byte-faithful file-based twins (whole-file inputs, "k v" text
output) live in ``map_reduce_spark.compat``; these relational forms
are what you'd actually run at 100 TB: partial aggregation, no
per-key value materialization except the bounded doc-list in the
inverted index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_spread, load_table
from map_reduce_spark.sources.cache import session_cached

# One tokenizer, used by every documents-table query (and mirrored in
# each oracle): lowercase, split on non-letters, drop empties. The
# fixture corpus is ASCII; the compat layer uses the full Unicode
# class [^\p{L}]+ to match the reference tokenizer exactly.
TOKEN_SPLIT_RE = "[^a-z]+"


def tokens_col(col: str = "text"):
    """Array of lowercase word tokens (JVM-side, codegen'd — no UDF)."""
    return F.filter(
        F.split(F.lower(F.col(col)), TOKEN_SPLIT_RE), lambda t: F.length(t) > 0
    )


def normalized_text(col: str = "text"):
    """Lowercased text with whitespace runs collapsed to one space and
    trimmed — the key under every content fingerprint (each caller
    puts its own ``md5``/``length`` on top)."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


@session_cached
def doc_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with its token array materialized — the
    shared tokenized-corpus index, persisted per (session, corpus)
    via ``session_cached``.

    r12 (guide §2.4 — shared derived tables): ~15 registered doc
    queries each re-ran ``load_spread(documents) + tokens_col()``
    from parquet — profiled at ~10 CPU-s per pass at sf0.1 (the
    regex split IS the corpus-width work) and several queries run
    the pass 2-4x inside one plan (curation manifest, heavy-hitter
    probe diamonds). One tokenized frame per (session, corpus) is
    the in-session analogue of a pipeline materializing its
    tokenized corpus once — the same discipline as the shingle
    table (``dedup.doc_shingles``), under the same LRU byte budget.
    Row content is exactly what every call site computed inline
    (same spread partitioning, same tokenizer), so results are
    unchanged."""
    return load_spread(spark, sf_dir, "documents").withColumn(
        "toks", tokens_col()
    )


@register(
    "doc_wordcount",
    oracle_sql="""
    SELECT tok AS word, count(*) AS n
    FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
        FROM documents)
    WHERE length(tok) > 0
    GROUP BY tok
    ORDER BY n DESC, word
    """,
)
def doc_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count (reference app A1, wc.go) as explode → hash agg.

    Scale: explode multiplies rows but partial aggregation collapses
    them map-side before the single shuffle on `word`.
    """
    docs = doc_toks(spark, sf_dir)
    return (
        docs.select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
    )


@register(
    "doc_inverted_index",
    oracle_sql="""
    SELECT word,
           count(*) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_list
    FROM (
        SELECT DISTINCT doc_id, tok AS word
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
            FROM documents)
        WHERE length(tok) > 0)
    GROUP BY word
    ORDER BY word
    """,
)
def doc_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (reference app A2, indexer.go): word -> sorted doc list.

    Mirrors the reference exactly: per-document distinct words
    (indexer.go:21-25's set-dedup), then per-word sorted document
    list with a count prefix (indexer.go:36-38).

    Scale: the per-doc set-dedup is ``array_distinct`` INSIDE the row
    (the reference's in-mapper set, exactly) — zero shuffle — so the
    only exchange is the word-keyed aggregation; the earlier
    ``dropDuplicates(doc_id, word)`` shuffled every corpus token a
    second time for state the mapper already had locally. Post-explode
    pairs are unique by construction, so ``collect_list`` suffices.
    The only non-decomposable state is the per-word doc list, bounded
    by document frequency; for 100 TB you'd cap it (slice) or bucket
    by (word, doc_id range).
    """
    docs = doc_toks(spark, sf_dir)
    pairs = docs.select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("word")
    )
    return (
        pairs.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda d: d.cast("string")
                ),
            ).alias("doc_list"),
        )
        .orderBy("word")
    )


@register(
    "mr_concat_sorted_values",
    oracle_sql="""
    SELECT lang AS key,
           string_agg(v, ' ' ORDER BY v) AS joined
    FROM (
        SELECT lang, CAST(n_chars AS VARCHAR) AS v FROM documents)
    GROUP BY lang
    ORDER BY key
    """,
)
def mr_concat_sorted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted value concatenation per key — the A3 (crash/nocrash app)
    reduce semantics (/root/reference/src/mrapps/nocrash.go:38-46:
    sort values ascending, join with ' ') as a relational operator.

    collect_list + sort_array materializes per-key value lists —
    bounded here by group size; the byte-faithful file-based twin
    lives in compat/apps.py (concat_reduce).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.col("n_chars").cast("string").alias("v"))
        .groupBy(F.col("lang").alias("key"))
        .agg(
            F.concat_ws(" ", F.sort_array(F.collect_list("v"))).alias("joined")
        )
        .orderBy("key")
    )


def bigram_zip(toks, combine):
    """Array-side positional bigrams: zip(tokens, tokens[1:]) with a
    caller-supplied (a, b) -> Column combiner — no self-join, no extra
    shuffle. The greatest(size-1, 0) guard keeps the slice length legal
    for 0/1-token docs. Shared by doc_bigram_topk (plain "a b"
    strings) and the bigram-LM TF index (structs carrying the left
    token; functions/text.doc_bigram_freq).
    """
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(F.slice(toks, 1, n), F.slice(toks, 2, n), combine)


@register(
    "doc_bigram_topk",
    oracle_sql="""
    WITH toks AS (
        SELECT doc_id, tok, pos
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok,
                   generate_subscripts(string_split_regex(lower(text), '[^a-z]+'), 1) AS pos
            FROM documents)
        WHERE length(tok) > 0)
    SELECT concat(a.tok, ' ', b.tok) AS bigram, count(*) AS n
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY 1
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
)
def doc_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word bigrams: positional n-gram construction + top-k.

    Built array-side via ``bigram_zip``; the oracle uses the
    equivalent positional self-join.
    """
    toks = doc_toks(spark, sf_dir).select("toks")
    bigrams = toks.select(
        F.explode(
            bigram_zip(F.col("toks"), lambda a, b: F.concat_ws(" ", a, b))
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(50)
    )
