"""Training-data preparation operators over the ``documents`` table.

The steps between "filtered corpus" and "tokens on a training host"
that the dedup/quality family (functions/text.py, functions/dedup.py)
doesn't cover:

- ``doc_repetition_stats`` — Gopher-style within-document repetition
  signals (top-token share, top-bigram share) used as quality filters;
- ``doc_scrub_blocklist``  — blocklist-term + PII-pattern redaction
  with per-document hit accounting;
- ``doc_pack_sequences``   — deterministic fixed-token-budget packing
  of documents into training sequences, parallelized by shard.

The reference engine has no analogue (it is a two-phase MapReduce
kernel, /root/reference/src/mr); these generalize its per-record map
surface (worker.go:87) the same way the text/dedup suites do. All
three are pure built-in-expression plans — no Python UDFs — and each
has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from map_reduce_spark.operators.text_rel import TOKEN_SPLIT_RE, doc_toks, normalized_text, tokens_col
from map_reduce_spark.plans.transient import ordered_result
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_spread, load_table

# ---------------------------------------------------------------------------
# Within-document repetition (Gopher / MassiveText quality signals)
# ---------------------------------------------------------------------------

_REPETITION_SQL = """
    WITH toks AS MATERIALIZED (
        SELECT doc_id, tok, pos FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok,
                   generate_subscripts(string_split_regex(lower(text), '[^a-z]+'), 1) AS pos
            FROM documents)
        WHERE length(tok) > 0),
    sizes AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
    tok_top AS (
        SELECT doc_id, tok AS top_tok, cnt AS top_tok_n FROM (
            SELECT doc_id, tok, count(*) AS cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY count(*) DESC, tok) AS rn
            FROM toks GROUP BY doc_id, tok)
        WHERE rn = 1),
    bigrams AS MATERIALIZED (
        SELECT a.doc_id, concat(a.tok, ' ', b.tok) AS bg
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
    bg_top AS (
        SELECT doc_id, bg AS top_bigram, cnt AS top_bigram_n FROM (
            SELECT doc_id, bg, count(*) AS cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY count(*) DESC, bg) AS rn
            FROM bigrams GROUP BY doc_id, bg)
        WHERE rn = 1)
    SELECT s.doc_id, s.n_tokens,
           t.top_tok, round(t.top_tok_n * 1.0 / s.n_tokens, 6) AS top_tok_share,
           b.top_bigram,
           round(b.top_bigram_n * 1.0 / (s.n_tokens - 1), 6) AS top_bigram_share
    FROM sizes s
    JOIN tok_top t ON t.doc_id = s.doc_id
    JOIN bg_top b ON b.doc_id = s.doc_id
    WHERE s.n_tokens >= 2
    ORDER BY s.doc_id
    """


@register("doc_repetition_stats", oracle_sql=_REPETITION_SQL)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals: top-token and top-bigram share.

    The Gopher/MassiveText repetition filters ("fraction of the most
    common word", "fraction of the most common 2-gram") — documents
    dominated by one token or phrase are machine-generated or
    boilerplate and get dropped before training. Complements
    ``doc_profile``'s type_token_ratio (which sees global diversity
    but not single-phrase dominance).

    Scale: ZERO shuffles — each document's top gram depends only on
    its own text, so the whole operator is a narrow per-row transform;
    nothing leaves its input partition (the final ORDER BY is
    presentation only). The per-doc mode is computed in an
    Arrow-batched ``mapInPandas`` (one Counter per doc); the UDF
    returns raw counts and Spark derives the rounded shares so float
    semantics stay identical to the built-in path. Ties broken
    (count desc, gram asc) — tokens are ASCII lowercase, so Python,
    Java, and DuckDB string orderings agree.

    Why Python here: the pure-expression alternative
    (``doc_repetition_stats_fold`` below — sort the gram array, run
    a run-length fold with ``F.aggregate``) evaluates an interpreted
    lambda per element and pays a large one-time expression-compile;
    measured 2.4 s warm / 5.3 s cold at sf1 vs 1.85 s / ~2 s for this
    plan. The explode → groupBy(doc, gram) → top-1 window variant
    shuffles one row per corpus token — 2× slower again and
    exchange-bound at 100 TB. Parity between the two zero-shuffle
    implementations is pinned by ``tests/test_properties.py``.
    """
    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    schema = (
        "doc_id long, n_tokens long, top_tok string, top_tok_n int, "
        "top_bigram string, top_bigram_n int"
    )

    def _batch(it):
        import re
        from collections import Counter

        import pandas as pd

        pat = re.compile(TOKEN_SPLIT_RE)
        cols = ("doc_id", "n_tokens", "top_tok", "top_tok_n", "top_bigram", "top_bigram_n")
        for pdf in it:
            out: dict[str, list] = {k: [] for k in cols}
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                toks = [t for t in pat.split(text.lower()) if t]
                n = len(toks)
                if n < 2:
                    continue
                tg, tn = min(Counter(toks).items(), key=lambda kv: (-kv[1], kv[0]))
                bg, bn = min(
                    Counter(map(" ".join, zip(toks, toks[1:]))).items(),
                    key=lambda kv: (-kv[1], kv[0]),
                )
                out["doc_id"].append(doc_id)
                out["n_tokens"].append(n)
                out["top_tok"].append(tg)
                out["top_tok_n"].append(tn)
                out["top_bigram"].append(bg)
                out["top_bigram_n"].append(bn)
            yield pd.DataFrame(out)

    mid = docs.mapInPandas(_batch, schema)
    return mid.select(
        "doc_id",
        "n_tokens",
        "top_tok",
        F.round(F.col("top_tok_n") / F.col("n_tokens"), 6).alias("top_tok_share"),
        "top_bigram",
        F.round(F.col("top_bigram_n") / (F.col("n_tokens") - 1), 6).alias(
            "top_bigram_share"
        ),
    ).orderBy("doc_id")


def doc_repetition_stats_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-expression twin of ``doc_repetition_stats``: run-length
    fold over each doc's sorted gram array (no Python at all).

    Kept as the UDF-free fallback and as the parity pin for the
    registered ``mapInPandas`` path (same tokenizer constant, same
    tie-break: the array is sorted, so among equal-count runs the
    first (smallest) gram wins via strict-greater comparison).
    """
    docs = doc_toks(spark, sf_dir)
    docs = docs.filter(F.size("toks") >= 2).select("doc_id", "toks")

    bigram_arr = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ",
            F.element_at("toks", i.cast("int")),
            F.element_at("toks", (i + 1).cast("int")),
        ),
    )

    def _top_run(arr) -> Column:
        """(gram, count) of the most frequent element: sort the array,
        fold counting the current run, keep the best run seen."""
        z = F.struct(
            F.lit("").alias("best_g"),
            F.lit(0).cast("int").alias("best_n"),
            F.lit("").alias("cur_g"),
            F.lit(0).cast("int").alias("cur_n"),
        )

        def step(acc, g):
            cur_n = F.when(g == acc["cur_g"], acc["cur_n"] + 1).otherwise(
                F.lit(1).cast("int")
            )
            better = cur_n > acc["best_n"]
            return F.struct(
                F.when(better, g).otherwise(acc["best_g"]).alias("best_g"),
                F.when(better, cur_n).otherwise(acc["best_n"]).alias("best_n"),
                g.alias("cur_g"),
                cur_n.alias("cur_n"),
            )

        return F.aggregate(
            F.array_sort(arr),
            z,
            step,
            lambda acc: F.struct(
                acc["best_g"].alias("g"), acc["best_n"].alias("n")
            ),
        )

    # two-step projection so each fold is evaluated once, not once per
    # extracted field
    mid = docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        _top_run(F.col("toks")).alias("tt"),
        _top_run(bigram_arr).alias("tb"),
    )
    return mid.select(
        "doc_id",
        "n_tokens",
        F.col("tt.g").alias("top_tok"),
        F.round(F.col("tt.n") / F.col("n_tokens"), 6).alias("top_tok_share"),
        F.col("tb.g").alias("top_bigram"),
        F.round(F.col("tb.n") / (F.col("n_tokens") - 1), 6).alias("top_bigram_share"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Blocklist / PII scrubbing
# ---------------------------------------------------------------------------

# Term blocklist (policy-driven in a real pipeline; these exist in the
# fixture vocabulary so the operator demonstrably rewrites) and the two
# classic PII shapes. Patterns are chosen to mean the same thing to
# Java regex (Spark) and RE2 (DuckDB): \b word boundaries, no
# lookarounds, no backrefs.
BLOCKLIST_RE = r"\b(customer|supplier|secret)\b"
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

_SCRUB_SQL = f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{BLOCKLIST_RE}')) AS n_term_hits,
           len(regexp_extract_all(lower(text), '{EMAIL_RE}')) AS n_email_hits,
           len(regexp_extract_all(lower(text), '{IPV4_RE}')) AS n_ip_hits,
           md5(regexp_replace(regexp_replace(regexp_replace(lower(text),
                   '{EMAIL_RE}', '[EMAIL]', 'g'),
                   '{IPV4_RE}', '[IP]', 'g'),
                   '{BLOCKLIST_RE}', '[TERM]', 'g')) AS scrubbed_md5
    FROM documents
    ORDER BY doc_id
    """


@register("doc_scrub_blocklist", oracle_sql=_SCRUB_SQL)
def doc_scrub_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-term + PII-pattern redaction with hit accounting.

    The scrub step every released-data pipeline runs: emails and IPs
    are masked with typed placeholders, policy blocklist terms with
    ``[TERM]``, and per-document hit counts come out alongside so the
    pipeline can drop documents over a hit threshold instead of (or as
    well as) rewriting them. Emitted as counts + md5 of the scrubbed
    text: the hash proves byte-exact rewrite parity against the oracle
    without shipping the full text through the comparator.

    Scale: embarrassingly parallel — a narrow per-row projection, no
    shuffle at all (the ORDER BY is presentation only); regexes are
    anchored word-boundary patterns valid in both Java regex and RE2.
    PII patterns hit zero times on the synthetic fixture (its text is
    word salad) — the blocklist terms are drawn from the fixture
    vocabulary so the rewrite path is exercised for real.
    """
    docs = load_spread(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(lowered, EMAIL_RE, "[EMAIL]"), IPV4_RE, "[IP]"
        ),
        BLOCKLIST_RE,
        "[TERM]",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(lowered, F.lit(BLOCKLIST_RE)).cast("long").alias("n_term_hits"),
        F.regexp_count(lowered, F.lit(EMAIL_RE)).cast("long").alias("n_email_hits"),
        F.regexp_count(lowered, F.lit(IPV4_RE)).cast("long").alias("n_ip_hits"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Train/test decontamination
# ---------------------------------------------------------------------------

# A train-split document sharing at least this fraction of its distinct
# shingles with ANY test-split content is flagged (threshold is
# policy; 0.5 catches near-duplicates straddling the split boundary
# without firing on incidental phrase overlap).
CONTAM_RATIO = 0.5

# test split = bucket >= train% + val% under the same salt/deal as
# doc_split_assign; interpolated so the oracle can't drift from the
# Spark constants
from map_reduce_spark.functions.text import (  # noqa: E402
    SPLIT_PCT,
    SPLIT_SALT,
    split_bucket_col,
)

_TEST_BUCKET = SPLIT_PCT[0] + SPLIT_PCT[1]

_DECONTAM_SQL = f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, tok, pos FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok,
                   generate_subscripts(string_split_regex(lower(text), '[^a-z]+'), 1) AS pos
            FROM documents)
        WHERE length(tok) > 0),
    shingles AS MATERIALIZED (
        SELECT DISTINCT a.doc_id, concat(a.tok, ' ', b.tok, ' ', c.tok) AS sh
        FROM toks a
        JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
    bucketed AS MATERIALIZED (
        SELECT s.doc_id, s.sh,
               ('0x' || substr(md5(s.doc_id || '/{SPLIT_SALT}'), 1, 8))::BIGINT % 100 AS bucket
        FROM shingles s),
    test_sh AS MATERIALIZED (
        SELECT DISTINCT sh FROM bucketed WHERE bucket >= {_TEST_BUCKET})
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE sh IN (SELECT sh FROM test_sh)) AS BIGINT)
               AS n_shared,
           CASE WHEN count(*) FILTER (WHERE sh IN (SELECT sh FROM test_sh)) * 1.0
                     / count(*) >= {CONTAM_RATIO}
                THEN 1 ELSE 0 END AS contaminated
    FROM bucketed
    WHERE bucket < {_TEST_BUCKET}
    GROUP BY doc_id
    ORDER BY doc_id
    """


@register("doc_decontaminate", oracle_sql=_DECONTAM_SQL)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag train/val documents whose content leaks into the test split.

    The contamination check every eval-honest pipeline runs before
    training: for each non-test document, the fraction of its distinct
    3-gram shingles that also appear anywhere in the test split
    (``doc_split_assign``'s bucket >= 90). Composes two existing
    indexes — the session-cached shingle table and the md5 split deal
    (``split_bucket_col``, a pure function of doc_id, so no join is
    needed to bucket the shingle rows).

    Scale: the test-shingle table is DISTINCT over ~10% of corpus
    shingles (ids dropped — it is a set, the smallest artifact that
    answers membership); the train side left-joins it on the shingle
    key — one uniform shuffle, no pairwise term, counts decomposable.
    This is deliberately doc-to-SPLIT overlap, not doc-to-doc: the
    pairwise variant is ``dedup_ngram_jaccard_pairs``.
    """
    from map_reduce_spark.functions.dedup import doc_shingles
    from map_reduce_spark.functions.text import split_bucket_col

    sh = doc_shingles(spark, sf_dir).withColumn("bucket", split_bucket_col())
    test_sh = (
        sh.filter(F.col("bucket") >= 90).select("sh").distinct().withColumn("hit", F.lit(1))
    )
    from map_reduce_spark.plans.hints import merge_when_big_bytes

    ratio = F.col("n_shared") / F.col("n_shingles")
    return (
        # size-gated merge hint: test_sh is 10% of the corpus's
        # distinct shingles — corpus-proportional, never
        # broadcastable past the threshold (cached-stats hazard, see
        # dedup.dedup_minhash_lsh; gate r12, plans/hints.py)
        sh.filter(F.col("bucket") < 90)
        .join(
            merge_when_big_bytes(
                test_sh, spark, sf_dir, "documents", ("text",), factor=0.1
            ),
            "sh",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.when(ratio >= CONTAM_RATIO, F.lit(1)).otherwise(F.lit(0)).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Fixed-token-budget sequence packing
# ---------------------------------------------------------------------------

PACK_BUDGET = 256  # tokens per training sequence
PACK_SHARDS = 8  # parallel packing streams

_PACK_SQL = f"""
    WITH sized AS (
        SELECT doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {PACK_SHARDS}
                   AS shard,
               len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               t -> length(t) > 0)) AS n_tokens
        FROM documents)
    SELECT doc_id, shard, n_tokens,
           before // {PACK_BUDGET} AS seq_id,
           before % {PACK_BUDGET} AS seq_offset
    FROM (
        SELECT *,
               -- CAST: DuckDB window sum(BIGINT) yields HUGEINT, which
               -- would arrive as float64 at the comparator
               CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS before
        FROM sized)
    ORDER BY doc_id
    """


@register("doc_pack_sequences", oracle_sql=_PACK_SQL)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic packing of documents into fixed-token-budget
    training sequences.

    Assigns each document a (shard, seq_id, seq_offset): documents are
    dealt to PACK_SHARDS independent packing streams by md5(doc_id)
    (the same engine-stable deal as ``doc_split_assign``), then packed
    greedily in doc_id order — a document starts at the running token
    offset of its shard and seq_id = floor(offset / PACK_BUDGET). The
    whole layout is a pure function of (doc_id, text), so an identical
    corpus always packs identically, on any engine, at any parallelism.

    Scale: the only state is a prefix sum per shard — a window over
    PARTITION BY shard, so the sort is per-shard, not global, and
    shards scale out with the cluster (PACK_SHARDS would be ~10^4 at
    100 TB; it is 8 here to exercise multi-doc sequences on the small
    fixture). No joins, one shuffle on the shard key.
    """
    docs = doc_toks(spark, sf_dir)
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % PACK_SHARDS
    )
    sized = docs.select(
        "doc_id", shard.alias("shard"), F.size("toks").cast("long").alias("n_tokens")
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return sized.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(before / PACK_BUDGET).alias("seq_id"),
        (before % PACK_BUDGET).alias("seq_offset"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Stratified corpus sampling (mixture re-weighting)
# ---------------------------------------------------------------------------

SAMPLE_SALT = "sample-v1"  # versions the sample: bump to re-deal
# Per-language keep percentage: downsample the overrepresented
# languages, keep low-resource ones whole. (Values are workload
# parameters; 100 = keep all.)
LANG_KEEP_PCT = {"en": 40, "de": 75}
_DEFAULT_KEEP_PCT = 100


def _sample_rate_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(LANG_KEEP_PCT.items())
    )
    return f"CASE lang {whens} ELSE {_DEFAULT_KEEP_PCT} END"


@register(
    "doc_stratified_sample",
    oracle_sql=f"""
    SELECT doc_id, lang, source, bucket
    FROM (
        SELECT doc_id, lang, source,
               ('0x' || substr(md5(doc_id || '/{SAMPLE_SALT}'), 1, 8))::BIGINT % 100
                   AS bucket
        FROM documents)
    WHERE bucket < {_sample_rate_sql()}
    ORDER BY doc_id
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling by language.

    The mixture-reweighting step of corpus curation: each stratum
    (language here; any column works) keeps an exact, configured
    fraction of its documents, selected by md5(doc_id + salt) mod 100
    — the same engine-stable hash deal as ``doc_split_assign``, so the
    sample is (a) reproducible forever, (b) unchanged for old docs as
    the corpus grows (unlike ``df.sampleBy``, whose selections shift
    with partitioning and seed plumbing), and (c) a pure narrow
    filter: no shuffle, full predicate pushdown around it, trivially
    correct at 100 TB. Consistent with the split deal but salted
    differently, so sampling is independent of train/val/test.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("/", F.col("doc_id"), F.lit(SAMPLE_SALT))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = F.lit(_DEFAULT_KEEP_PCT)
    for lang, pct in sorted(LANG_KEEP_PCT.items()):
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    return (
        docs.select("doc_id", "lang", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# End-to-end curation manifest (the pipeline, composed)
# ---------------------------------------------------------------------------

from map_reduce_spark.functions.dedup import (  # noqa: E402
    JACCARD_THRESHOLD,
    SHINGLE_DF_CAP,
)

_QUALITY_MIN_TOKENS = 5  # doc_profile's 'drop' bucket boundary

_CURATION_SQL = f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, tok, pos FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok,
                   generate_subscripts(string_split_regex(lower(text), '[^a-z]+'), 1) AS pos
            FROM documents)
        WHERE length(tok) > 0),
    shingles AS MATERIALIZED (
        SELECT DISTINCT a.doc_id, concat(a.tok, ' ', b.tok, ' ', c.tok) AS sh
        FROM toks a
        JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
    rare AS MATERIALIZED (
        SELECT doc_id, sh FROM shingles
        QUALIFY count(*) OVER (PARTITION BY sh) <= {SHINGLE_DF_CAP}),
    rsizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
    rcommon AS MATERIALIZED (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
        FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY 1, 2),
    near AS MATERIALIZED (
        SELECT DISTINCT doc_b AS doc_id
        FROM rcommon
        JOIN rsizes sa ON sa.doc_id = doc_a
        JOIN rsizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}),
    buck AS MATERIALIZED (
        SELECT doc_id,
               ('0x' || substr(md5(doc_id || '/{SPLIT_SALT}'), 1, 8))::BIGINT % 100
                   AS bucket
        FROM documents),
    test_sh AS MATERIALIZED (
        SELECT DISTINCT sh FROM shingles JOIN buck USING (doc_id)
        WHERE bucket >= {_TEST_BUCKET}),
    contam AS MATERIALIZED (
        SELECT shingles.doc_id
        FROM shingles JOIN buck USING (doc_id)
        WHERE bucket < {_TEST_BUCKET}
        GROUP BY shingles.doc_id
        HAVING count(*) FILTER (WHERE sh IN (SELECT sh FROM test_sh)) * 1.0
                   / count(*) >= {CONTAM_RATIO}),
    flags AS (
        SELECT d.doc_id,
               CASE WHEN bucket < {SPLIT_PCT[0]} THEN 'train'
                    WHEN bucket < {_TEST_BUCKET} THEN 'val'
                    ELSE 'test' END AS split,
               len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               t -> length(t) > 0)) AS n_tokens,
               CASE WHEN row_number() OVER (
                        PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                        ORDER BY d.doc_id) > 1 THEN 1 ELSE 0 END AS exact_dup,
               CASE WHEN d.doc_id IN (SELECT doc_id FROM near) THEN 1 ELSE 0 END AS near_dup,
               CASE WHEN d.doc_id IN (SELECT doc_id FROM contam) THEN 1 ELSE 0 END AS contaminated
        FROM documents d JOIN buck ON buck.doc_id = d.doc_id)
    SELECT doc_id, split, n_tokens,
           CASE WHEN n_tokens < {_QUALITY_MIN_TOKENS} THEN 1 ELSE 0 END AS low_quality,
           exact_dup, near_dup, contaminated,
           CASE WHEN n_tokens < {_QUALITY_MIN_TOKENS} THEN 'drop_quality'
                WHEN exact_dup = 1 THEN 'drop_exact_dup'
                WHEN near_dup = 1 THEN 'drop_near_dup'
                WHEN contaminated = 1 THEN 'drop_contaminated'
                ELSE 'keep' END AS status
    FROM flags
    ORDER BY doc_id
    """


@register("doc_curation_manifest", oracle_sql=_CURATION_SQL)
def doc_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline END-TO-END: one manifest row per document
    with its split assignment, every stage's flag, and the final
    keep/drop verdict (first failing stage wins: quality -> exact dup
    -> near dup -> decontamination).

    This is the query a training-data team actually materializes
    before a run — the per-stage operators (``doc_profile``,
    ``dedup_exact``, ``dedup_jaccard_df_capped``,
    ``doc_decontaminate``, ``doc_split_assign``) are its audit
    breakdowns. Each stage flag is computed over the full corpus with
    the stage's standalone semantics, so this query COMPOSES the
    session-cached indexes the components already built (shingle
    table, capped shingle table) — running the full pipeline after
    its parts adds only the cheap manifest join, and at 100 TB the
    expensive artifacts (shingle index, pair set) are computed once,
    not once per stage. All joins are per-doc equi-joins on doc_id;
    nothing here adds a shuffle wider than the components' own.
    """
    from map_reduce_spark.functions.dedup import jaccard_pair_index
    from map_reduce_spark.functions.text import split_bucket_col

    docs = doc_toks(spark, sf_dir)
    w = W.partitionBy("fingerprint").orderBy("doc_id")
    base = docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        split_bucket_col().alias("bucket"),
        F.md5(normalized_text()).alias("fingerprint"),
    ).withColumn(
        "exact_dup", F.when(F.row_number().over(w) > 1, F.lit(1)).otherwise(F.lit(0))
    )
    near = (
        # the session-cached verified pair INDEX — by construction the
        # same (doc_a, doc_b) set dedup_jaccard_df_capped computes
        # (jaccard_pair_index IS that builder's projection, cached);
        # the manifest previously re-ran the whole capped verify join
        # per call (~1.5 s of its 3.0 s warm cost, r12 measured) while
        # the cluster queries already consumed the index — this was
        # the one composition site still paying the component twice.
        jaccard_pair_index(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_flag", F.lit(1))
    )
    contam = doc_decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    split = (
        F.when(F.col("bucket") < SPLIT_PCT[0], "train")
        .when(F.col("bucket") < _TEST_BUCKET, "val")
        .otherwise("test")
    )
    return (
        base.join(near, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .withColumn("near_dup", F.coalesce(F.col("near_flag"), F.lit(0)))
        .withColumn("contaminated", F.coalesce(F.col("contaminated"), F.lit(0)))
        .withColumn(
            "low_quality",
            F.when(F.col("n_tokens") < _QUALITY_MIN_TOKENS, F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn(
            "status",
            F.when(F.col("low_quality") == 1, "drop_quality")
            .when(F.col("exact_dup") == 1, "drop_exact_dup")
            .when(F.col("near_dup") == 1, "drop_near_dup")
            .when(F.col("contaminated") == 1, "drop_contaminated")
            .otherwise("keep"),
        )
        .select(
            "doc_id", split.alias("split"), "n_tokens",
            "low_quality", "exact_dup", "near_dup", "contaminated", "status",
        )
        .transform(ordered_result, "doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling
# ---------------------------------------------------------------------------

WSAMPLE_K = 50
WSAMPLE_SALT = "ws1"


@register(
    "doc_weighted_sample",
    oracle_sql=f"""
    SELECT doc_id, lang, n_chars, round(skey, 6) AS skey, sample_rank
    FROM (
        SELECT doc_id, lang, n_chars, skey,
               CAST(row_number() OVER (ORDER BY skey DESC, doc_id) AS BIGINT)
                   AS sample_rank
        FROM (
            SELECT doc_id, lang, n_chars,
                   ln((('0x' || substr(md5(doc_id || '/{WSAMPLE_SALT}'), 1, 8))::BIGINT + 1)
                      / 4294967297.0) / n_chars AS skey
            FROM documents))
    WHERE sample_rank <= {WSAMPLE_K}
    ORDER BY sample_rank
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sample of WSAMPLE_K docs —
    Efraimidis-Spirakis top-k reservoir sampling with the engine-stable
    md5 deal standing in for the random draw. Weight here is n_chars
    (in a curation stack: a quality score), so longer/better docs are
    proportionally likelier while every doc keeps a nonzero chance —
    the standard shape for quality-weighted training-data selection.

    Mechanics: each doc draws u = (md5_32(doc_id+salt)+1)/(2^32+1) in
    (0,1); the E-S key ln(u)/w makes P(doc in top-k) proportional to
    its weight, exactly as u^(1/w) would, with better float behavior.
    Determinism is the whole point: the same doc draws the same u on
    any engine, any run, any corpus shard layout — so the sample is
    reproducible AND stable under corpus growth (a new doc displaces
    at most one old member, it never reshuffles the deal; same
    property the split/stratified-sample ops build on, salt-versioned
    the same way).

    Scale: one narrow projection computes keys, then top-k by key is a
    TakeOrderedAndProject (per-partition heads + merge of k rows — no
    global sort, nothing driver-side beyond the k-row result).
    FP note: key selection compares raw doubles and ln() is a libm
    call; two engines could in principle disagree on a member whose
    key ties another within ~1 ulp — with k << n and continuous-ish
    weights the probability is negligible, and the emitted key is
    rounded to 6 for the hash compare.
    """
    docs = load_spread(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("/", F.col("doc_id"), F.lit(WSAMPLE_SALT))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(float(2**32 + 1))
    skey = F.log(u) / F.col("n_chars")
    keyed = docs.select("doc_id", "lang", "n_chars", skey.alias("skey")).orderBy(
        F.desc("skey"), F.asc("doc_id")
    ).limit(WSAMPLE_K)
    return (
        keyed.withColumn(
            "sample_rank",
            F.row_number().over(W.orderBy(F.desc("skey"), F.asc("doc_id"))).cast("long"),
        )
        .select("doc_id", "lang", "n_chars", F.round("skey", 6).alias("skey"), "sample_rank")
        .orderBy("sample_rank")
    )


SHUFFLE_SALT = "shuf-v1"  # version the permutation: bump to re-shuffle
N_SHUFFLE_SHARDS = 8


@register(
    "doc_global_shuffle",
    oracle_sql=f"""
    SELECT doc_id, shard,
           row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
               AS pos
    FROM (
        SELECT doc_id,
               md5(doc_id || '/{SHUFFLE_SALT}') AS skey,
               ('0x' || substr(md5(doc_id || '/{SHUFFLE_SALT}'), 1, 8))::BIGINT
                   % {N_SHUFFLE_SHARDS} AS shard
        FROM documents)
    ORDER BY shard, pos
    """,
)
def doc_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    (shard, position) in a pseudorandom permutation of the corpus.

    Training pipelines need the corpus in random order, reproducibly
    (same permutation on every run/engine, stable under re-execution
    after failures). The permutation key is md5(doc_id + salt) — the
    same engine-stable deal as doc_split_assign — so the order is a
    pure function of doc_id; bump SHUFFLE_SALT to re-shuffle.

    Scale: a literal global sort by the key would work but pays a
    full range-partitioned sort. Instead the hash prefix deals docs into
    shards (uniform by construction — md5 bits), and position is a
    row_number windowed PER SHARD: the only sorts the MANIFEST needs
    are within-shard, fully parallel, and shard count scales with the
    corpus. Consumers read shard files in order — exactly how sharded
    training data is laid out; the scale form writes each shard's
    rows unordered-across-shards (partitionBy(shard), sortWithin).
    The trailing global orderBy here is the repo's oracle-gate output
    convention only — a presentation sort over the manifest rows, not
    part of the permutation computation. No collect, no global
    window in the position math, one exchange on shard.
    """
    docs = load_spread(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat_ws("/", F.col("doc_id"), F.lit(SHUFFLE_SALT))).alias("skey"),
    ).withColumn(
        "shard",
        F.conv(F.substring("skey", 1, 8), 16, 10).cast("long") % N_SHUFFLE_SHARDS,
    )
    return (
        keyed.withColumn(
            "pos",
            F.row_number().over(
                W.partitionBy("shard").orderBy("skey", "doc_id")
            ).cast("long"),
        )
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


MIX_SALT = "mix-v1"  # version the mixture deal independently of split/shuffle
MIX_DENOM = 10000  # hash-deal resolution
# Target language mixture for the training corpus: rebalance the
# en-heavy fixture (~43% en) to a pinned recipe. Downsample-only
# mixing: the total budget is the largest T with every per-lang rate
# <= 1, i.e. T = min(count_l / share_l).
MIX_SHARES = {"en": 0.40, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}


def _mix_share_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {share}" for lang, share in sorted(MIX_SHARES.items())
    )
    return f"CASE lang {whens} ELSE 0.0 END"


_MIXTURE_SQL = f"""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS DOUBLE) AS cnt,
               {_mix_share_case_sql()} AS share
        FROM documents GROUP BY lang),
    budget AS (SELECT min(cnt / share) AS t FROM counts WHERE share > 0),
    rates AS (
        SELECT lang, least(1.0, t * share / cnt) AS rate
        FROM counts, budget WHERE share > 0)
    SELECT doc_id, d.lang, bucket
    FROM (
        SELECT doc_id, lang,
               ('0x' || substr(md5(doc_id || '/{MIX_SALT}'), 1, 8))::BIGINT
                   % {MIX_DENOM} AS bucket
        FROM documents) d
    JOIN rates ON d.lang = rates.lang
    WHERE bucket < floor(rate * {MIX_DENOM})
    ORDER BY doc_id
    """


@register("doc_mixture_sample", oracle_sql=_MIXTURE_SQL)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing sampler: downsample each language to hit a pinned
    target mixture (the Pile/Dolma-style recipe step).

    doc_stratified_sample applies FIXED per-stratum rates; this
    operator derives the rates FROM the data so the kept corpus hits
    target proportions exactly: budget T = min_l(count_l / share_l)
    (the largest downsample-only total), rate_l = T * share_l /
    count_l, then the same engine-stable md5 deal as the split
    assigner keeps bucket < floor(rate * denom). Deterministic,
    reproducible, and stable per doc as the corpus grows only via new
    docs (a doc's bucket never changes; rates shift with corpus
    composition by design — that is what "hit the mixture" means).

    Scale: counts reduce to a |langs|-row aggregate (map-side
    combined); the budget is a 1-row aggregate of that; both join
    back as broadcasts (bounded by the language inventory, not the
    corpus), so the corpus itself is one scan + map-side filter —
    zero corpus shuffles. FP determinism: both engines evaluate the
    identical double expression tree (min of divisions, then
    t*share/cnt), so the floor threshold is bit-identical; ties in
    the bucket comparison are integer-vs-integer.
    """
    docs = load_spread(spark, sf_dir, "documents")
    share_expr = None
    for lang, share in sorted(MIX_SHARES.items()):
        cond = F.when(F.col("lang") == lang, F.lit(float(share)))
        share_expr = cond if share_expr is None else share_expr.when(
            F.col("lang") == lang, F.lit(float(share))
        )
    share_expr = share_expr.otherwise(F.lit(0.0))

    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
        .withColumn("share", share_expr)
        .filter(F.col("share") > 0)
    )
    budget = counts.agg(F.min(F.col("cnt") / F.col("share")).alias("t"))
    rates = (
        counts.crossJoin(F.broadcast(budget))
        .withColumn(
            "rate", F.least(F.lit(1.0), F.col("t") * F.col("share") / F.col("cnt"))
        )
        .select(F.col("lang").alias("r_lang"), "rate")
    )
    dealt = docs.select(
        "doc_id",
        "lang",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("/", F.col("doc_id"), F.lit(MIX_SALT))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % MIX_DENOM
        ).alias("bucket"),
    )
    return (
        dealt.join(F.broadcast(rates), dealt.lang == F.col("r_lang"))
        .filter(F.col("bucket") < F.floor(F.col("rate") * MIX_DENOM))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    )


# RAG-prep chunking: fixed token windows with overlap. Real pipelines
# chunk at ~256-1024 BPE tokens; the fixture's docs are ~30-60 word
# tokens, so 32/8 keeps multi-chunk docs in every sf while preserving
# the identical plan shape.
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
CHUNK_STEP = CHUNK_TOKENS - CHUNK_OVERLAP

_CHUNK_SQL = f"""
    WITH toks_t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> length(t) > 0) AS toks
        FROM documents),
    start_lists AS (
        -- strided starts, plus the end-anchored final start so the
        -- tail is always covered; dedup handles the aligned case
        SELECT doc_id, toks,
               list_sort(list_distinct(list_append(
                   generate_series(1, greatest(1, len(toks) - {CHUNK_TOKENS} + 1),
                                   {CHUNK_STEP}),
                   greatest(1, len(toks) - {CHUNK_TOKENS} + 1)))) AS starts
        FROM toks_t WHERE len(toks) > 0),
    starts AS (
        SELECT doc_id, toks,
               unnest(starts) AS start,
               generate_subscripts(starts, 1) AS idx
        FROM start_lists)
    SELECT doc_id,
           CAST(idx - 1 AS BIGINT) AS chunk_id,
           array_to_string(list_slice(toks, start, start + {CHUNK_TOKENS} - 1), ' ')
               AS chunk_text,
           CAST(least({CHUNK_TOKENS}, len(toks) - start + 1) AS BIGINT) AS n_tokens
    FROM starts
    ORDER BY doc_id, chunk_id
    """


@register("doc_chunk_for_rag", oracle_sql=_CHUNK_SQL)
def doc_chunk_for_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking: split each document into fixed-size token
    windows with overlap — the retrieval-index unit between "cleaned
    corpus" and "embedded chunks".

    Chunks are CHUNK_TOKENS tokens with CHUNK_OVERLAP carried across
    consecutive chunks (stride CHUNK_STEP); a doc shorter than one
    chunk yields itself whole, and the FINAL chunk is end-anchored
    (start = len - CHUNK_TOKENS + 1) so trailing tokens are always
    covered — without the anchor, any doc whose (len - chunk) is not
    a stride multiple would lose its tail from the retrieval index
    (15% of fixture tokens, measured). Deterministic: chunk
    boundaries are a pure function of the token sequence.

    Scale: pure built-in expressions — tokenize once, generate the
    start offsets with ``sequence`` and explode; everything stays in
    whole-stage codegen with ZERO shuffles (the trailing orderBy is
    the oracle-gate presentation sort). The per-doc fan-out is
    len/stride rows, the same row-explosion a downstream embedding
    pass needs anyway. A Python-UDTF twin (the lateral-join API
    surface) is pinned row-equal in tests/test_r6_ops.py — built-ins
    win the hot path (no per-row Python), the UDTF covers the API.
    """
    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    toked = docs.select("doc_id", tokens_col().alias("toks")).filter(
        F.size("toks") > 0
    )
    last_start = F.greatest(F.lit(1), F.size("toks") - CHUNK_TOKENS + 1)
    starts_arr = F.array_sort(
        F.array_distinct(
            F.concat(
                F.sequence(F.lit(1), last_start, F.lit(CHUNK_STEP)),
                F.array(last_start),
            )
        )
    )
    exploded = toked.select(
        "doc_id", "toks", F.posexplode(starts_arr).alias("idx", "start")
    )
    return (
        exploded.select(
            "doc_id",
            F.col("idx").cast("long").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS))
            ).alias("chunk_text"),
            F.least(
                F.lit(CHUNK_TOKENS), F.size("toks") - F.col("start") + 1
            ).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


PSI_BUCKET_CHARS = 40  # equi-width n_chars buckets for the drift index


_SPLIT_DRIFT_SQL = f"""
    WITH dealt AS (
        -- the md5 split bucket computed ONCE (same expression as the
        -- doc_split_assign oracle in functions/text.py)
        SELECT n_chars // {PSI_BUCKET_CHARS} AS bucket,
               ('0x' || substr(md5(doc_id || '/{SPLIT_SALT}'), 1, 8))::BIGINT
                   % 100 AS b100
        FROM documents),
    assigned AS (
        SELECT bucket,
               CASE WHEN b100 < {SPLIT_PCT[0]} THEN 'train'
                    WHEN b100 < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'val'
                    ELSE 'test' END AS split
        FROM dealt),
    counts AS (
        SELECT bucket,
               count(*) FILTER (split = 'train') AS n_train,
               count(*) FILTER (split = 'val') AS n_val
        FROM assigned GROUP BY bucket),
    tot AS (
        SELECT sum(n_train) AS t_train, sum(n_val) AS t_val FROM counts)
    SELECT bucket,
           CAST(n_train AS BIGINT) AS n_train,
           CAST(n_val AS BIGINT) AS n_val,
           round((n_train * 1.0 / t_train - n_val * 1.0 / t_val)
                 * ln((n_train * 1.0 / t_train) / (n_val * 1.0 / t_val)), 6)
               AS psi_term
    FROM counts, tot
    WHERE n_train > 0 AND n_val > 0
    ORDER BY bucket
    """


@register("quality_split_drift", oracle_sql=_SPLIT_DRIFT_SQL)
def quality_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index (PSI) terms between the train and
    val splits over the document-length distribution — the
    data-quality check that a split (or an incoming refresh) is
    distributionally consistent with what a model trained on.

    Reuses the md5 split deal (``split_bucket_col``) so the drift is
    measured on exactly the splits the assigner produces. Buckets are
    equi-width in n_chars; terms (p - q) * ln(p / q) are emitted per
    bucket (sum = the headline PSI; per-bucket terms localize WHERE
    the drift is). Buckets empty on either side are excluded — the
    standard convention shy of smoothing, documented and mirrored in
    the oracle.

    Scale: one scan + a bucket-grain aggregate (map-side combined to
    O(buckets) rows), two broadcast-sized totals, zero corpus
    shuffles beyond the one aggregate exchange. FP determinism: both
    engines evaluate the identical double expression tree (shares,
    ln of their ratio), rounded at the end.
    """
    # load_table, not load_spread: the per-row work (one md5 + a
    # division) doesn't justify a full-corpus repartition Exchange —
    # the only shuffle is the bucket-grain aggregate, as claimed.
    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / PSI_BUCKET_CHARS).cast("long").alias("bucket"),
        split_bucket_col().alias("b100"),
    )
    assigned = docs.select(
        "bucket",
        F.when(F.col("b100") < SPLIT_PCT[0], "train")
        .when(F.col("b100") < SPLIT_PCT[0] + SPLIT_PCT[1], "val")
        .otherwise("test")
        .alias("split"),
    )
    counts = assigned.groupBy("bucket").agg(
        F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
        F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
    )
    tot = counts.agg(
        F.sum("n_train").alias("t_train"), F.sum("n_val").alias("t_val")
    )
    p = F.col("n_train") * 1.0 / F.col("t_train")
    q = F.col("n_val") * 1.0 / F.col("t_val")
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter((F.col("n_train") > 0) & (F.col("n_val") > 0))
        .select(
            "bucket",
            "n_train",
            "n_val",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
        .orderBy("bucket")
    )


N_SHARDS = 8  # rendezvous shard count for the registered assignment


def rendezvous_shard_col(key: F.Column, n_shards: int) -> F.Column:
    """Highest-random-weight (rendezvous) shard id for ``key``:
    argmax over shards s of md5(key || ':' || s). Pure built-in
    expressions, engine-portable (md5 of identical bytes is identical
    everywhere)."""
    scores = F.array(
        *[
            F.struct(
                F.md5(F.concat(key.cast("string"), F.lit(f":{s}"))).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    return F.array_max(scores)["s"]


@register(
    "doc_shard_rendezvous",
    oracle_sql=f"""
    WITH scored AS (
        SELECT doc_id,
               (SELECT s FROM (
                    SELECT unnest(range({N_SHARDS})) AS s,
                           md5(doc_id || ':' || unnest(range({N_SHARDS}))) AS h)
                ORDER BY h DESC, s DESC LIMIT 1) AS shard
        FROM documents)
    SELECT shard,
           count(*) AS n_docs,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM scored
    GROUP BY shard
    ORDER BY shard
    """,
)
def doc_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment of the
    corpus — the consistent-placement upgrade of the reference's
    FNV-mod-N partitioning (/root/reference/src/mr/worker.go:32-36):
    mod-N reassigns ~(N-1)/N of all keys when a shard is added, HRW
    reassigns exactly the ~1/(N+1) that move to the new shard (the
    minimal-movement property, pinned by
    tests/test_r7_ops.py::test_rendezvous_minimal_movement). That is
    the property that makes shard-count changes survivable for a
    100 TB corpus laid out by shard: a resize touches only the moved
    fraction instead of rewriting everything.

    Plan: one narrow projection computing N_SHARDS md5s per row inside
    whole-stage codegen (no UDF, no shuffle until the shard-level
    count aggregate); the registered result is the per-shard census
    (count + key extent), which is what a placement audit reads.
    Ties on the hash are broken toward the higher shard id on BOTH
    engines (array_max compares (h, s) structs lexicographically;
    the oracle orders by h DESC, s DESC) — unreachable in practice
    (md5 collisions) but stated so the contract is total.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = docs.select(
        "doc_id",
        rendezvous_shard_col(F.col("doc_id"), N_SHARDS).alias("shard"),
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )
