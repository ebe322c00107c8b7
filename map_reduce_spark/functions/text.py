"""Text-analysis operators for a training-data pipeline, over the
``documents`` table: language-ID, quality scoring, token statistics,
document fingerprinting.

These generalize the reference's text apps (wc/indexer,
/root/reference/src/mrapps/wc.go, indexer.go) to the operations an
LLM-data curation pipeline runs at 100 TB. Everything is built-in
``pyspark.sql.functions`` expressions (whole-stage codegen, zero
Python UDFs), so each query is a scan → project → (optional agg)
with full pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.operators.text_rel import doc_toks, normalized_text
from map_reduce_spark.plans.transient import ordered_result, transient_persist
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_spread, load_table, session_cached

# Tiny per-language stopword lists for the n-gram-free heuristic
# language identifier. Deliberately small + deterministic — the point
# is the *operator shape* (vectorized membership counting + argmax),
# not linguistic accuracy.
# GPT-2-style pre-tokenizer pattern, reduced to constructs whose
# semantics are identical in Java regex (Spark) and RE2 (DuckDB):
# contraction suffixes, space-prefixed letter runs, digit runs,
# punctuation runs, residual whitespace. The match COUNT approximates
# the BPE token count a real tokenizer would produce (each pre-token
# splits into >=1 BPE tokens), which is the cheap budget signal a
# curation pipeline needs before paying for real tokenization.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans"],
}
LANG_ORDER = ["en", "es", "de", "fr"]  # tie-break priority


def _hits(lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(F.col("toks"), lambda t: t.isin(*words)))


def _sql_hits(lang: str) -> str:
    inlist = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, t -> t IN ({inlist})))"


def _sql_tokens_cte() -> str:
    return """
    WITH toks_t AS (
        SELECT *, list_filter(string_split_regex(lower(text), '[^a-z]+'),
                              t -> length(t) > 0) AS toks
        FROM documents)
    """


@register(
    "doc_profile",
    oracle_sql=_sql_tokens_cte()
    + f"""
    SELECT doc_id,
           CASE
             WHEN en_hits = 0 AND es_hits = 0 AND de_hits = 0 AND fr_hits = 0 THEN 'und'
             WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
             WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
             WHEN de_hits >= fr_hits THEN 'de'
             ELSE 'fr'
           END AS pred_lang,
           n_tokens,
           n_bpe_tokens,
           n_unique_tokens,
           n_chars_actual,
           round(CASE WHEN n_tokens = 0 THEN 0.0
                      ELSE total_tok_len * 1.0 / n_tokens END, 4) AS avg_token_len,
           round(CASE WHEN n_tokens = 0 THEN 0.0
                      ELSE n_unique_tokens * 1.0 / n_tokens END, 4) AS type_token_ratio,
           en_hits AS stop_hits,
           round(CASE WHEN n_tokens = 0 THEN 0.0
                      ELSE en_hits * 1.0 / n_tokens END, 4) AS stop_ratio,
           CASE WHEN n_tokens >= 20
                     AND (CASE WHEN n_tokens = 0 THEN 0.0
                               ELSE en_hits * 1.0 / n_tokens END) >= 0.05 THEN 'keep'
                WHEN n_tokens >= 5 THEN 'review'
                ELSE 'drop' END AS quality_bucket
    FROM (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN.replace("'", "''")}')) AS n_bpe_tokens,
               len(list_distinct(toks)) AS n_unique_tokens,
               length(text) AS n_chars_actual,
               coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS total_tok_len,
               {_sql_hits('en')} AS en_hits,
               {_sql_hits('es')} AS es_hits,
               {_sql_hits('de')} AS de_hits,
               {_sql_hits('fr')} AS fr_hits
        FROM toks_t)
    ORDER BY doc_id
    """,
)
def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused per-document curation profile: language ID + token
    statistics + quality gate, all computed in ONE scan.

    Fuses the r1 queries ``doc_langid`` / ``doc_token_stats`` /
    ``doc_quality_score`` into one registered query (the component
    expressions are unchanged; ``langid_pred_col`` below is the
    language-ID expression). Fusing is the scale-correct
    shape: a 100 TB curation pass computes every cheap per-doc signal
    in a single narrow projection over the ingest scan — one pass,
    zero shuffles — instead of re-reading the corpus once per signal.
    """
    docs = doc_toks(spark, sf_dir)
    n_tokens = F.size("toks")
    n_unique = F.size(F.array_distinct("toks"))
    total_len = F.aggregate(F.col("toks"), F.lit(0), lambda acc, t: acc + F.length(t))
    stop_hits = _hits("en")
    stop_ratio = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        stop_hits * F.lit(1.0) / n_tokens
    )
    bucket = (
        F.when((n_tokens >= 20) & (stop_ratio >= 0.05), "keep")
        .when(n_tokens >= 5, "review")
        .otherwise("drop")
    )
    return docs.select(
        "doc_id",
        langid_pred_col().alias("pred_lang"),
        n_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ISH_PATTERN), F.lit(0)))
        .alias("n_bpe_tokens"),
        n_unique.alias("n_unique_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(
            F.when(n_tokens == 0, F.lit(0.0)).otherwise(total_len * F.lit(1.0) / n_tokens),
            4,
        ).alias("avg_token_len"),
        F.round(
            F.when(n_tokens == 0, F.lit(0.0)).otherwise(n_unique * F.lit(1.0) / n_tokens),
            4,
        ).alias("type_token_ratio"),
        stop_hits.alias("stop_hits"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        bucket.alias("quality_bucket"),
    ).orderBy("doc_id")


def langid_pred_col() -> Column:
    """Heuristic language-ID expression (stopword-hit argmax with a
    deterministic tie-break order) over a materialized ``toks`` column."""
    c = {lang: _hits(lang) for lang in LANG_ORDER}
    return (
        F.when((c["en"] == 0) & (c["es"] == 0) & (c["de"] == 0) & (c["fr"] == 0), "und")
        .when((c["en"] >= c["es"]) & (c["en"] >= c["de"]) & (c["en"] >= c["fr"]), "en")
        .when((c["es"] >= c["de"]) & (c["es"] >= c["fr"]), "es")
        .when(c["de"] >= c["fr"], "de")
        .otherwise("fr")
    )


@register(
    "doc_fingerprint",
    oracle_sql="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_len
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase text.

    The exact-dedup key generator — deterministic across engines and
    runs, usable as a shuffle/bucketing key at any scale.
    """
    docs = load_spread(spark, sf_dir, "documents")
    norm = normalized_text()
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    ).orderBy("doc_id")


TFIDF_TOP_K = 5


@session_cached
def doc_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, tf) term-frequency table, persisted per
    (session, corpus) via ``session_cached``.

    The TF table is the base index of the lexical family: the TF-IDF
    query's plan is a diamond (tf -> df aggregate, then tf JOIN df)
    that would otherwise re-run the explode + hash agg once per arm —
    measured ~2x the query's cost at sf1. One explode + map-side
    combined count; shuffle volume is distinct (doc, tok) pairs, not
    the raw token stream.
    """
    docs = doc_toks(spark, sf_dir)
    return (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "doc_tfidf_top_terms",
    oracle_sql=_sql_tokens_cte()
    + f"""
    , tf AS MATERIALIZED (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS tok FROM toks_t)
        GROUP BY doc_id, tok),
    df AS MATERIALIZED (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, rank, tok, tf, df, tfidf FROM (
        SELECT tf.doc_id, tf.tok, tf.tf, df.df,
               round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln(n.n_docs * 1.0 / df.df) DESC, tf.tok
               ) AS rank
        FROM tf JOIN df USING (tok) CROSS JOIN n)
    WHERE rank <= {TFIDF_TOP_K}
    ORDER BY doc_id, rank
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_K} most distinctive terms per document by TF-IDF.

    The classic content-signature operator: term frequency from one
    explode + hash agg, document frequency from a second agg over the
    (doc, term) pairs, corpus size as a broadcast 1-row scalar, then a
    per-doc top-k window. Every aggregate is decomposable (map-side
    combined) and the only data-sized shuffles are on term/doc keys —
    at 100 TB the df table is vocabulary-sized and the window is a
    per-doc top-k, never a global sort. Ties break on the term so
    output is deterministic.
    """
    docs = load_spread(spark, sf_dir, "documents")
    tf = doc_term_freq(spark, sf_dir)
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df"))
    # Per-doc top-k as a HASH AGGREGATE (sort_array over the doc's own
    # scored terms, sliced), not a row_number window: the window form
    # plans a sort-based exchange over every (doc, term) row, while
    # this shape partial-aggregates map-side and only shuffles per-doc
    # top candidates' state — measured ~30% faster at sf1, identical
    # ordering (struct compare: -score asc == score desc, then tok
    # asc; fp negation is exact). Per-group state is bounded by a
    # single document's vocabulary.
    top = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn("s", score)
        .groupBy("doc_id")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("s")).alias("ns"), "tok", "tf", "df",
                            F.col("s").alias("score_raw"),
                        )
                    )
                ),
                1,
                TFIDF_TOP_K,
            ).alias("top")
        )
    )
    return (
        top.select("doc_id", F.posexplode("top").alias("pos0", "t"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("rank"),
            F.col("t.tok").alias("tok"),
            F.col("t.tf").alias("tf"),
            F.col("t.df").alias("df"),
            F.round(F.col("t.score_raw"), 6).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


SPLIT_SALT = "v1"  # version the assignment: bump to re-deal every doc
SPLIT_PCT = (80, 10, 10)  # train / val / test


def split_bucket_col() -> Column:
    """The md5(doc_id + salt) mod 100 split bucket — a pure function of
    doc_id, shared by ``doc_split_assign`` and the decontamination
    operator (``functions/prep.doc_decontaminate``) so both sides of
    any train/test boundary agree on the deal by construction."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws("/", F.col("doc_id"), F.lit(SPLIT_SALT))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )


@register(
    "doc_split_assign",
    oracle_sql=f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < {SPLIT_PCT[0]} THEN 'train'
                WHEN bucket < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               ('0x' || substr(md5(doc_id || '/{SPLIT_SALT}'), 1, 8))::BIGINT % 100
                   AS bucket
        FROM documents)
    ORDER BY doc_id
    """,
)
def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (80/10/10).

    The split a training pipeline must be able to reproduce FOREVER:
    bucket = md5(doc_id + salt) mod 100, so (a) assignment is a pure
    function of the document id — stable across runs, engines (the
    DuckDB oracle computes the identical value), partitionings, and
    corpus growth (new docs never re-deal old ones, unlike
    randomSplit); (b) the salt versions the deal; (c) the split is a
    narrow projection usable directly as a filter or partition column
    at any scale. Spark's conv(hex,16,10) and DuckDB's ('0x'||h)::
    BIGINT parse the same 32-bit md5 prefix.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = split_bucket_col()
    train, val = SPLIT_PCT[0], SPLIT_PCT[0] + SPLIT_PCT[1]
    return (
        docs.select("doc_id", bucket.alias("bucket"))
        .withColumn(
            "split",
            F.when(F.col("bucket") < train, "train")
            .when(F.col("bucket") < val, "val")
            .otherwise("test"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_stats_by_lang_source",
    oracle_sql="""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars,
           min(doc_id) AS first_doc
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def doc_stats_by_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: per (lang, source) document stats."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang", "source")
    )


@register(
    "doc_unigram_logprob",
    oracle_sql=_sql_tokens_cte()
    + """
    , tf AS MATERIALIZED (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS tok FROM toks_t)
        GROUP BY doc_id, tok),
    ctf AS MATERIALIZED (SELECT tok, sum(tf) AS ctf FROM tf GROUP BY tok),
    tot AS (SELECT sum(ctf) AS total FROM ctf)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(sum_ll / n_tokens, 6) AS mean_logprob,
           round(exp(-sum_ll / n_tokens), 4) AS ppl
    FROM (
        SELECT tf.doc_id, sum(tf.tf) AS n_tokens,
               sum(tf.tf * ln(ctf.ctf * 1.0 / tot.total)) AS sum_ll
        FROM tf JOIN ctf USING (tok) CROSS JOIN tot
        GROUP BY tf.doc_id)
    ORDER BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability and perplexity under
    the corpus's own unigram language model — the classic cheap
    fluency/outlier signal (very low mean log-prob = gibberish or
    boilerplate; used alongside the Gopher repetition filters).

    Plan shape: reuses the session-cached TF index
    (``doc_term_freq``), aggregates it once into a vocabulary-sized
    unigram table, broadcasts the 1-row corpus total, and reduces per
    document — every aggregate decomposable, shuffle volume bounded by
    |vocabulary| + |distinct (doc, tok)|. At 100 TB the model table is
    still vocabulary-sized; nothing scales with raw token count except
    the initial scan.
    """
    tf = doc_term_freq(spark, sf_dir)
    ctf = tf.groupBy("tok").agg(F.sum("tf").alias("ctf"))
    tot = ctf.select(F.sum("ctf").alias("total"))
    mean_ll = F.col("sum_ll") / F.col("n_tokens")
    return (
        tf.join(ctf, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.col("tf") * F.log(F.col("ctf") * F.lit(1.0) / F.col("total"))
            ).alias("sum_ll"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(mean_ll, 6).alias("mean_logprob"),
            F.round(F.exp(-mean_ll), 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


@session_cached
def doc_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, bg, tf) bigram-frequency table, persisted per
    (session, corpus) via ``session_cached``.

    ``w1`` (the left token) rides along so the conditional-probability
    denominator c(w1, *) is a plain re-aggregation of this table — no
    string re-splitting downstream. Bigrams are built array-side with
    zip(tokens, tokens[1:]) exactly like ``doc_bigram_topk`` — one
    explode + map-side combined count; shuffle volume is distinct
    (doc, bigram) pairs, not the raw token stream.
    """
    from map_reduce_spark.operators.text_rel import bigram_zip, tokens_col

    docs = doc_toks(spark, sf_dir)
    pairs = docs.select(
        "doc_id",
        F.explode(
            bigram_zip(
                F.col("toks"),
                lambda a, b: F.struct(
                    a.alias("w1"), F.concat_ws(" ", a, b).alias("bg")
                ),
            )
        ).alias("p"),
    )
    return (
        pairs.select("doc_id", "p.w1", "p.bg")
        .groupBy("doc_id", "w1", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "doc_bigram_logprob",
    oracle_sql=_sql_tokens_cte()
    + """
    , btf AS MATERIALIZED (
        SELECT doc_id, split_part(bg, ' ', 1) AS w1, bg, count(*) AS tf
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS bg
            FROM toks_t)
        GROUP BY doc_id, bg),
    cbg AS MATERIALIZED (SELECT bg, sum(tf) AS cbg FROM btf GROUP BY bg),
    cleft AS (
        SELECT split_part(bg, ' ', 1) AS w1, sum(cbg) AS cleft
        FROM cbg GROUP BY 1)
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           round(sum_ll / n_bigrams, 6) AS mean_logprob,
           round(exp(-sum_ll / n_bigrams), 4) AS ppl
    FROM (
        SELECT btf.doc_id, sum(btf.tf) AS n_bigrams,
               sum(btf.tf * ln(cbg.cbg * 1.0 / cleft.cleft)) AS sum_ll
        FROM btf JOIN cbg USING (bg) JOIN cleft USING (w1)
        GROUP BY btf.doc_id)
    ORDER BY doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability and perplexity under
    the corpus's own bigram language model — the second-order
    companion to ``doc_unigram_logprob``. A doc full of common words
    in *uncommon orders* (shuffled/templated/generated text) scores
    normal under the unigram LM but far below corpus-typical here,
    which is why production curation stacks score both.

    Model: P(w2 | w1) = c(w1 w2) / c(w1, *), both counts from the
    corpus itself, so every bigram in a doc is in the model (no
    smoothing term needed) and probabilities normalize per left token
    by construction. Docs with < 2 tokens have no bigrams and drop out
    naturally.

    Plan shape: one explode + hash agg builds the (doc, bigram) TF
    table (session-cached — the model tables below are re-aggregations
    of it); corpus bigram counts and left-token totals are decomposable
    sums of THAT table, so shuffle volume is bounded by distinct
    (doc, bigram) pairs + |bigram vocabulary| — never the raw token
    stream. Per-doc scoring is two hash equi-joins against the
    vocabulary-sized model tables, then one map-side-combined
    reduction. At 100 TB the model tables stay vocabulary-sized;
    nothing but the ingest scan grows with raw tokens.
    """
    btf = doc_bigram_freq(spark, sf_dir)
    cbg = btf.groupBy("bg").agg(F.sum("tf").alias("cbg"))
    cleft = btf.groupBy("w1").agg(F.sum("tf").alias("cleft"))
    mean_ll = F.col("sum_ll") / F.col("n_bigrams")
    return (
        btf.join(cbg, "bg")
        .join(cleft, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(
                F.col("tf") * F.log(F.col("cbg") * F.lit(1.0) / F.col("cleft"))
            ).alias("sum_ll"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(mean_ll, 6).alias("mean_logprob"),
            F.round(F.exp(-mean_ll), 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


# Integer-compare bucket edges (powers of four): exact cross-engine
# semantics, no float log in the bucketing.
LEN_BUCKETS = [(0, 15), (16, 63), (64, 255), (256, 1023), (1024, None)]


def _len_bucket_case_sql() -> str:
    arms = []
    for lo, hi in LEN_BUCKETS:
        label = f"{lo}-{hi}" if hi is not None else f"{lo}+"
        cond = f"n_tokens >= {lo}" + (f" AND n_tokens <= {hi}" if hi is not None else "")
        arms.append(f"WHEN {cond} THEN '{label}'")
    return "CASE " + " ".join(arms) + " END"


@register(
    "doc_length_buckets",
    oracle_sql=_sql_tokens_cte()
    + f"""
    , lens AS (SELECT len(toks) AS n_tokens FROM toks_t),
    b AS (
        SELECT {_len_bucket_case_sql()} AS bucket,
               min(CASE {" ".join(f"WHEN n_tokens >= {lo}" + (f" AND n_tokens <= {hi}" if hi is not None else "") + f" THEN {lo}" for lo, hi in LEN_BUCKETS)} END) AS lo,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM lens GROUP BY 1)
    SELECT bucket, n_docs, total_tokens,
           round(n_docs * 1.0 / sum(n_docs) OVER (), 6) AS doc_share,
           round(sum(n_docs) OVER (ORDER BY lo) * 1.0 / sum(n_docs) OVER (), 6)
               AS cum_doc_share
    FROM b
    ORDER BY lo
    """,
)
def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution report: documents histogrammed into
    power-of-four token-length buckets with doc shares and the
    cumulative share — the numbers that size a packing config
    (``doc_pack_sequences``'s token budget), batch shapes, and
    truncation losses before a training run.

    Plan shape: one tokenize scan reduced immediately to a counted
    histogram keyed by the (constant, ~5-row) bucket space — the whole
    post-scan dataflow is O(buckets), so the cumulative-share window
    over the bucket table is bounded by construction at any corpus
    size. Bucket edges are integer comparisons, exact in both engines.
    """
    docs = doc_toks(spark, sf_dir)
    n_tokens = F.size("toks")
    label = None
    lo_col = None
    for lo, hi in reversed(LEN_BUCKETS):
        name = f"{lo}-{hi}" if hi is not None else f"{lo}+"
        cond = (n_tokens >= lo) if hi is None else ((n_tokens >= lo) & (n_tokens <= hi))
        label = F.lit(name) if label is None else F.when(cond, name).otherwise(label)
        lo_col = F.lit(lo) if lo_col is None else F.when(cond, F.lit(lo)).otherwise(lo_col)
    b = (
        docs.select(label.alias("bucket"), lo_col.alias("lo"), n_tokens.alias("n_tokens"))
        .groupBy("bucket", "lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    from pyspark.sql import Window as W

    # Windows over the <=5-row bucket table only (bounded by
    # construction — the "no partition" warning case does not apply).
    wall = W.partitionBy()
    return (
        b.select(
            "bucket",
            "n_docs",
            "total_tokens",
            F.round(F.col("n_docs") * F.lit(1.0) / F.sum("n_docs").over(wall), 6).alias(
                "doc_share"
            ),
            F.round(
                F.sum("n_docs").over(W.partitionBy().orderBy("lo"))
                * F.lit(1.0)
                / F.sum("n_docs").over(wall),
                6,
            ).alias("cum_doc_share"),
            "lo",
        )
        .orderBy("lo")
        .drop("lo")
    )


# --- Trained n-gram language ID (Cavnar–Trenkle rank profiles) ------
#
# The stopword heuristic above (langid_pred_col) is the zero-training
# shape; this is the REAL n-gram language identifier: train a bounded
# character-trigram rank profile per language from labeled data, then
# classify every document against the broadcast profiles. Integer
# rank weights (weight = K+1-rank) keep both engines bit-exact — no
# float log-prob summation order to disagree on.
LANGID_PROFILE_K = 64  # trigrams kept per language profile
LANGID_PREFIX_CHARS = 200  # classify on a bounded prefix per doc


def _trigram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, tri) — one row per character-trigram occurrence
    in the lowercased LANGID_PREFIX_CHARS-char prefix of each doc."""
    c = F.lower(F.substring("text", 1, LANGID_PREFIX_CHARS))
    with_c = docs.select("doc_id", "lang", c.alias("c"))
    tris = F.when(
        F.length("c") >= 3,
        F.expr("transform(sequence(1, length(c) - 2), i -> substring(c, i, 3))"),
    ).otherwise(F.array().cast("array<string>"))
    return with_c.select("doc_id", "lang", F.explode(tris).alias("tri"))


@session_cached
def langid_trigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, tri, cnt) per-doc trigram counts — the derived
    index BOTH langid passes read, persisted per (session, corpus)
    like ``doc_shingles``. Without it the profile pass and the
    scoring pass each re-tokenize and re-explode the corpus (the
    DuckDB oracle materializes its ``tris`` CTE once for the same
    reason; measured 2.1x DuckDB at sf1 before this index, the one
    sf1 LLM-family entry over the 2x bar in the r7 study)."""
    docs = load_spread(spark, sf_dir, "documents")
    return (
        _trigram_stream(docs)
        .groupBy("doc_id", "lang", "tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_LANGID_NGRAM_ORACLE = f"""
    WITH cleaned AS (
        SELECT doc_id, lang, lower(substring(text, 1, {LANGID_PREFIX_CHARS})) AS c
        FROM documents),
    tris AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, greatest(length(c) - 1, 1)),
                                     i -> substring(c, CAST(i AS INT), 3))) AS tri
        FROM cleaned),
    ranked AS (
        SELECT lang AS cand_lang, tri,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY n DESC, tri ASC) AS rnk
        FROM (SELECT lang, tri, count(*) AS n FROM tris GROUP BY lang, tri)),
    profile AS (
        SELECT cand_lang, tri,
               {LANGID_PROFILE_K} + 1 - rnk AS weight
        FROM ranked WHERE rnk <= {LANGID_PROFILE_K}),
    doc_tris AS (
        SELECT doc_id, tri, count(*) AS cnt FROM tris GROUP BY doc_id, tri),
    scored AS (
        SELECT doc_id, cand_lang, sum(cnt * weight) AS score
        FROM doc_tris JOIN profile USING (tri)
        GROUP BY doc_id, cand_lang),
    best AS (
        SELECT doc_id, cand_lang, score
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand_lang ASC) = 1)
    SELECT d.doc_id, d.lang,
           coalesce(b.cand_lang, 'und') AS pred_lang,
           CAST(coalesce(b.score, 0) AS BIGINT) AS score
    FROM documents d LEFT JOIN best b USING (doc_id)
    ORDER BY doc_id
    """


@register("doc_langid_ngram", oracle_sql=_LANGID_NGRAM_ORACLE)
def doc_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained character-n-gram language identification
    (Cavnar–Trenkle rank profiles), self-supervised from the corpus's
    own labels: pass 1 trains a top-K trigram rank profile per
    language; pass 2 scores every document's trigram counts against
    every profile and argmaxes.

    Generalizes the reference's text-app lineage (wc/indexer,
    /root/reference/src/mrapps/wc.go:20-35) to the classifier a real
    curation pipeline runs: langid_pred_col above is the
    zero-training stopword shape, this is the trained-profile shape.

    Scale design (100 TB): two scans of the corpus, nothing else
    grows. Pass 1 is a decomposable count aggregate over
    (lang, trigram) — map-side combined, cardinality bounded by
    |langs| x trigram vocabulary — reduced to |langs| x K rows
    (top-K per lang via one window over that bounded table) and
    BROADCAST. Pass 2 is per-doc trigram counts (bounded by
    LANGID_PREFIX_CHARS per doc) equi-joined against the broadcast
    profile — no shuffle touches the corpus beyond the per-doc
    groupBy, no all-pairs anywhere, and the prefix cap bounds
    per-row fan-out regardless of document length. Integer rank
    weights (K+1-rank, ties broken count DESC then trigram ASC) make
    scores exact BIGINTs — cross-engine hash-stable by construction.

    NOTE on the fixture: synthetic documents draw from one shared
    vocabulary regardless of their ``lang`` label, so per-language
    profiles are near-identical and predictions are uninformative
    ABOUT the label — the gate checks deterministic train+classify
    parity, not linguistic accuracy (same caveat as STOPWORDS above).
    """
    docs = load_spread(spark, sf_dir, "documents")
    tris = langid_trigram_counts(spark, sf_dir)

    from pyspark.sql import Window as W

    # Pass 1: bounded per-language rank profile -> broadcast.
    by_lang = tris.groupBy(F.col("lang").alias("cand_lang"), "tri").agg(
        F.sum("cnt").alias("n")
    )
    rnk = F.row_number().over(
        W.partitionBy("cand_lang").orderBy(F.col("n").desc(), F.col("tri").asc())
    )
    profile = (
        by_lang.select("cand_lang", "tri", rnk.alias("rnk"))
        .where(F.col("rnk") <= LANGID_PROFILE_K)
        .select(
            "cand_lang",
            "tri",
            (F.lit(LANGID_PROFILE_K + 1) - F.col("rnk")).cast("long").alias("weight"),
        )
    )

    # Pass 2: per-doc trigram counts x broadcast profile -> argmax.
    doc_tris = tris.select("doc_id", "tri", "cnt")
    scored = (
        doc_tris.join(F.broadcast(profile), "tri")
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum(F.col("cnt") * F.col("weight")).alias("score"))
    )
    best = scored.withColumn(
        "pos",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(
                F.col("score").desc(), F.col("cand_lang").asc()
            )
        ),
    ).where(F.col("pos") == 1)
    return (
        docs.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("cand_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("score", F.lit(0)).cast("long").alias("score"),
        )
        .transform(ordered_result, "doc_id")
    )


@register(
    "doc_quality_buckets",
    oracle_sql=_sql_tokens_cte()
    + """
    , tf AS MATERIALIZED (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS tok FROM toks_t)
        GROUP BY doc_id, tok),
    ctf AS MATERIALIZED (SELECT tok, sum(tf) AS ctf FROM tf GROUP BY tok),
    tot AS (SELECT sum(ctf) AS total FROM ctf),
    ll AS (
        SELECT tf.doc_id,
               round(sum(tf.tf * ln(ctf.ctf * 1.0 / tot.total))
                     / sum(tf.tf), 6) AS mean_logprob
        FROM tf JOIN ctf USING (tok) CROSS JOIN tot
        GROUP BY tf.doc_id)
    SELECT doc_id, lang, mean_logprob,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM (
        SELECT d.doc_id, d.lang, ll.mean_logprob,
               ntile(3) OVER (PARTITION BY d.lang
                              ORDER BY ll.mean_logprob DESC, d.doc_id)
                   AS tercile
        FROM documents d JOIN ll ON ll.doc_id = d.doc_id)
    ORDER BY doc_id
    """,
)
def doc_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: per-language head / middle /
    tail terciles by mean unigram log-probability under the corpus's
    own LM (Wenzek et al., "CCNet" — the standard cheap split that
    keeps `head` for training and routes `tail` to heavier filters).

    Ordering is on the ROUNDED (6 dp) mean log-prob with a doc_id
    tiebreak, so the tercile assignment is deterministic and
    engine-independent: both sides rank identical rounded doubles.

    Scale: reuses the session-cached TF index via
    ``doc_unigram_logprob`` (model table stays vocabulary-sized); the
    ntile window is ONE sorted pass partitioned by language. Languages
    are few and large at 100 TB, so this is the one deliberate
    sort-heavy stage — the production variant samples per-language
    perplexity QUANTILE CUTS (approx_percentile over a sample) and
    assigns buckets by comparison instead of ranking every row; the
    exact window form here is the oracle-checkable reference.
    """
    from pyspark.sql import Window as W

    ll = doc_unigram_logprob(spark, sf_dir).select("doc_id", "mean_logprob")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tercile = F.ntile(3).over(
        W.partitionBy("lang").orderBy(
            F.col("mean_logprob").desc(), F.col("doc_id").asc()
        )
    )
    return (
        docs.join(ll, "doc_id")
        .withColumn("tercile", tercile)
        .select(
            "doc_id",
            "lang",
            "mean_logprob",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidate sketch + exact verification
# ---------------------------------------------------------------------------

HH_K = 50  # heavy-hitter threshold: tokens with count > N / HH_K
_MG_COUNTERS = 2 * HH_K  # per-partition counter budget
# Regime gate (r9): sampled-vocabulary width above which the plain
# type-grain hash aggregate stops being the right plan and the MG
# sketch takes over. The probe samples HH_PROBE_FRACTION of documents
# and counts distinct token types; sampling UNDERestimates the full
# width (Heaps' law), so a sample already past the threshold means
# the true type space is far wider — the regime where partial-agg
# shuffle volume (per-partition distinct types) stops being small.
# Both regimes are EXACT, so a mis-gated choice costs time, never
# correctness (pinned in tests/test_r7_ops.py regime-equality).
HH_PROBE_FRACTION = 0.02
HH_WIDE_TYPES = 500_000


@register(
    "agg_heavy_hitters",
    oracle_sql=_sql_tokens_cte()
    + f"""
    , occ AS MATERIALIZED (
        SELECT unnest(toks) AS tok FROM toks_t),
    tot AS (SELECT count(*) AS n FROM occ)
    SELECT tok, count(*) AS n_occ
    FROM occ
    GROUP BY tok
    HAVING count(*) * {HH_K} > (SELECT n FROM tot)
    ORDER BY n_occ DESC, tok
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with > N/{k} of all occurrences),
    two measured regimes behind one contract (the basket/triangle
    regime-gate pattern):

    - NARROW vocabulary (the probe's sampled type width is bounded):
      ONE pass — groupBy(tok).count() with map-side combine, total =
      sum over the type-grain frame, filter. No Python, no stream
      persist, no re-read. Shuffle volume is per-partition distinct
      types, which is exactly what the probe certified as small.
    - WIDE vocabulary (web-scale junk types — hashes, typos — where
      the type-grain frame itself is the problem): the two-phase
      MERGEABLE-SKETCH pattern — a Misra-Gries summary per partition
      proposes candidates, one exact counting pass over the candidate
      set verifies (Misra & Gries 1982; mergeability per Agarwal et
      al., Mergeable Summaries, PODS'12). Shuffle volume becomes
      |partitions| x 2k candidates, independent of type width.

    Guarantee making the MG result EXACT (and oracle-checkable
    despite the sketch): any token with global count > N/k exceeds
    n_p/k on at least one partition (pigeonhole), and an MG summary
    with m >= k counters retains every token whose partition count
    exceeds n_p/(m+1) — so the union of per-partition survivors is a
    SUPERSET of the true heavy hitters (pinned in
    tests/test_r7_ops.py, plus a regime-equality pin). The MG phase
    is ``mapInPandas`` with per-BATCH pandas value_counts folded into
    a bounded dict — never per-row Python.

    The gate itself is a sampled probe (HH_PROBE_FRACTION of
    documents -> countDistinct), the same measure-then-choose move as
    basket's F-list count and triangle's edge count. r9 measured
    (solo min-of-4, quiet machine): sf1 narrow 2.26 s vs MG 2.10 s —
    a wash, the shared tokenize pass dominates both; sf3 narrow
    4.11 s vs MG 5.12 s — the MG plan's extra stream passes (persist
    + Arrow round-trip + candidate re-count) grow with the corpus
    while the narrow plan stays one pass, so the gap widens with
    scale and narrow is the right default wherever the probe allows.
    """
    docs = doc_toks(spark, sf_dir)
    probe = (
        docs.sample(HH_PROBE_FRACTION, seed=7)
        .select(F.explode("toks").alias("tok"))
        .agg(F.count_distinct("tok").alias("t"))
        .first()
    )
    # Gate direction (ADVICE r9): the probe must certify NARROWNESS,
    # so the threshold is scaled by the sampled fraction. Every type
    # with at least one occurrence survives a fraction-f sample with
    # probability >= f, so E[sampled width] >= f x true width; a probe
    # width <= f x HH_WIDE_TYPES therefore certifies (in expectation)
    # true width <= HH_WIDE_TYPES. Comparing the raw probe count
    # against the FULL threshold would do the opposite — a 2% sample
    # under 500k types is consistent with ~25M true types, routing a
    # genuinely wide corpus onto the type-grain shuffle the MG path
    # exists to avoid. Exactness is unaffected either way (both
    # regimes exact); the gate only prices the shuffle.
    if (probe["t"] or 0) <= HH_WIDE_TYPES * HH_PROBE_FRACTION:
        # Narrow regime: exact type-grain aggregate, one stream pass.
        # The type-grain frame feeds both the total and the filter (a
        # diamond) — persist it, not the token stream (types << occ).
        counts = transient_persist(
            docs.select(F.explode("toks").alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("n_occ"))
        )
        tot = counts.agg(F.sum("n_occ").alias("n"))
        return (
            counts.crossJoin(F.broadcast(tot))
            .filter(F.col("n_occ") * HH_K > F.col("n"))
            .select("tok", "n_occ")
            .orderBy(F.desc("n_occ"), "tok")
        )

    # Wide regime: the token stream feeds three consumers (the MG
    # sketch, the candidate-count semi join, and the total) — persist
    # so the tokenize + explode runs once, not three times.
    occ = transient_persist(docs.select(F.explode("toks").alias("tok")))
    return mg_heavy_hitters(occ)


def mg_heavy_hitters(occ: DataFrame) -> DataFrame:
    """Wide-vocabulary (Misra-Gries sketch) regime of
    ``agg_heavy_hitters`` over a single-column token stream ``occ`` —
    see the registered builder's docstring for the exactness
    guarantee. Standalone so the MG superset/equality invariants stay
    pytest-exercised no matter which regime the gate picks on the
    fixture (tests/test_r7_ops.py).
    """
    import pandas as pd

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, cnt in pdf["tok"].value_counts().items():
                if tok in counters:
                    counters[tok] += int(cnt)
                elif len(counters) < _MG_COUNTERS:
                    counters[tok] = int(cnt)
                else:
                    # decrement-all by the largest amount that keeps
                    # every counter >= 0 (batched MG decrement)
                    dec = min(int(cnt), min(counters.values()))
                    counters = {
                        t: c - dec for t, c in counters.items() if c - dec > 0
                    }
                    if int(cnt) > dec:
                        counters[tok] = int(cnt) - dec
        yield pd.DataFrame({"tok": list(counters.keys())})

    candidates = occ.mapInPandas(mg_partition, "tok string").distinct()
    exact = (
        occ.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    tot = occ.agg(F.count(F.lit(1)).alias("n"))
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("n_occ") * HH_K > F.col("n"))
        .select("tok", "n_occ")
        .orderBy(F.desc("n_occ"), "tok")
    )


PMI_MIN_COUNT = 5  # collocation support floor: drop noise pairs


@register(
    "doc_bigram_pmi",
    oracle_sql=_sql_tokens_cte()
    + f"""
    , occ AS MATERIALIZED (
        SELECT unnest(toks) AS tok FROM toks_t),
    uni AS MATERIALIZED (SELECT tok, count(*) AS c1 FROM occ GROUP BY tok),
    ntok AS (SELECT sum(c1) AS nt FROM uni),
    bgc AS MATERIALIZED (
        SELECT bg, count(*) AS n_pair
        FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS bg
            FROM toks_t)
        GROUP BY bg
        HAVING count(*) >= {PMI_MIN_COUNT}),
    nbg_t AS (
        SELECT sum(len(toks) - 1) AS nbg FROM toks_t WHERE len(toks) >= 2)
    SELECT bg,
           CAST(n_pair AS BIGINT) AS n_pair,
           round(ln((n_pair * 1.0 / (SELECT nbg FROM nbg_t))
                    / ((u1.c1 * 1.0 / (SELECT nt FROM ntok))
                       * (u2.c1 * 1.0 / (SELECT nt FROM ntok)))), 6) AS pmi
    FROM bgc
    JOIN uni u1 ON u1.tok = split_part(bg, ' ', 1)
    JOIN uni u2 ON u2.tok = split_part(bg, ' ', 2)
    ORDER BY pmi DESC, bg
    """,
)
def doc_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information:
    PMI(w1, w2) = ln(p(w1 w2) / (p(w1) p(w2))) over the corpus's own
    unigram/bigram statistics, support-filtered at PMI_MIN_COUNT —
    the classic Church & Hanks collocation measure, and the standard
    pre-tokenizer pass for merging multi-word expressions in training
    pipelines (word2vec's phrase pass uses exactly this score shape).

    Plan: reuses the session-cached term-frequency and
    bigram-frequency tables (one explode each per session, shared
    with the LM-scoring and heavy-hitter queries); the bigram counts
    reduce to a vocabulary²-bounded, support-filtered frame; the two
    unigram joins hit a vocabulary-sized table that broadcasts; the
    two grand totals ride whitelisted 1-row broadcasts. Nothing
    data-sized crosses an exchange after the two base aggregations.
    """
    uni = doc_term_freq(spark, sf_dir).groupBy("tok").agg(
        F.sum("tf").alias("c1")
    )
    ntok = uni.agg(F.sum("c1").alias("nt"))
    bgc = (
        doc_bigram_freq(spark, sf_dir)
        .groupBy("bg")
        .agg(F.sum("tf").alias("n_pair"))
        .filter(F.col("n_pair") >= PMI_MIN_COUNT)
    )
    nbg = doc_bigram_freq(spark, sf_dir).agg(F.sum("tf").alias("nbg"))
    u1 = uni.select(F.col("tok").alias("t1"), F.col("c1").alias("c1_1"))
    u2 = uni.select(F.col("tok").alias("t2"), F.col("c1").alias("c1_2"))
    pmi = F.round(
        F.log(
            (F.col("n_pair") / F.col("nbg"))
            / ((F.col("c1_1") / F.col("nt")) * (F.col("c1_2") / F.col("nt")))
        ),
        6,
    )
    return (
        bgc.withColumn("t1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("t2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(u1), "t1")
        .join(F.broadcast(u2), "t2")
        .crossJoin(F.broadcast(ntok))
        .crossJoin(F.broadcast(nbg))
        .select("bg", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "bg")
    )


# --- Corpus-statistics QA: Zipf-law fit -----------------------------

ZIPF_TOP_RANKS = 1000  # fit over the head of the frequency curve


_ZIPF_FIT_ORACLE = f"""
    WITH wc AS (
        SELECT tok, count(*) AS n
        FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
              FROM documents)
        WHERE length(tok) > 0
        GROUP BY tok
    ),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rnk
        FROM wc
    ),
    head AS (
        SELECT ln(rnk * 1.0) AS lr, ln(n * 1.0) AS lf
        FROM ranked WHERE rnk <= {ZIPF_TOP_RANKS}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_ranks,
           round(-regr_slope(lf, lr), 6) AS zipf_exponent,
           round(regr_intercept(lf, lr), 6) AS log_c,
           round(regr_r2(lf, lr), 6) AS r2
    FROM head
"""


@register("doc_zipf_fit", oracle_sql=_ZIPF_FIT_ORACLE)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus word-frequency curve: the
    log-log regression ln(freq) ~ ln(rank) over the top-K ranks,
    reporting the Zipf exponent (natural text ~1.0; this synthetic
    fixture's near-uniform vocabulary fits much flatter), the
    intercept, and r² — the corpus-health check a data-QA pipeline
    runs to catch template spam / truncation / vocabulary collapse
    before training.

    Plan: the session-cached TF table rolls up to corpus word counts
    (vocabulary-bounded), ONE window over that bounded table ranks
    them, and the REGR_* aggregates reduce the K-row head to a 1-row
    fit — nothing beyond the word counts ever exceeds K rows. The
    rank window orders a vocabulary-sized frame, the same bounded
    single-partition shape as the other value-grain windows.
    """
    from pyspark.sql import Window as W

    wc = (
        doc_term_freq(spark, sf_dir)
        .groupBy("tok")
        .agg(F.sum("tf").alias("n"))
    )
    w_rank = W.orderBy(F.desc("n"), F.asc("tok"))
    head = (
        wc.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= ZIPF_TOP_RANKS)
        .select(
            F.log(F.col("rnk") * 1.0).alias("lr"),
            F.log(F.col("n") * 1.0).alias("lf"),
        )
    )
    return head.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.round(-F.expr("regr_slope(lf, lr)"), 6).alias("zipf_exponent"),
        F.round(F.expr("regr_intercept(lf, lr)"), 6).alias("log_c"),
        F.round(F.expr("regr_r2(lf, lr)"), 6).alias("r2"),
    )
