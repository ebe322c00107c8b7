"""Sparse lexical retrieval over the RAG chunk index.

The search-engine shape the LLM-pipeline family was still missing:
TF-IDF cosine retrieval through a token inverted index — the
SMART/BM25 family's plan. Chunks come from the same windowing as
``doc_chunk_for_rag``, so this is the end-to-end story: corpus →
chunks → sparse index → ranked retrieval.

Scale design (the shape Lucene/ES shard clusters implement, stated
relationally):
- the index is the SPARSE (chunk, token, weight) table — never dense
  vectors; the only join is the inverted-index equi-join on token;
- document frequency both prunes quality (stopwords carry no signal)
  and bounds skew: a token's join fan-out is df_probe x df_corpus,
  so the DF cap is a hard per-token work bound (same argument as
  dedup_jaccard_df_capped);
- tf/df are integers (exact in both engines); idf and the cosine are
  the only float math, computed with the identical expression tree
  on both sides and rounded once at the end;
- per-probe top-k is a bounded rank window partitioned by probe.

The reference engine's closest analogue is the inverted index app
(/root/reference/src/mrapps/indexer.go) — this operator is that
index put to its actual use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from map_reduce_spark.functions.prep import CHUNK_STEP, CHUNK_TOKENS
from map_reduce_spark.operators.text_rel import doc_toks
from map_reduce_spark.plans.deferred import deferred
from map_reduce_spark.plans.transient import ordered_result
from map_reduce_spark.registry import register
from map_reduce_spark.sources import parquet_num_rows, session_cached

RETRIEVAL_MAX_DF = 0.9  # drop tokens present in > this fraction of chunks
RETRIEVAL_TOP_K = 5
# Candidate-side posting bound (r9 verdict item 2 — the house DF-cap
# idiom applied to the inverted-index join): each token contributes at
# most this many CANDIDATE postings to the score join, selected by
# per-token impact order (Anh & Moffat, "Pruned query evaluation using
# pre-computed impacts", SIGIR'06 — Lucene's impact-sorted postings
# are the same move). Probe vectors stay FULL, so the per-probe
# EMISSION SHAPE is preserved (every probe still emits k ranked
# rows) — but the results are the top-k over the IMPACT-PRUNED pool,
# which is unsafe (non-rank-preserving) pruning: where a token's
# posting list exceeds the cap, a true top-k candidate can be
# dropped. Recall vs the uncapped join is measured where the cap
# binds (tests/test_retrieval.py::test_postings_cap_recall_
# differential); the oracle mirrors the cap, so the hash gate
# certifies the CAPPED contract, not uncapped recall. Join cost is
# bounded by sum_t(probe_postings(t) x min(df_t, CAP)) instead of
# df_t^2-shaped.
# On a real Zipf corpus df_t < CAP for nearly all tokens and the
# prune is a no-op; on the degenerate ~31-token registered fixture it
# is the difference between sf3 ENOSPC (quadratic spill, r9) and a
# linear-in-probe-count plan. The ordering keys are INTEGERS
# (tf / doc length / chunk_uid — never a float aggregate), so both
# engines select bit-identical posting sets and the DuckDB oracle
# mirrors the cap exactly: the gate stays a hash gate, not a recall
# gate.
RETRIEVAL_MAX_POSTINGS = 1_000
PROBE_DOC_MOD = 150  # probe chunks = chunks of every 150th document
# chunk_uid packs (doc_id, chunk_idx) into one int64 as
# doc_id * CHUNKS_PER_DOC_CAP + chunk_idx. Capacity (r6 ADVICE — the
# bare 10000 was undocumented and unguarded): a document reaches
# 10_000 chunks only past CHUNK_STEP * 10_000 ≈ 240k tokens at the
# current stride; the Spark side RAISES at runtime if a document ever
# exceeds it (guard in ``chunk_tokens``) instead of silently colliding
# uids, and probe selection (chunk_uid DIV cap) shares the constant.
# int64 headroom: doc_id may grow to ~9.2e14 before overflow.
CHUNKS_PER_DOC_CAP = 10_000
# Probe-side broadcast cap (r6 ADVICE): the probe postings grow
# LINEARLY with the corpus (chunks of every PROBE_DOC_MOD-th doc), so
# broadcasting them is a fixture-scale optimization, not the 100 TB
# plan. Past this many probe documents (~8k chunks ≈ tens of MB of
# postings at the fixture's chunk shape) the builder falls back to a
# plain token-hash shuffle join, which keeps parallelism through the
# corpus-side partitioning without driver/broadcast pressure.
PROBE_BROADCAST_MAX_DOCS = 2_000
# Candidate-side broadcast cap for the large-probe fallback (r10,
# measured at sf10): when the postings cap has collapsed the candidate
# frame to vocab x RETRIEVAL_MAX_POSTINGS rows, a token-hash shuffle
# join is the WRONG fallback — the degenerate fixture's few hot tokens
# concentrate the pair stream onto a handful of tasks (measured 7.7x
# growth on 3.33x data, pure plan regression). Broadcasting the
# bounded candidate side instead streams pairs across the PROBE
# partitioning (even, chunk_uid-layout), and because the probe frame
# arrives hash-partitioned by chunk_uid = probe_uid, the (probe, cand)
# aggregate and the per-probe top-k window then need NO further
# exchange. 4M rows x ~24 B ≈ 100 MB — inside a healthy executor
# broadcast budget. A wide-vocabulary corpus whose candidate frame
# exceeds this keeps the shuffle join, which is then well-parallelized
# by its high token cardinality. The candidate count is one .count()
# on the session-cached frame (the index build it triggers is the same
# build the search itself needs — nothing is wasted), taken only in
# the large-probe branch.
CANDS_BROADCAST_MAX_ROWS = 4_000_000
# Pair-stream sizing for the cands-broadcast regime (r10, measured):
# the (probe, cand) aggregate combines almost nothing on this fixture
# (~1.09 pairs per group), so the per-task hash table is pairs/n_part
# entries. At sf10 under the harness's 32 shuffle partitions that was
# a ~6.5 GB aggregate state spilling to disk — the measured source of
# the 5x-on-3.33x-data superlinearity. The probe side (tiny) is
# repartitioned by probe_uid into ceil(est_pairs / this) partitions
# BEFORE the broadcast join, so the pair stream is BORN partitioned
# by probe_uid and the aggregate + top-k window run exchange-free
# with bounded per-task state. est_pairs = probe_postings x
# RETRIEVAL_MAX_POSTINGS is an upper bound that is near-exact
# whenever the cap binds (which is the only regime that reaches this
# branch).
PAIRS_PER_AGG_PARTITION = 1_500_000


def chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(chunk_uid, token) pairs from the same end-anchored windows as
    ``doc_chunk_for_rag`` (chunk_uid = doc_id * CHUNKS_PER_DOC_CAP +
    chunk_idx; packing capacity guarded at runtime, see the constant)."""
    # load_spread, not load_table (r7 — found by the Zipf scale study):
    # a single-file corpus arrives as ONE input split, so tokenize +
    # chunk-explode (the corpus-width narrow work) serialized onto one
    # task and cliffed the 32k-doc scale point 6x; the spread is the
    # repo's standard cheap-shuffle-buys-parallelism trade.
    toked = doc_toks(spark, sf_dir).select("doc_id", "toks").filter(
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
    # CASE WHEN guard, not silent arithmetic: a doc past the packing
    # capacity fails loudly with its doc_id instead of colliding into
    # a neighbour's uid space. The branch is codegen'd per row and
    # costs one comparison; raise_error's NullType coerces under the
    # bigint branch so the column type is unchanged.
    uid = F.when(
        F.col("idx") < CHUNKS_PER_DOC_CAP,
        F.col("doc_id") * CHUNKS_PER_DOC_CAP + F.col("idx"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"chunk_uid packing overflow: >= {CHUNKS_PER_DOC_CAP} "
                    "chunks in doc_id "
                ),
                F.col("doc_id").cast("string"),
            )
        )
    )
    return exploded.select(
        uid.alias("chunk_uid"),
        F.explode(F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS))).alias(
            "token"
        ),
    )


# Shared oracle prefix: documents -> token windows -> per-(chunk,
# token) term frequencies. Both sparse-retrieval oracles (TF-IDF
# cosine and BM25) start from this exact CTE chain.
_CHUNK_TF_CTE = f"""
    WITH toks_t AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> length(t) > 0) AS toks
        FROM documents),
    start_lists AS (
        SELECT doc_id, toks,
               list_sort(list_distinct(list_append(
                   generate_series(1, greatest(1, len(toks) - {CHUNK_TOKENS} + 1),
                                   {CHUNK_STEP}),
                   greatest(1, len(toks) - {CHUNK_TOKENS} + 1)))) AS starts
        FROM toks_t WHERE len(toks) > 0),
    chunk_toks AS MATERIALIZED (
        SELECT doc_id * {CHUNKS_PER_DOC_CAP} + idx - 1 AS chunk_uid,
               unnest(win) AS token
        FROM (
            SELECT doc_id,
                   list_slice(toks, unnest(starts),
                              unnest(starts) + {CHUNK_TOKENS} - 1) AS win,
                   generate_subscripts(starts, 1) AS idx
            FROM start_lists)),
    tf AS MATERIALIZED (
        SELECT chunk_uid, token, count(*) AS tf
        FROM chunk_toks GROUP BY chunk_uid, token)
    """

# The TF-IDF CTE chain (t_ranked = per-probe cosine ranking). Kept as
# a separate constant so _RRF_SQL can compose it with the BM25 chain
# below — CTE names are disjoint between the two chains for exactly
# that reason.
_TFIDF_CHAIN = f"""
    nchunks AS (SELECT count(DISTINCT chunk_uid) AS n FROM tf),
    df AS (
        SELECT token, count(*) AS df FROM tf, nchunks GROUP BY token, n
        HAVING count(*) <= {RETRIEVAL_MAX_DF} * n),
    w AS MATERIALIZED (
        SELECT chunk_uid, tf.token, tf, tf * ln(n * 1.0 / df) AS w
        FROM tf JOIN df ON tf.token = df.token, nchunks),
    norms AS MATERIALIZED (
        SELECT chunk_uid, sqrt(sum(w * w)) AS nrm FROM w GROUP BY chunk_uid),
    t_cands AS MATERIALIZED (
        -- candidate-side impact prune: per token, top postings by
        -- (tf DESC, chunk_uid) — within a token w = tf * idf with idf
        -- constant, so the integer tf order IS the weight order
        SELECT chunk_uid, token, w
        FROM (SELECT chunk_uid, token, w,
                     row_number() OVER (PARTITION BY token
                                        ORDER BY tf DESC, chunk_uid) AS pr
              FROM w)
        WHERE pr <= {RETRIEVAL_MAX_POSTINGS}),
    t_scores AS (
        SELECT p.chunk_uid AS probe_uid, c.chunk_uid AS cand_uid,
               sum(p.w * c.w) AS num
        FROM w p JOIN t_cands c ON p.token = c.token
        WHERE (p.chunk_uid // {CHUNKS_PER_DOC_CAP}) % {PROBE_DOC_MOD} = 0
          AND p.chunk_uid <> c.chunk_uid
        GROUP BY p.chunk_uid, c.chunk_uid),
    t_ranked AS (
        SELECT probe_uid, cand_uid,
               round(num / (np.nrm * nc.nrm), 6) AS score,
               row_number() OVER (
                   PARTITION BY probe_uid
                   ORDER BY round(num / (np.nrm * nc.nrm), 6) DESC, cand_uid)
                   AS rank
        FROM t_scores
        JOIN norms np ON np.chunk_uid = probe_uid
        JOIN norms nc ON nc.chunk_uid = cand_uid)"""

_RETRIEVAL_SQL = f"""
    {_CHUNK_TF_CTE},
    {_TFIDF_CHAIN}
    SELECT probe_uid, cand_uid, score, CAST(rank AS BIGINT) AS rank
    FROM t_ranked WHERE rank <= {RETRIEVAL_TOP_K}
    ORDER BY probe_uid, rank
    """


@register("rag_chunk_tfidf_search", oracle_sql=_RETRIEVAL_SQL)
def rag_chunk_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine retrieval: for each probe chunk, the top-k most
    similar corpus chunks through the token inverted index.

    The full sparse-retrieval pipeline as one declarative plan:
    chunk -> term frequencies -> DF-capped vocabulary -> idf weights
    -> inverted-index join -> cosine -> per-probe top-k. Scale: the
    only corpus-sized joins are equi-joins on token (the inverted
    index — hash-partitionable), ubiquitous tokens pruned by the
    fractional RETRIEVAL_MAX_DF cap (real-corpus Zipf heads are the
    quadratic-fan-out drivers; for adversarial ubiquity the absolute
    cap of dedup_jaccard_df_capped is the hard-bound variant); norms
    and tf reduce map-side; the 1-row chunk count broadcasts; the
    rank window partitions by probe. tf/df stay integer until the
    idf product, and the rank orders on the ROUNDED cosine with a
    cand_uid tiebreak, so both engines rank identically.

    Complexity is the inverted-index invariant sum over tokens of
    (probe postings x min(corpus postings, RETRIEVAL_MAX_POSTINGS)) —
    the candidate side is impact-pruned per token (r10; see
    RETRIEVAL_MAX_POSTINGS / _prune_postings), so per-token join
    fan-out is HARD-bounded. On real corpora (10^4+ vocabularies,
    Zipf postings) the prune rarely binds and the cost is the
    standard Lucene shape — grows with posting mass, linear in corpus
    size at fixed probe load (measured r7,
    ZIPF_RETRIEVAL_STUDY_r07.json). On the synthetic fixture's
    ~31-token DEGENERATE vocabulary (every posting list spanning ~80%
    of the corpus) the uncapped join devolved to all-pairs x overlap
    and ENOSPC'd the sf3 sweep (r9); capped, the pair stream is
    probe-postings x 1000 — linear in the probe count. The cap is
    mirrored exactly in the oracle SQL (integer ordering keys), so
    the entry stays hash-gated at every scale.
    """
    return _tfidf_search(spark, sf_dir, PROBE_DOC_MOD)


@session_cached
def chunk_tfidf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NORMALIZED sparse index (chunk_uid, token, wn) with
    wn = w / ||w_chunk|| — THE artifact a search engine keeps per
    corpus snapshot (Lucene stores length-normalized weights for the
    same reason). Built once per (session, corpus) and persisted via
    ``session_cached`` like the shingle / pair / sketch indexes (r7:
    an inline ``.persist()`` inside the builder minted a NEW cached
    copy per build — bench iterations and the scale study leaked
    index copies until executor storage churned).

    Normalizing AT BUILD is the scale decision (r7, found by the
    Zipf study): with raw weights, every search must join per-chunk
    norms onto the PAIR stream — two extra exchange+sort passes over
    the largest intermediate in the query (26M rows at the 64k-doc
    point, measured 3.3x growth per corpus doubling); with normalized
    weights the dot product IS the cosine, and the norm join runs
    once, here, over the index (O(index) rows, not O(pairs)).
    """
    ct = chunk_tokens(spark, sf_dir)
    tf = ct.groupBy("chunk_uid", "token").agg(F.count(F.lit(1)).alias("tf"))
    nchunks = tf.agg(F.countDistinct("chunk_uid").alias("n"))
    df = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(nchunks))
        .filter(F.col("df") <= RETRIEVAL_MAX_DF * F.col("n"))
        .select("token", "df")
    )
    w = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(nchunks))
        .select(
            "chunk_uid",
            "token",
            "tf",
            (F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))).alias("w"),
        )
    )
    norms = w.groupBy("chunk_uid").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    # Pin the chunk_uid layout explicitly (see chunk_bm25_index: the
    # search aggregate's map-side combine depends on it, and leaving
    # it to the norms join makes it an AQE-broadcast-decision away
    # from silently scattering).
    return (
        w.join(norms, "chunk_uid")
        # EXPLICIT partition count (r12, guide §2.5): this frame's
        # consumers do per-row work (the token-join pair stream) that
        # is NOT proportional to its bytes, and with
        # canChangeCachedPlanOutputPartitioning=true AQE coalesces the
        # keyless-count repartition under the session cache by BYTES —
        # the whole index materialized at 1-2 partitions and the
        # registered search's join+aggregate ran as ONE task (2.2 s of
        # single-core CPU, measured). defaultParallelism is the
        # load_spread convention: cluster-width, not a local constant.
        .repartition(spark.sparkContext.defaultParallelism, "chunk_uid")
        .select(
            "chunk_uid",
            "token",
            # integer tf rides along as the candidate-prune ordering
            # key (see chunk_tfidf_cands) — within a token the tf
            # order IS the weight order, and an integer key is
            # bit-stable across engines
            "tf",
            (F.col("w") / F.col("nrm")).alias("wn"),
        )
    )


def _prune_postings(
    spark: SparkSession, index: DataFrame, weight: str, *order
) -> DataFrame:
    """CANDIDATE-side postings (chunk_uid, token, cw) of either index:
    ``index`` pruned to the top ``RETRIEVAL_MAX_POSTINGS`` postings
    per token by the per-token impact ``order`` — an all-integer key
    equal to (or a proxy for) the weight order, so both engines select
    bit-identical posting sets (Anh & Moffat impact-sorted index
    pruning; see RETRIEVAL_MAX_POSTINGS for the scale argument — this
    bound is what turns the degenerate-vocabulary fixture's quadratic
    join into a linear one, r9 verdict item 2). Probe vectors do NOT
    read this frame — they keep their full postings, so every probe
    still emits its top-k.

    Built once per (session, corpus) by the session-cached ``*_cands``
    builders; the window is one sort per token group over the
    already-cached index, once. On a realistic wide vocabulary
    df_t < the cap for nearly every token and this frame is the index
    unchanged.
    """
    pr = F.row_number().over(W.partitionBy("token").orderBy(*order))
    return (
        index.withColumn("_pr", pr)
        .filter(F.col("_pr") <= RETRIEVAL_MAX_POSTINGS)
        # chunk_uid layout for the same map-side-combine reason as the
        # base index (the scores aggregate groups by cand chunk);
        # explicit count for the same cache-coalesce reason (r12 —
        # see chunk_tfidf_index)
        .repartition(spark.sparkContext.defaultParallelism, "chunk_uid")
        .select("chunk_uid", "token", F.col(weight).alias("cw"))
    )


def _probe_postings(index: DataFrame, probe_doc_mod: int, weight: str) -> DataFrame:
    """Probe postings (probe_uid, p_token, pw): the full vectors of the
    chunks of every ``probe_doc_mod``-th document. The registered
    modulus is extracted once per (session, corpus) by the
    session-cached ``*_probes`` builders: the extraction is a full
    scan of the cached index (corpus-sized, linear), so repeating it
    per search query charged every steady-state search a corpus-sized
    scan for a probe-sized result (r10, measured at sf10). Custom
    moduli (the scale studies) extract inline and skip that cache."""
    return index.filter(
        (F.expr(f"chunk_uid DIV {CHUNKS_PER_DOC_CAP}") % probe_doc_mod) == 0
    ).select(
        F.col("chunk_uid").alias("probe_uid"),
        F.col("token").alias("p_token"),
        F.col(weight).alias("pw"),
    )


@session_cached
def chunk_tfidf_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF candidate postings, pruned by (tf DESC, chunk_uid) —
    within a token w = tf * idf with idf constant, so the integer tf
    order IS the weight order (see ``_prune_postings``)."""
    index = chunk_tfidf_index(spark, sf_dir)
    return _prune_postings(spark, index, "wn", F.desc("tf"), F.asc("chunk_uid"))


@session_cached
def chunk_tfidf_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-modulus TF-IDF probe postings (see ``_probe_postings``)."""
    return _probe_postings(chunk_tfidf_index(spark, sf_dir), PROBE_DOC_MOD, "wn")


# Every search (tfidf / bm25) emits this exact shape; the RRF fusion
# swaps score -> rrf_score. Declared so the deferred large-probe
# regimes can serve schema walks without materializing; pinned equal
# to the lazy-branch schema by
# tests/test_retrieval.py::test_large_probe_regime_is_deferred.
_SEARCH_SCHEMA = "probe_uid bigint, cand_uid bigint, score double, rank bigint"
_RRF_SCHEMA = "probe_uid bigint, cand_uid bigint, rrf_score double, rank bigint"


def _search(
    spark: SparkSession,
    sf_dir: str,
    probe_doc_mod: int,
    cands: DataFrame,
    probes: DataFrame,
    ordered: bool,
) -> DataFrame:
    """The inverted-index search both families share: candidate
    postings (chunk_uid, token, cw) joined on token to probe postings
    (probe_uid, p_token, pw), scored sum(pw * cw) per (probe, cand)
    pair and ranked top-k per probe. The families differ only in the
    per-posting weights they hand in.

    Both engines rank on the score ROUNDED to 6 dp with a cand_uid
    tiebreak: planted duplicate chunks give mathematically equal
    scores whose raw float sums can order-flip across engines (and
    the TF-IDF oracle computes raw-product-sum / (norm x norm), the
    same real number via a different float order), so rounding first
    makes the tiebreak decide identically everywhere.
    """
    # BROADCAST the probe side and stream the corpus index (the
    # sim_knn_bruteforce pattern): the join's output parallelism then
    # follows the corpus partitioning. The naive orientation lets AQE
    # coalesce the few-thousand-row probe side to ONE partition and
    # the entire token-join explosion (tens of millions of rows at
    # sf1) executes in a single task — measured minutes vs seconds.
    # The probe postings grow LINEARLY with the corpus, though
    # (chunks of every PROBE_DOC_MOD-th doc), so the broadcast is a
    # fixture-scale optimization (r6 ADVICE): past
    # PROBE_BROADCAST_MAX_DOCS probe documents the plan switches to a
    # count-sized large-probe regime. Sizing is a parquet-footer
    # metadata read, so the builder stays lazy.
    n_probe_docs = -(-parquet_num_rows(f"{sf_dir}/documents.parquet") // probe_doc_mod)

    def finish(joined: DataFrame) -> DataFrame:
        scores = (
            joined.filter(F.col("probe_uid") != F.col("chunk_uid"))
            .groupBy("probe_uid", F.col("chunk_uid").alias("cand_uid"))
            .agg(F.round(F.sum(F.col("pw") * F.col("cw")), 6).alias("score"))
        )
        ranked = scores.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("probe_uid").orderBy(F.desc("score"), F.asc("cand_uid"))
            ),
        ).filter(F.col("rank") <= RETRIEVAL_TOP_K)
        out = ranked.select(
            "probe_uid", "cand_uid", "score", F.col("rank").cast("long").alias("rank")
        )
        # ``ordered=False`` (the RRF fusion subquery): skip both the
        # output sort (EliminateSorts would drop it under the fusion
        # join anyway) and the pre-sort persist — a materialization
        # barrier INSIDE the fused plan serializes the two base
        # rankings that otherwise execute as concurrent subtrees
        # (measured +2 s on rag_rrf_fusion_search).
        if not ordered:
            return out
        return ordered_result(out, "probe_uid", "rank")

    # corpus side = the impact-pruned candidate postings (probe
    # vectors stay full) — the bounded inverted-index join, see
    # RETRIEVAL_MAX_POSTINGS. Join orientation is three-regime (see
    # CANDS_BROADCAST_MAX_ROWS): small probe load -> broadcast
    # probes; big probe load + cap-collapsed candidates -> broadcast
    # candidates (probe-partitioned pair stream, exchange-free agg +
    # window); both sides big -> token-hash shuffle join.
    if n_probe_docs <= PROBE_BROADCAST_MAX_DOCS:
        # the registered-fixture regime stays a fully lazy Catalyst plan
        return finish(cands.join(F.broadcast(probes), cands.token == probes.p_token))

    # Large-probe regimes size themselves from real counts (which also
    # force the session-cached index build), so the decision is
    # DEFERRED (r10 ADVICE): the builder returns instantly with the
    # declared search schema and the counts fire on first action —
    # a plan audit or schema walk at sf10 no longer pays multi-minute
    # index builds at construction time.
    def build_large() -> DataFrame:
        if cands.count() <= CANDS_BROADCAST_MAX_ROWS:
            n_part = max(
                32,
                -(-probes.count() * RETRIEVAL_MAX_POSTINGS // PAIRS_PER_AGG_PARTITION),
            )
            joined = probes.repartition(n_part, "probe_uid").join(
                F.broadcast(cands), cands.token == probes.p_token
            )
        else:
            joined = cands.join(probes, cands.token == probes.p_token)
        return finish(joined)

    return deferred(spark, _SEARCH_SCHEMA, build_large)


def _tfidf_search(
    spark: SparkSession, sf_dir: str, probe_doc_mod: int, ordered: bool = True
) -> DataFrame:
    """Parameterized core of ``rag_chunk_tfidf_search``: probe chunks
    are those of every ``probe_doc_mod``-th document. The registered
    entry pins PROBE_DOC_MOD; the Zipf scale study passes a modulus
    proportional to the corpus so the PROBE COUNT stays fixed across
    scale points — the realistic retrieval regime (queries/sec does
    not grow with the index) under which the Lucene-shape linear-in-
    posting-mass claim is measurable at all. The normalized index
    makes the score the cosine itself — no norm joins on the pair
    stream (see chunk_tfidf_index)."""
    if probe_doc_mod == PROBE_DOC_MOD:
        probes = chunk_tfidf_probes(spark, sf_dir)
    else:
        probes = _probe_postings(chunk_tfidf_index(spark, sf_dir), probe_doc_mod, "wn")
    cands = chunk_tfidf_cands(spark, sf_dir)
    return _search(spark, sf_dir, probe_doc_mod, cands, probes, ordered)


# --- BM25 ------------------------------------------------------------
#
# Okapi BM25 with the Lucene idf variant (always positive, no
# negative-weight common terms). Standard constants.
BM25_K1 = 1.2
BM25_B = 0.75

# The BM25 CTE chain (b_ranked = per-probe impact ranking); CTE names
# disjoint from _TFIDF_CHAIN so _RRF_SQL can run both over one shared
# tf materialization.
_BM25_CHAIN = f"""
    lens AS MATERIALIZED (
        SELECT chunk_uid, sum(tf) AS dl FROM tf GROUP BY chunk_uid),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
    idf AS (
        SELECT token, ln((n - df + 0.5) / (df + 0.5) + 1) AS idf
        FROM (SELECT token, count(*) AS df FROM tf GROUP BY token), stats
        WHERE df <= {RETRIEVAL_MAX_DF} * n),
    bm AS MATERIALIZED (
        SELECT tf.chunk_uid, tf.token, tf.tf, lens.dl,
               idf.idf * tf.tf * (1 + {BM25_K1}) /
                   (tf.tf + {BM25_K1} *
                    (1 - {BM25_B} + {BM25_B} * lens.dl / stats.avgdl)) AS bm
        FROM tf JOIN lens USING (chunk_uid) JOIN idf USING (token), stats),
    b_cands AS MATERIALIZED (
        -- candidate-side impact prune: per token, top postings by the
        -- integer proxy (tf DESC, dl ASC, chunk_uid) — bm rises with
        -- tf and falls with dl, and an all-integer key keeps the
        -- selected set bit-identical across engines (a float-aggregate
        -- key like bm itself could flip last-ulp ties)
        SELECT chunk_uid, token, bm
        FROM (SELECT chunk_uid, token, bm,
                     row_number() OVER (PARTITION BY token
                                        ORDER BY tf DESC, dl ASC, chunk_uid)
                         AS pr
              FROM bm)
        WHERE pr <= {RETRIEVAL_MAX_POSTINGS}),
    b_scores AS (
        SELECT p.chunk_uid AS probe_uid, c.chunk_uid AS cand_uid,
               sum(p.tf * c.bm) AS s
        FROM bm p JOIN b_cands c ON p.token = c.token
        WHERE (p.chunk_uid // {CHUNKS_PER_DOC_CAP}) % {PROBE_DOC_MOD} = 0
          AND p.chunk_uid <> c.chunk_uid
        GROUP BY p.chunk_uid, c.chunk_uid),
    b_ranked AS (
        SELECT probe_uid, cand_uid, round(s, 6) AS score,
               row_number() OVER (
                   PARTITION BY probe_uid
                   ORDER BY round(s, 6) DESC, cand_uid) AS rank
        FROM b_scores)"""

_BM25_SQL = f"""
    {_CHUNK_TF_CTE},
    {_BM25_CHAIN}
    SELECT probe_uid, cand_uid, score, CAST(rank AS BIGINT) AS rank
    FROM b_ranked WHERE rank <= {RETRIEVAL_TOP_K}
    ORDER BY probe_uid, rank
    """


@session_cached
def chunk_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25 impact index (chunk_uid, token, tf, bm): bm is the
    fully-evaluated per-(chunk, token) BM25 term contribution
    idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) — what Lucene
    calls the term's "impact" and stores in its postings. Scoring a
    query is then a pure inverted-index join + weighted sum; nothing
    per-pair beyond the multiply.

    Same scale shape as ``chunk_tfidf_index``: tf / chunk lengths /
    df are decomposable integer aggregates; the (n, avgdl) corpus
    stats are a 1-row broadcast; the DF cap bounds per-token join
    fan-out; built once per (session, corpus) via ``session_cached``.
    """
    ct = chunk_tokens(spark, sf_dir)
    tf = ct.groupBy("chunk_uid", "token").agg(F.count(F.lit(1)).alias("tf"))
    lens = tf.groupBy("chunk_uid").agg(F.sum("tf").alias("dl"))
    stats = lens.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    idf = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .filter(F.col("df") <= RETRIEVAL_MAX_DF * F.col("n"))
        .select(
            "token",
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1).alias(
                "idf"
            ),
        )
    )
    # THE INDEX LAYOUT IS chunk_uid (r7, measured): the search's
    # (probe_uid, cand_uid) aggregate combines map-side only when
    # every cand_uid's (chunk's) postings live in ONE partition —
    # with the layout scattered, partial aggregation combines nothing
    # and the 94M-row pair stream at the 64k Zipf point hits the
    # final exchange uncombined (59 s vs 3.9 s for the identical
    # aggregate over a chunk-partitioned index). Join order CANNOT
    # pin this: idf (the vocabulary) and lens (two ints per chunk)
    # are exactly the frames AQE turns into broadcasts at runtime, so
    # whichever join runs last may leave the index on tf's
    # (chunk_uid, token) grouping hash — scattered per chunk. The
    # explicit repartition states the layout; it costs one exchange
    # in the once-per-(session, corpus) build and is what
    # chunk_tfidf_index's norms join currently produces by planner
    # accident.
    return (
        tf.join(idf, "token")
        .join(lens, "chunk_uid")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        # explicit count: AQE coalesces a keyless-count repartition
        # under the session cache by bytes, serializing the pair
        # stream (r12 — see chunk_tfidf_index)
        .repartition(spark.sparkContext.defaultParallelism, "chunk_uid")
        .select(
            "chunk_uid",
            "token",
            "tf",
            # dl rides along as half of the candidate-prune ordering
            # key (tf DESC, dl ASC, chunk_uid) — see chunk_bm25_cands
            "dl",
            (
                F.col("idf")
                * F.col("tf")
                * (1 + BM25_K1)
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("bm"),
        )
    )


@session_cached
def chunk_bm25_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 candidate postings, pruned by the all-integer proxy
    (tf DESC, dl ASC, chunk_uid) — bm rises with tf and falls with
    dl, and ordering by the float ``bm`` itself risks last-ulp tie
    flips against the oracle, whose avgdl aggregation order differs
    (see ``_prune_postings``)."""
    index = chunk_bm25_index(spark, sf_dir)
    order = (F.desc("tf"), F.asc("dl"), F.asc("chunk_uid"))
    return _prune_postings(spark, index, "bm", *order)


@register("rag_bm25_search", oracle_sql=_BM25_SQL)
def rag_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval: for each probe chunk, the top-k corpus
    chunks by BM25 score through the same token inverted index as
    ``rag_chunk_tfidf_search`` — the other half of the SMART/BM25
    family the module docstring names. Query terms weight by their
    probe-side tf (integer); candidate contributions come
    precomputed from the impact index, so the per-pair work is one
    multiply + sum.

    Scale: the TF-IDF search's own ``_search`` core (the Zipf-study
    linear-in-posting-mass argument transfers verbatim — the two
    families differ only in the per-posting weights they hand in):
    the probe side broadcasts under PROBE_BROADCAST_MAX_DOCS and
    switches to the count-sized large-probe regimes past it, and both
    engines rank on the ROUNDED score with a cand_uid tiebreak.
    """
    return _bm25_search(spark, sf_dir, PROBE_DOC_MOD)


@session_cached
def chunk_bm25_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-modulus BM25 probe postings, weighted by the integer
    probe-side tf (see ``_probe_postings``)."""
    return _probe_postings(chunk_bm25_index(spark, sf_dir), PROBE_DOC_MOD, "tf")


def _bm25_search(
    spark: SparkSession, sf_dir: str, probe_doc_mod: int, ordered: bool = True
) -> DataFrame:
    """Parameterized core of ``rag_bm25_search`` (probe chunks = those
    of every ``probe_doc_mod``-th document) — the knob the Zipf scale
    study turns to hold the probe COUNT fixed across corpus sizes,
    exactly as for ``_tfidf_search``."""
    if probe_doc_mod == PROBE_DOC_MOD:
        probes = chunk_bm25_probes(spark, sf_dir)
    else:
        probes = _probe_postings(chunk_bm25_index(spark, sf_dir), probe_doc_mod, "tf")
    cands = chunk_bm25_cands(spark, sf_dir)
    return _search(spark, sf_dir, probe_doc_mod, cands, probes, ordered)


# --- Hybrid rank fusion ----------------------------------------------
#
# Reciprocal Rank Fusion (Cormack/Clarke/Buettcher 2009): fuse the
# top-k lists of N retrieval systems by sum of 1/(RRF_K + rank).
# RRF_K=60 is the paper's constant.
RRF_K = 60

_RRF_SQL = f"""
    {_CHUNK_TF_CTE},
    {_TFIDF_CHAIN},
    {_BM25_CHAIN},
    fused AS (
        SELECT coalesce(t.probe_uid, b.probe_uid) AS probe_uid,
               coalesce(t.cand_uid, b.cand_uid) AS cand_uid,
               coalesce(1.0 / ({RRF_K} + t.rank), 0)
                   + coalesce(1.0 / ({RRF_K} + b.rank), 0) AS rrf
        FROM (SELECT * FROM t_ranked WHERE rank <= {RETRIEVAL_TOP_K}) t
        FULL JOIN (SELECT * FROM b_ranked WHERE rank <= {RETRIEVAL_TOP_K}) b
          ON t.probe_uid = b.probe_uid AND t.cand_uid = b.cand_uid),
    f_ranked AS (
        SELECT probe_uid, cand_uid, round(rrf, 9) AS rrf_score,
               row_number() OVER (
                   PARTITION BY probe_uid
                   ORDER BY round(rrf, 9) DESC, cand_uid) AS rank
        FROM fused)
    SELECT probe_uid, cand_uid, rrf_score, CAST(rank AS BIGINT) AS rank
    FROM f_ranked WHERE rank <= {RETRIEVAL_TOP_K}
    ORDER BY probe_uid, rank
    """


@register("rag_rrf_fusion_search", oracle_sql=_RRF_SQL)
def rag_rrf_fusion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion: the TF-IDF cosine
    and BM25 top-k lists for each probe are fused by
    sum(1 / (60 + rank)) and re-ranked — the standard way production
    search combines heterogeneous rankers without score calibration
    (the two systems' score scales never meet; only ranks do).

    The two base rankings are the registered ``rag_chunk_tfidf_search``
    and ``rag_bm25_search`` pipelines (shared ``chunk_tokens`` CTE,
    both indexes session-cached), so the fusion adds only a full-outer
    equi-join of two (n_probes x k)-row frames plus one per-probe
    window — nothing corpus-sized beyond what the base searches
    already did, and the two index builds/searches are independent
    subtrees the scheduler runs concurrently.

    Hash stability: ranks are integers and each 1/(60+rank) is the
    same IEEE double in both engines; a two-term float sum is
    commutative, so the fused score is bit-identical everywhere and
    the round(9) + cand_uid tiebreak ranks identically (same
    round-then-rank convention as the base searches).
    """
    def build() -> DataFrame:
        tf_ranked = _tfidf_search(spark, sf_dir, PROBE_DOC_MOD, ordered=False).select(
            F.col("probe_uid").alias("t_probe"),
            F.col("cand_uid").alias("t_cand"),
            F.col("rank").alias("t_rank"),
        )
        bm_ranked = _bm25_search(spark, sf_dir, PROBE_DOC_MOD, ordered=False).select(
            F.col("probe_uid").alias("b_probe"),
            F.col("cand_uid").alias("b_cand"),
            F.col("rank").alias("b_rank"),
        )
        fused = (
            tf_ranked.join(
                bm_ranked,
                (F.col("t_probe") == F.col("b_probe"))
                & (F.col("t_cand") == F.col("b_cand")),
                "full_outer",
            )
            .select(
                F.coalesce("t_probe", "b_probe").alias("probe_uid"),
                F.coalesce("t_cand", "b_cand").alias("cand_uid"),
                (
                    F.coalesce(1.0 / (RRF_K + F.col("t_rank")), F.lit(0.0))
                    + F.coalesce(1.0 / (RRF_K + F.col("b_rank")), F.lit(0.0))
                ).alias("rrf"),
            )
        )
        return (
            fused.withColumn("rrf_score", F.round("rrf", 9))
            .withColumn(
                "rank",
                F.row_number().over(
                    W.partitionBy("probe_uid").orderBy(
                        F.desc("rrf_score"), F.asc("cand_uid")
                    )
                ),
            )
            .filter(F.col("rank") <= RETRIEVAL_TOP_K)
            .select(
                "probe_uid",
                "cand_uid",
                "rrf_score",
                F.col("rank").cast("long").alias("rank"),
            )
            .transform(ordered_result, "probe_uid", "rank")
        )

    n_probe_docs = -(
        -parquet_num_rows(f"{sf_dir}/documents.parquet") // PROBE_DOC_MOD
    )
    if n_probe_docs <= PROBE_BROADCAST_MAX_DOCS:
        # both base searches are fully lazy plans in this regime — so
        # is the fusion.
        return build()
    # large-probe regime: the base searches are deferred (count-sized
    # regime decisions, see _search) and touching them with
    # .select() would materialize those counts at build time — wrap
    # the whole fusion in the same deferred contract instead.
    return deferred(spark, _RRF_SCHEMA, build)
