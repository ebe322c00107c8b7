"""Maintained-index incremental dedup: the production ingest loop.

``dedup_incremental_batch`` (dedup.py) is the SELF-CONTAINED statement
of continuous-ingest dedup: one lazy plan that rebuilds the existing
corpus's fingerprint table and shingle inverted index from text and
probes them with the micro-batch. Its r8 batch-share ladder
(SOLO_STUDY_r08.json) proved the REBUILD dominates the per-batch cost
— which is exactly why a production ingest loop does not rebuild: it
MAINTAINS the two indexes as persistent artifacts and pays only the
batch's delta each round. This module is that shape (r8 verdict
item 5); its table lifecycle — bucketed appends, tombstones,
compaction and the verdict log — is ``sources/bucketed.BucketedState``,
shared with the ANN ingest index (sim_ingest.py):

State (managed bucketed parquet tables — the Spark spelling of "the
index lives pre-partitioned by probe key, so probes never shuffle
it"):

- ``<name>_post`` (doc_id, sh)  bucketed by sh — the shingle inverted
  index (uncapped truth; hotness is decided at probe time from the
  CURRENT df, so a shingle crossing the cap as the corpus grows
  needs no retro-edit of stored postings).
- ``<name>_fp``   (doc_id, f)   bucketed by f — the fingerprint table.
- ``<name>_dfp``  (sh, cnt)     bucketed by sh — PER-BATCH PARTIAL
  document frequencies. Append-only: the current df is the
  zero-Exchange co-bucketed sum, so maintenance never rewrites the
  vocabulary, and the hot list is derived fresh each probe.

Per-batch cost decomposition (the design claim the ladder measured,
INGEST_LADDER_r09.json):

- NETWORK: batch-proportional. Probe joins are one-sided — the batch
  side shuffles into the index's bucket layout; the bucketed sides
  contribute ZERO Exchange (plan-pinned in tests/test_dedup_ingest.py).
  Maintenance is three appends of batch-sized frames.
- LOCAL IO: the probe scans the postings index (two long/string
  columns, columnar) — corpus-sized but index-speed, vs the rebuild's
  corpus TEXT scan + re-tokenize + re-shingle + full-df aggregate
  with its corpus-mass shuffle. This residual scan is the honest
  non-batch-proportional term; eliminating it takes a point-lookup
  store, which is outside Spark's storage model.

Verdict semantics are IDENTICAL to ``dedup_incremental_batch``: the
exact-match, pair-count, best-match and verdict steps are dedup.py's
``_exact_matches``/``_pair_common``/``_best_match``/``_verdicts``,
called by the registered builder, by ``incremental_verdicts`` (the
from-scratch reference kept here) and by ``DedupIngestIndex.probe``.
pytest runs a multi-batch differential of the maintained index
against that reference and ties the reference back to the registered
builder on its own MOD split; the DuckDB oracle checks the registered
builder independently.

Eagerness contract: ``ingest`` is necessarily EAGER (it materializes
the verdicts BEFORE appending the batch to the index — laziness would
let the batch see itself in the existing side), the same sanction as
the streaming replays' foreachBatch loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.functions.dedup import (
    _SHINGLE_PREFIX_SQL,
    JACCARD_THRESHOLD,
    SHINGLE_DF_CAP,
    _best_match,
    _doc_fp,
    _exact_matches,
    _hot_shingles,
    _pair_common,
    _verdicts,
    shingles_col,
)
from map_reduce_spark.operators.text_rel import tokens_col
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_spread, session_cached
from map_reduce_spark.sources.bucketed import BucketedState


def _doc_sh(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) distinct word-trigram shingles of a (doc_id, text)
    frame — the arbitrary-frame twin of dedup.doc_shingles."""
    return docs.withColumn("toks", tokens_col()).select(
        "doc_id", F.explode(shingles_col()).alias("sh")
    )


def incremental_verdicts(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """From-scratch reference: the dedup_incremental_batch semantics
    over ARBITRARY (doc_id, text) frames instead of the registered
    MOD split — existing-side DF cap, incoming x existing pairs only.
    The maintained index's pytest differential runs against this, and
    a second test ties this back to the registered builder on the MOD
    split, so all three paths pin one contract."""
    exact = _exact_matches(_doc_fp(batch), _doc_fp(existing))
    sh_e, sh_b = _doc_sh(existing), _doc_sh(batch)
    hot = _hot_shingles(sh_e)
    rare_e = sh_e.join(hot, "sh", "left_anti")
    rare_b = sh_b.join(hot, "sh", "left_anti")
    ni = rare_b.groupBy(F.col("doc_id").alias("inc_doc")).agg(
        F.count(F.lit(1)).alias("ni")
    )
    ne = rare_e.groupBy(F.col("doc_id").alias("ex_doc")).agg(
        F.count(F.lit(1)).alias("ne")
    )
    best = _best_match(_pair_common(rare_b, rare_e), ni, ne)
    return _verdicts(batch.select("doc_id"), exact, best).orderBy("doc_id")


class DedupIngestIndex(BucketedState):
    """Handle to the maintained fingerprint + shingle index.

    ``bootstrap`` pays the one-time corpus indexing (the cost the
    self-contained query pays EVERY batch); ``ingest`` probes with a
    micro-batch, returns its verdict frame, and appends the batch's
    delta to the index — the steady-state loop. The table lifecycle
    (drop, tombstones, compaction rewrite, verdict log) is
    ``BucketedState``'s.
    """

    def __init__(self, spark: SparkSession, name: str, n_buckets: int = 8):
        super().__init__(spark, name, "doc_id", "verdicts", n_buckets)
        self.post_t = self._table("post")
        self.fp_t = self._table("fp")
        self.dfp_t = self._table("dfp")

    def _append_delta(self, batch: DataFrame, mode: str) -> None:
        sh = _doc_sh(batch)
        self._write(sh, self.post_t, "sh", mode)
        self._write(_doc_fp(batch), self.fp_t, "f", mode)
        self._write(
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("cnt")),
            self.dfp_t,
            "sh",
            mode,
        )

    def bootstrap(self, corpus: DataFrame) -> "DedupIngestIndex":
        """Index the initial corpus (drops any prior state first)."""
        self._reset()
        self._append_delta(corpus, "overwrite")
        return self

    def delete(self, ids: DataFrame) -> None:
        """Retract documents from the index — takedowns / license
        revocations (r11 verdict item 5). ``ids`` is a (doc_id) frame
        of CURRENTLY-INDEXED documents.

        Logical deletion in two appends, no corpus-sized rewrite:

        1. TOMBSTONES: ids append to ``<name>_tomb``; every probe
           read of the fingerprint and postings tables excludes
           tombstoned docs via a broadcast anti-join (the tombstone
           set is takedown-sized — operator-bounded, not
           corpus-proportional; ``compact`` bounds it over time).
           Already-tombstoned ids are skipped, so re-deleting a doc
           cannot subtract its df mass twice.
        2. NEGATIVE df partials: the newly deleted docs' postings
           (read from the bucketed postings table itself — a takedown
           carries ids, not text; the semi-join probes with a
           broadcast of the delete batch, so the index side scans in
           bucket layout, zero Exchange) are aggregated per shingle
           and appended to ``<name>_dfp`` with NEGATED counts. The
           probe-time df — the co-bucketed sum of partials — then
           prices the post-delete corpus exactly, so a shingle whose
           hotness was due to deleted boilerplate can drop back
           under the cap with no vocabulary rewrite.

        Physical removal is ``compact``'s job — the
        Delta/Iceberg-style separation of logical delete (cheap,
        immediate) from storage reclamation (batched, off the
        serving path)."""
        ids = self._tombstone(ids)
        neg = (
            self.spark.table(self.post_t)
            .join(F.broadcast(ids), "doc_id", "left_semi")
            .groupBy("sh")
            .agg((-F.count(F.lit(1))).alias("cnt"))
        )
        self._write(neg, self.dfp_t, "sh", "append")

    def compact(self) -> None:
        """Physically reclaim deleted rows and per-epoch small files:
        rewrite each bucketed state table minus tombstoned docs (df
        partials re-aggregate to one row per shingle), then truncate
        the tombstone list. Each rewrite reads in its own bucket
        layout and writes back in the same bucket layout, so no
        shuffle at any size. N append epochs leave N files per
        bucket and probe plans degrade with file count
        (COMPACTION_LADDER_r12.json measures the decay and the
        post-compact recovery); a real deployment runs this on the
        maintenance cadence, not per batch."""
        self._rewrite(self._live(self.post_t), self.post_t, "sh")
        self._rewrite(self._live(self.fp_t), self.fp_t, "f")
        # df partials recompute FROM the just-compacted postings (a
        # fresh read AFTER the rename — the pre-rewrite plan's file
        # listing is gone), not by summing the old partials: one
        # bucket-local count per shingle, and any partial-write drift
        # a crash between delete()'s two appends could leave behind
        # heals here instead of persisting.
        self._rewrite(
            self.spark.table(self.post_t)
            .groupBy("sh")
            .agg(F.count(F.lit(1)).alias("cnt")),
            self.dfp_t,
            "sh",
        )
        self._clear_tombstones()

    # -- the ingest loop ---------------------------------------------------
    def probe(self, batch: DataFrame) -> DataFrame:
        """Verdicts for ``batch`` against the CURRENT index, without
        maintenance — one lazy plan over the bucketed tables."""
        # Tombstone exclusion (r12): deleted docs stay physically
        # present until compact(), so the postings and fingerprint
        # reads drop them. The df partials need no filter: delete()
        # appended the deleted docs' mass as NEGATIVE partials, so
        # the co-bucketed sum below already prices the live corpus.
        post = self._live(self.post_t)
        dfp = self.spark.table(self.dfp_t)
        fp_e = self._live(self.fp_t)
        # Current df = zero-Exchange co-bucketed sum of the partials;
        # the hot list is heavy-tail-sized, broadcast into the three
        # anti joins below.
        hot = (
            dfp.groupBy("sh")
            .agg(F.sum("cnt").alias("df"))
            .filter(F.col("df") > SHINGLE_DF_CAP)
            .select("sh")
        )
        exact = _exact_matches(_doc_fp(batch), fp_e)
        sh_b = _doc_sh(batch)
        rare_b = sh_b.join(hot, "sh", "left_anti")
        ni = rare_b.groupBy(F.col("doc_id").alias("inc_doc")).agg(
            F.count(F.lit(1)).alias("ni")
        )
        # Candidate generation: batch shingles probe the bucketed
        # postings — the index side reads in bucket layout (no
        # Exchange, pinned), only the batch side shuffles.
        common = _pair_common(rare_b, post.join(hot, "sh", "left_anti"))
        # Candidate sizes: ne is needed only for docs that share a
        # rare shingle with the batch (bounded by batch posting mass x
        # SHINGLE_DF_CAP) — a broadcast semi-join restricts the
        # postings scan to them before the per-doc count, so the
        # count's shuffle carries candidate postings, not the corpus.
        cands = common.select(F.col("ex_doc").alias("doc_id")).distinct()
        ne = (
            post.join(F.broadcast(cands), "doc_id", "left_semi")
            .join(hot, "sh", "left_anti")
            .groupBy(F.col("doc_id").alias("ex_doc"))
            .agg(F.count(F.lit(1)).alias("ne"))
        )
        best = _best_match(common, ni, ne)
        return _verdicts(batch.select("doc_id"), exact, best).orderBy("doc_id")

    def ingest(self, batch: DataFrame) -> DataFrame:
        """Probe + maintain: materializes the batch's verdicts to the
        ``<name>_verdicts`` sink table (the ingest loop's durable
        decision log), then appends the batch's postings /
        fingerprints / df partials to the index, and returns the
        sink-backed verdict frame. Eager by necessity — and the
        verdicts are written BEFORE maintenance because a merely
        persist()-ed verdict plan reads the index TABLES, and Spark
        invalidates dependent caches when a table is appended to, so
        a post-append action would silently recompute the verdicts
        against an index that now contains the batch itself (every
        doc its own exact_dup — caught by the multi-batch
        differential test)."""
        seq = self._log(self.probe(batch))
        self._append_delta(batch, "append")
        return self._read_log(seq, "doc_id")


# ---------------------------------------------------------------------------
# Registered fixed-epoch ingest run (r9 verdict item 5): the ingest
# loop on the driver's hash gate.
# ---------------------------------------------------------------------------
#
# Epoch schedule over the documents fixture, by doc_id % 8 (disjoint,
# deterministic, fixture-independent):
#   bootstrap corpus : doc_id % 8 NOT IN (1, 3, 5)   (~5/8 of docs)
#   batch 0          : doc_id % 8 = 1
#   DELETE epoch     : doc_id % 16 = 8  (takedown of bootstrap docs)
#   batch 1          : doc_id % 8 = 3
#   batch 2          : doc_id % 8 = 5
# Each batch is probed against the index AS OF its epoch (bootstrap
# plus all earlier batches, minus any docs deleted by then) and then
# folded in — so batch 1 can match batch 0's documents but NOT a
# taken-down bootstrap doc, which is precisely the maintained-state
# semantics a single self-contained plan cannot express and the
# reason this entry runs the real DedupIngestIndex loop.
_EPOCH_MODS = (1, 3, 5)
# Retraction epoch (r11 verdict item 5): after batch 0 folds in, the
# docs with doc_id % 16 == 8 (a deterministic slice of the BOOTSTRAP
# corpus — residue 0 mod 8 is never a batch residue; chosen because
# this slice contains later batches' best-match docs at ALL THREE
# gate scales, so the delete epoch is non-vacuous: verdicts provably
# differ from the no-delete history) are taken down.
# Batches 1 and 2 probe the index as of (bootstrap + batch 0) MINUS
# the deleted docs; the oracle recomputes each epoch from exactly
# that merged (insert - delete) corpus, so the hash gate certifies
# the tombstone exclusion AND the negative-df repricing, not just
# appends.
_DELETE_MOD16 = 8
_DELETE_AFTER_BATCH = 0  # deletion lands between batch 0 and batch 1


def _epoch_block(k: int) -> str:
    """One epoch's verdict CTE chain (DuckDB): the incremental-dedup
    oracle of dedup.py parameterized by epoch membership. The
    existing side at epoch k is everything except this and later
    batches' residues, minus the deleted docs once the retraction
    epoch has passed."""
    later = ", ".join(str(m) for m in _EPOCH_MODS[k:])
    inc = _EPOCH_MODS[k]
    dead = (
        f" AND NOT (doc_id % 16 = {_DELETE_MOD16})"
        if k > _DELETE_AFTER_BATCH
        else ""
    )
    e_dead = dead.replace("doc_id", "e.doc_id")
    return f"""
    exact{k} AS (
        SELECT i.doc_id, min(e.doc_id) AS exact_match
        FROM fp i JOIN fp e ON i.f = e.f AND e.doc_id % 8 NOT IN ({later}){e_dead}
        WHERE i.doc_id % 8 = {inc} GROUP BY i.doc_id),
    hot{k} AS (
        SELECT sh FROM shingles WHERE doc_id % 8 NOT IN ({later}){dead}
        GROUP BY sh HAVING count(*) > {SHINGLE_DF_CAP}),
    rare{k} AS MATERIALIZED (
        SELECT doc_id, sh FROM shingles
        WHERE sh NOT IN (SELECT sh FROM hot{k})),
    sizes{k} AS MATERIALIZED (
        SELECT doc_id, count(*) AS n FROM rare{k} GROUP BY doc_id),
    common{k} AS (
        SELECT i.doc_id AS inc_doc, e.doc_id AS ex_doc, count(*) AS n_common
        FROM rare{k} i JOIN rare{k} e ON i.sh = e.sh
        WHERE i.doc_id % 8 = {inc} AND e.doc_id % 8 NOT IN ({later}){e_dead}
        GROUP BY 1, 2),
    near{k} AS (
        SELECT inc_doc, ex_doc,
               round(n_common * 1.0 / (si.n + se.n - n_common), 6) AS jaccard
        FROM common{k}
        JOIN sizes{k} si ON si.doc_id = inc_doc
        JOIN sizes{k} se ON se.doc_id = ex_doc
        WHERE n_common * 1.0 / (si.n + se.n - n_common)
              >= {JACCARD_THRESHOLD}),
    best{k} AS (
        SELECT inc_doc, ex_doc, jaccard FROM near{k}
        QUALIFY row_number() OVER (PARTITION BY inc_doc
                                   ORDER BY jaccard DESC, ex_doc ASC) = 1)"""


def _epoch_select(k: int) -> str:
    inc = _EPOCH_MODS[k]
    return f"""
    SELECT CAST({k} AS BIGINT) AS batch_seq, i.doc_id,
           CASE WHEN x.exact_match IS NOT NULL THEN 'exact_dup'
                WHEN b.ex_doc IS NOT NULL THEN 'near_dup'
                ELSE 'keep' END AS verdict,
           coalesce(x.exact_match, b.ex_doc) AS match_doc,
           CASE WHEN x.exact_match IS NULL THEN b.jaccard END AS jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id % 8 = {inc}) i
    LEFT JOIN exact{k} x ON x.doc_id = i.doc_id
    LEFT JOIN best{k} b ON b.inc_doc = i.doc_id"""


_INGEST_EPOCHS_SQL = (
    _SHINGLE_PREFIX_SQL
    + """,
    fp AS MATERIALIZED (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM documents),"""
    + ",".join(_epoch_block(k) for k in range(len(_EPOCH_MODS)))
    + " UNION ALL ".join(_epoch_select(k) for k in range(len(_EPOCH_MODS)))
    + "\n    ORDER BY batch_seq, doc_id"
)


@session_cached
def _ingest_epoch_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the fixed-epoch ingest loop once per (session, corpus)
    and return the full verdict log (batch_seq, doc_id, verdict,
    match_doc, jaccard). Session-cached like the streaming replays —
    one bootstrap + three ingests serve the gate, the bench, and
    audits alike."""
    import hashlib

    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    key = hashlib.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}".encode()
    ).hexdigest()[:10]
    idx = DedupIngestIndex(spark, f"ingest_epochs_{key}")
    residue = F.col("doc_id") % 8
    idx.bootstrap(docs.filter(~residue.isin(*_EPOCH_MODS)))
    for seq, m in enumerate(_EPOCH_MODS):
        idx.ingest(docs.filter(residue == m))
        if seq == _DELETE_AFTER_BATCH:
            idx.delete(
                docs.filter(F.col("doc_id") % 16 == _DELETE_MOD16).select(
                    "doc_id"
                )
            )
    return (
        spark.table(idx.log_t)
        .select("batch_seq", "doc_id", "verdict", "match_doc", "jaccard")
        .orderBy("batch_seq", "doc_id")
    )


@register("dedup_ingest_epochs", oracle_sql=_INGEST_EPOCHS_SQL)
def dedup_ingest_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained-index ingest loop as a driver-gated query (r9
    verdict item 5; delete epoch r12, r11 verdict item 5): bootstrap
    the bucketed fingerprint / postings / df-partial indexes on ~5/8
    of the corpus, ingest batch 0, RETRACT a deterministic slice of
    the bootstrap docs (doc_id % 16 == 8 — tombstones + negative df
    partials, the takedown path a real corpus pipeline needs), then
    ingest batches 1 and 2 — each probed against the index AS OF its
    epoch (so later batches can match earlier batches' documents but
    never a taken-down doc), each folded into the index afterwards.
    Returns the durable verdict log: (batch_seq, doc_id, verdict,
    match_doc, jaccard).

    The DuckDB oracle recomputes every epoch's verdicts from the
    merged (insert - delete) corpus with the incremental-dedup SQL
    parameterized by epoch membership — equality holds ONLY if the
    maintained index tracked exactly the right state at every step
    (no batch seeing itself, no stale df, no lost appends, no
    deleted doc serving after its takedown and no live doc mispriced
    by the negative partials), which is what puts the ingest loop on
    the hash gate rather than pytest alone (the same sanction that
    promoted the streaming checkpoint-recovery replay).

    DEFERRED + session-cached: the loop materializes verdicts before
    each append by necessity (see DedupIngestIndex.ingest); one run
    per (session, corpus). Scale: per-batch cost decomposition and
    the 6.3-11x-over-rebuild sf10 measurement are in the module
    docstring / INGEST_LADDER_SF10_r09.json; the epochs here are
    batch-sized slices of the same machinery, so the entry's cost is
    one bootstrap (corpus-sized, the cost the rebuild query pays
    EVERY time) plus three batch-proportional probes.
    """
    from map_reduce_spark.plans.deferred import deferred

    return deferred(
        spark,
        "batch_seq BIGINT NOT NULL, doc_id BIGINT, verdict STRING, "
        "match_doc BIGINT, jaccard DOUBLE",
        lambda: _ingest_epoch_run(spark, sf_dir),
    )
