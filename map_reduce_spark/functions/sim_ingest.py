"""Maintained-index ANN ingest: the embedding-serving twin of the
dedup ingest loop (r10 verdict item 4).

``sim_knn_ivf`` (similarity.py) is the SELF-CONTAINED statement of
IVF search: every call retrains the coarse quantizer (session-cached
away inside one session) and reassigns the whole corpus to cells
before probing. A 100 TB pipeline serving embeddings does neither —
it trains the quantizer ONCE on a bootstrap corpus, persists the
cell-assigned vectors as a partitioned index table, and then runs a
continuous loop of "search the new batch against the index as of now,
then fold the batch into its cells". This module is that loop; its
table lifecycle (bucketed appends, tombstones, compaction, the
result log) is ``sources/bucketed.BucketedState``, shared with
``dedup_ingest.DedupIngestIndex``:

State:

- driver-side model: the centroid table (N_CELLS x 64 doubles — tiny
  by construction), trained by ``similarity.train_centroids``, the
  same trainer ``sim_knn_ivf`` memoizes per session. The quantizer
  is FROZEN at bootstrap, which is the production semantic:
  FAISS/Milvus-style IVF indexes assign new vectors to existing cells
  and treat quantizer retraining as a rebuild event, not maintenance.
- ``<name>_cells`` (vec_id, dv, norm, cell), bucketed by cell — the
  cell-assigned corpus vectors. dv/norm are precomputed once at
  ingest (the with_norm hoist), so steady-state probes never touch
  float32 payloads or recompute norms.

Search is the shared kNN pipeline of similarity.py: the index's cells
are the candidate generator, and ``similarity.exact_topk`` ranks the
pairs.

Per-batch cost decomposition (measured in SIM_INGEST_LADDER_r12.json):

- PROBE: batch's probe vectors are assigned to their n_probe nearest
  cells against the frozen centroids (map-only, centroids folded in
  as literals) and broadcast into the index scan — per-probe work is
  ~n_probe/N_CELLS of the index, the IVF contract, and the index
  side NEVER shuffles (broadcast-hash join over the scan; the only
  Exchange in the whole probe plan is the pair-stream window's, on
  probe_id — plan-pinned in tests/test_sim_ingest.py). Broadcast is
  the serving regime by construction: query batches are
  operator-bounded, not corpus-proportional. A probe load that
  outgrew broadcast would repartition the PAIR stream by probe_id
  (the retrieval trio's large-probe move), never shuffle the index.
- MAINTENANCE: one batch-sized assignment + append, cell-clustered
  by the bucket layout (so compaction/rebuild scans read
  cell-local). Nothing corpus-sized is rewritten; the rebuild path
  pays quantizer retraining + full corpus reassignment EVERY batch.

Correctness gate (rows-only by construction — the trained centroids
are engine-side state, same sanction as sim_knn_ivf): pytest runs the
full loop at n_probe = N_CELLS, where IVF degrades to exact search,
and pins each epoch's results EQUAL to a brute-force top-k over the
index as of that epoch (bit-identical scores — same dot-product fold
order as sim_knn_bruteforce); recall@k at the default n_probe is
floor-checked against the same reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.functions.dedup_ingest import _DELETE_AFTER_BATCH, _EPOCH_MODS
from map_reduce_spark.functions.similarity import (
    N_PROBE,
    _with_nearest_cells,
    corpus_side,
    exact_topk,
    probe_side,
    train_centroids,
    with_norm,
)
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_spread, session_cached
from map_reduce_spark.sources.bucketed import BucketedState

# Probe selection inside each ingest batch: vec_id = 8j + r within a
# mod-8 epoch residue class, probe iff j % SIM_INGEST_PROBE_STRIDE ==
# 0 → 4% of every batch. (vec_id % PROBE_MOD, the flat entries' rule,
# is EMPTY on odd mod-8 residues — 100 ≡ 4 (mod 8) never hits them.)
SIM_INGEST_PROBE_STRIDE = 25
# ...capped at this many probes per batch (j // STRIDE < CAP): a
# serving loop's query load is OPERATOR-BOUNDED, not
# corpus-proportional — the module docstring's own contract, which an
# uncapped 4%-of-batch rule violated at scale (the first r11 sf10
# sweep measured the registered entry at 430 s, ~3/4 of it probe dot
# products that grew with the batch). The cap never binds below
# STRIDE x CAP x 8 = 50k vectors (all three pytest scales), so the
# small-sf differential gates see identical probe sets; at sf10 each
# batch searches its first 250 scheduled probes — fixed query load,
# the regime the ladder's sf1 rung measures.
SIM_INGEST_MAX_PROBES_PER_BATCH = 250


class SimIngestIndex(BucketedState):
    """Handle to a maintained IVF index: frozen centroids + a bucketed
    cell-assignment table. ``bootstrap`` pays the one-time training
    and initial assignment; ``ingest`` searches a vector batch against
    the index as of now and folds the batch into its cells. The table
    lifecycle is ``BucketedState``'s, as for the dedup ingest index."""

    def __init__(self, spark: SparkSession, name: str, n_buckets: int = 8):
        super().__init__(spark, name, "vec_id", "results", n_buckets)
        self.cells_t = self._table("cells")
        self.centroids: list[list[float]] | None = None

    def _assign(self, emb: DataFrame, n: int, out: str) -> DataFrame:
        return _with_nearest_cells(
            with_norm(emb, "embedding", "dv", "norm"),
            "dv",
            "norm",
            self.centroids,
            n,
            out,
        )

    def _append_cells(self, batch: DataFrame, mode: str) -> None:
        cells = self._assign(batch, 1, "cells").select(
            "vec_id", "dv", "norm", F.col("cells")[0].alias("cell")
        )
        self._write(cells, self.cells_t, "cell", mode)

    def bootstrap(self, corpus: DataFrame) -> "SimIngestIndex":
        """Train the quantizer on ``corpus`` (frozen thereafter) and
        write its cell assignments, dropping any prior state first."""
        self._reset()
        self.centroids = train_centroids(corpus)
        self._append_cells(corpus, "overwrite")
        return self

    def delete(self, ids: DataFrame) -> None:
        """Retract vectors from the index (r11 verdict item 5 — the
        ANN twin of DedupIngestIndex.delete): a takedown carries ids
        only, so deletion is an idempotent tombstone append; every
        probe excludes tombstoned vectors, and ``compact`` reclaims
        the cell rows physically. The frozen quantizer is untouched —
        deletion changes cell OCCUPANCY, not cell geometry, exactly
        as in FAISS/Milvus IVF deletes."""
        self._tombstone(ids)

    def compact(self) -> None:
        """Physically drop tombstoned cell rows and per-epoch small
        files: one exchange-free rewrite, then truncate the
        tombstones. Off the serving path — probes are correct before
        and after; compaction only restores file-count and scan-size
        floors (COMPACTION_LADDER_r12.json)."""
        self._rewrite(self._live(self.cells_t), self.cells_t, "cell")
        self._clear_tombstones()

    def probe(self, probes: DataFrame, n_probe: int = N_PROBE) -> DataFrame:
        """Top-k over the CURRENT index for each (vec_id, embedding)
        probe row, without maintenance — one lazy plan over the
        bucketed cell table. Probe vectors are broadcast (query loads
        are batch-sized); the index side reads in bucket layout and
        never shuffles."""
        # tombstone exclusion (r12): deleted vectors stay physical
        # until compact(); the index scan stays shuffle-free
        index = corpus_side(self._live(self.cells_t), "cell")
        p = probe_side(
            self._assign(probes, n_probe, "cells"), F.explode("cells").alias("cell")
        )
        pairs = index.join(F.broadcast(p), ["cell"]).filter(
            F.col("neighbor_id") != F.col("probe_id")
        )
        return exact_topk(pairs).orderBy("probe_id", "rank")

    def ingest(
        self, batch: DataFrame, probes: DataFrame, n_probe: int = N_PROBE
    ) -> DataFrame:
        """Search ``probes`` (a subset of ``batch``) against the index
        as of now, durably sink the results, then fold ``batch`` into
        its cells. Eager by necessity, results sunk BEFORE the append
        (a lazily-persisted result plan reads the cells TABLE, and a
        table append invalidates dependent caches — a post-append
        action would recompute the search against an index containing
        the batch itself; the dedup-ingest ordering discipline)."""
        seq = self._log(self.probe(probes, n_probe))
        self._append_cells(batch, "append")
        return self._read_log(seq, "probe_id", "rank")


# ---------------------------------------------------------------------------
# Registered fixed-epoch ingest run: the serving loop on the driver's
# rows-only gate (trained centroids are engine-side state, so no SQL
# oracle — pytest pins the full-probe ≡ as-of-epoch brute force
# equality instead; same sanction as sim_knn_ivf).
# ---------------------------------------------------------------------------
#
# Epoch schedule over the embeddings fixture, by vec_id % 8 (disjoint,
# deterministic, fixture-independent — the dedup_ingest_epochs
# schedule verbatim; _EPOCH_MODS is imported from there):
#   bootstrap corpus : vec_id % 8 NOT IN (1, 3, 5)   (~5/8 of vectors)
#   batch 0          : vec_id % 8 = 1
#   batch 1          : vec_id % 8 = 3
#   batch 2          : vec_id % 8 = 5
# Each batch is searched against the index AS OF its epoch (bootstrap
# plus all earlier batches — so batch 1's probes can retrieve batch
# 0's vectors) and then folded in: the maintained-state semantics a
# single lazy plan cannot express.
# Retraction epoch (r12, r11 verdict item 5 — dedup_ingest's
# _DELETE_AFTER_BATCH): after batch 0 folds in, vectors with
# vec_id % 16 == 2 (a bootstrap slice — residue 2 mod 8 is never a
# batch residue) are taken down; batches 1 and 2 search the index
# minus the deleted vectors. The pytest full-probe differential
# recomputes each epoch's brute-force reference from the merged
# (insert - delete) corpus, so the tombstone exclusion is certified
# at n_probe = N_CELLS exactly like the append path.
_DELETE_MOD16 = 2


def _epoch_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[DataFrame, DataFrame]]]:
    emb = load_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    residue = F.col("vec_id") % 8
    j = (F.col("vec_id") / 8).cast("long")
    is_probe = (j % SIM_INGEST_PROBE_STRIDE == 0) & (
        j / SIM_INGEST_PROBE_STRIDE < SIM_INGEST_MAX_PROBES_PER_BATCH
    )
    boot = emb.filter(~residue.isin(*_EPOCH_MODS))
    batches = [
        (emb.filter(residue == m), emb.filter((residue == m) & is_probe))
        for m in _EPOCH_MODS
    ]
    return boot, batches


def run_ingest_epochs(
    spark: SparkSession, sf_dir: str, n_probe: int = N_PROBE
) -> DataFrame:
    """Execute the fixed-epoch loop (bootstrap + three ingests) and
    return the durable result log (batch_seq, probe_id, neighbor_id,
    score, rank). Parameterized on n_probe for the pytest full-probe
    differential and the ladder tool."""
    import hashlib

    key = hashlib.md5(
        f"{spark.sparkContext.applicationId}|{sf_dir}|{n_probe}".encode()
    ).hexdigest()[:10]
    idx = SimIngestIndex(spark, f"sim_ingest_{key}")
    boot, batches = _epoch_frames(spark, sf_dir)
    idx.bootstrap(boot)
    for seq, (batch, probes) in enumerate(batches):
        idx.ingest(batch, probes, n_probe)
        if seq == _DELETE_AFTER_BATCH:
            idx.delete(
                boot.filter(F.col("vec_id") % 16 == _DELETE_MOD16).select(
                    "vec_id"
                )
            )
    return (
        spark.table(idx.log_t)
        .select("batch_seq", "probe_id", "neighbor_id", "score", "rank")
        .orderBy("batch_seq", "probe_id", "rank")
    )


@session_cached
def _ingest_epoch_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ingest_epochs(spark, sf_dir, N_PROBE)


@register("sim_ingest_epochs", oracle_sql=None)
def sim_ingest_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained-index ANN serving loop as a driver-gated query (r10
    verdict item 4; delete epoch r12, r11 verdict item 5): train an
    IVF quantizer on ~5/8 of the embedding corpus, persist the
    cell-assigned index as a bucketed table, then ingest three fixed
    vector batches in sequence — each batch's probe subset (4%) is
    searched top-k against the index AS OF its epoch, results
    durably sunk, and the batch folded into its cells. Between
    batches 0 and 1 a deterministic bootstrap slice (vec_id % 16 ==
    2) is RETRACTED (tombstones; the frozen quantizer is untouched —
    deletes change cell occupancy, not geometry), so batches 1 and 2
    can never retrieve a taken-down vector. Returns the result log:
    (batch_seq, probe_id, neighbor_id, score, rank).

    Rows-only by construction (the trained centroids are engine-side
    state — the sim_knn_ivf sanction); the correctness gate is the
    pytest differential in tests/test_sim_ingest.py: at n_probe =
    N_CELLS the loop's every epoch is pinned EQUAL to a brute-force
    top-k over the index as of that epoch, and default-n_probe
    recall@k is floor-checked against the same reference.

    DEFERRED + session-cached: the loop materializes each epoch's
    results before appending (see SimIngestIndex.ingest); one run per
    (session, corpus). Scale: per-batch cost is probe-side-only —
    assignment is map-only against the frozen centroids, the index
    side of the search never shuffles (broadcast probes over the
    bucketed scan), and maintenance appends one batch-sized frame;
    the rebuild alternative pays quantizer retraining plus a full
    corpus reassignment per batch (measured ladder:
    SIM_INGEST_LADDER_r11.json).
    """
    from map_reduce_spark.plans.deferred import deferred

    return deferred(
        spark,
        "batch_seq BIGINT NOT NULL, probe_id BIGINT, neighbor_id BIGINT, "
        "score DOUBLE, rank INT",
        lambda: _ingest_epoch_run(spark, sf_dir),
    )
