"""Session-scoped index caching for derived tables, under a byte budget.

Several operator families build a derived "index" table from the raw
corpus — the shingle inverted-index feed, the verified near-dup pair
set, SimHash fingerprints, ANN sign-sketches. Each is built once and
consumed by multiple queries (and multiple times inside one query's
plan), so the session-lifetime discipline is: build on first request,
persist, reuse thereafter. That is the in-session analogue of a
pipeline writing its index table to storage once per corpus snapshot,
which is what a 100 TB deployment does (the persisted frames here are
all small relative to the corpus: ids + fingerprints, never payloads).

Keyed by (applicationId, sf_dir) so a fresh session or a different
corpus dir rebuilds, and repeated calls in one session do not.

BYTE BUDGET (r9 verdict item 4): "small relative to the corpus" is
still tens of GB once the corpus is sf10 and every index family is
resident at once — the r9 whole-registry sf10 session OOM'd a 16 GB
driver heap on exactly this accumulation. Two defenses:

1. Every frame persists at ``MEMORY_AND_DISK`` (explicitly, not the
   default), so a block that doesn't fit the storage pool spills to
   local disk instead of pressuring the heap.
2. A GLOBAL LRU across all ``session_cached`` builders: on each
   cache INSERTION the total persisted bytes (memory + disk, from
   ``SparkContext.getRDDStorageInfo`` — one driver-local RPC) is
   compared against ``MRS_SESSION_CACHE_BUDGET_BYTES`` (env; default
   min(8 GiB, 0.45 x JVM max heap) — ~7.2 GiB on the 16 GB default
   heap, the headroom-derived sizing of r10 verdict item 2) and
   least-recently-used entries are unpersisted
   AND forgotten until the total fits. Eviction is always safe for
   correctness — builders are pure functions of (spark, sf_dir), so
   a later request transparently rebuilds (it costs the one index
   build the cache was amortizing, nothing else). The entry just
   touched is never evicted, so a plan under construction keeps its
   own index.

ENFORCEMENT CADENCE (r11, ADVICE r10 + a measured correction): r10
enforced on every hit, which had two pathologies. (a) Cost (measured
r11: ``getRDDStorageInfo`` is ~0.25 ms per call on this host): a
registry sweep's ~2k ``session_cached`` calls spent ~0.5 s of pure
driver RPC — mostly waste on hits (a hit inserts nothing).
(b) Thrash: the measured total includes transient per-query caches
sharing the storage pool — honest heap pricing, but per-hit
enforcement meant one corpus-sized transient cache kept the budget
permanently exceeded and every touch evicted all indexes outside the
``_KEEP_RECENT`` protected set.

The first r11 cut enforced on INSERT ONLY — and the sf10
single-session sweep promptly OOM'd a broadcast build 15 queries in:
a frame persists LAZILY, so its bytes land AFTER its own insert-time
check, and a long hit-only stretch (one query building one big index
then probing it repeatedly alongside corpus-sized transients) now
accumulated heap with no enforcement point at all. The measured
middle ground: enforce on every insert AND on at most every
``_ENFORCE_EVERY``-th call overall — pool pressure is re-checked
within a bounded staleness window (~8 calls), the RPC cost drops to
~1/8 of r10's, and the pathological always-over-budget thrash is
bounded to one eviction sweep per window instead of per touch.
"""

from __future__ import annotations

import functools
import os
from collections import OrderedDict
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_V = TypeVar("_V")

# (applicationId, sf_dir, builder qualname) -> persisted frame, in
# least-recently-used order (first = coldest).
_LRU: OrderedDict[tuple[str, str, str], DataFrame] = OrderedDict()

# Budget ceiling; the effective default scales with the measured JVM
# heap (see _budget_bytes) so a 16 GB driver is not asked to hold the
# same resident index set as the 64 GB sessions the constant was
# originally sized on (r10 verdict item 2: the fixed 8 GiB budget at
# a 16 GB heap left ~zero storage headroom over the unified pool and
# the memory-heaviest entries swung 2-3x with cache/GC state).
_DEFAULT_BUDGET_CAP = 8 << 30  # 8 GiB
# Fraction of the JVM max heap the default budget may claim. Spark's
# unified pool is spark.memory.fraction (0.6) of (heap - 300 MB);
# MEMORY_AND_DISK blocks past the storage share spill rather than
# OOM, so the budget's job is bounding rebuild/spill churn, not heap
# safety (the r11 sf10 OOM class was mis-planned broadcasts + lazy
# ContextCleaner GC, both fixed at their own sites). Measured at
# sf10 (17-query prefix, 16 GB heap): the first embedding-pair-index
# consumer built in 90 s under a ~7 GiB budget vs 155 s under
# 4.8 GiB (solo 47.6 s) — a tighter budget just converts cache
# residency into mid-chain rebuilds. 0.45 x 16 GB ~= 7.2 GiB keeps
# the r10-era working set while still scaling down for smaller heaps.
_DEFAULT_BUDGET_HEAP_FRACTION = 0.45
_HEAP_BYTES_CACHE: dict[str, int] = {}

# Hit-path enforcement staleness window (see module docstring,
# "enforcement cadence"): pressure is re-checked at most once per this
# many session_cached calls.
_ENFORCE_EVERY = 8
_calls_since_enforce = 0

# Never evict the N most-recently-touched entries OF THE CURRENT
# QUERY: derived-index chains (chunk_bm25_index -> chunk_bm25_cands ->
# chunk_bm25_probes) touch their parent a call or two before the
# child, and an over-budget enforcement during the chain would
# otherwise evict the parent the next step is about to read — rebuild
# thrash inside one query (the sf10 single-session sweep showed the
# retrieval builds ~2x their solo cost from exactly this). Chains in
# this repo are at most 3 deep; 4 leaves margin.
#
# QUERY-SCOPED (r11): the protection list resets at every
# ``release_transient`` (the harness per-query drain). The r10
# LRU-order variant protected the last 4 entries FOREVER — after the
# retrieval trio at sf10, its multi-GB index frames were the most
# recent touches and therefore unevictable while the NEXT query built
# its own indexes on a 16 GB heap (measured: dedup_minhash_lsh's
# broadcast build OOM'd 15 queries into the first r11 sweep). Chain
# protection is only meaningful within one query's build, so it
# expires with the query.
_KEEP_RECENT = 4
_RECENT_TOUCHES: list[tuple[str, str, str]] = []


def _budget_bytes(spark: SparkSession) -> int:
    env = os.environ.get("MRS_SESSION_CACHE_BUDGET_BYTES")
    if env is not None:
        return int(env)
    app = spark.sparkContext.applicationId
    if app not in _HEAP_BYTES_CACHE:
        try:
            rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            _HEAP_BYTES_CACHE[app] = int(rt.maxMemory())
        except Exception:
            _HEAP_BYTES_CACHE[app] = 0  # no JVM handle: fall back to cap
    heap = _HEAP_BYTES_CACHE[app]
    if heap <= 0:
        return _DEFAULT_BUDGET_CAP
    return min(_DEFAULT_BUDGET_CAP, int(heap * _DEFAULT_BUDGET_HEAP_FRACTION))


def _persisted_bytes(spark: SparkSession) -> int:
    """Total bytes (memory + disk) of every persisted RDD in the app —
    one driver-local status RPC, no job."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def query_boundary() -> None:
    """Reset the within-query eviction protection — called by
    ``plans.transient.release_transient`` (the harness per-query
    drain), so chain protection never outlives the query whose chain
    it guards."""
    _RECENT_TOUCHES.clear()


def _touch(key: tuple[str, str, str]) -> None:
    if key in _RECENT_TOUCHES:
        _RECENT_TOUCHES.remove(key)
    _RECENT_TOUCHES.append(key)


def _enforce_budget(spark: SparkSession, keep: tuple[str, str, str]) -> None:
    global _calls_since_enforce
    _calls_since_enforce = 0
    budget = _budget_bytes(spark)
    if budget <= 0:  # 0/negative disables the cache budget entirely
        return
    protected = set(_RECENT_TOUCHES[-_KEEP_RECENT:]) | {keep}
    while _persisted_bytes(spark) > budget:
        # coldest unprotected entry (protection is touch-scoped, not
        # an LRU suffix, so a protected key can sit coldest)
        victim_key = next((k for k in _LRU if k not in protected), None)
        if victim_key is None:
            break  # only the current query's working set remains
        victim = _LRU.pop(victim_key)
        try:
            # blocking: the loop re-measures, so the release must have
            # landed before the next comparison.
            victim.unpersist(blocking=True)
        except Exception:
            pass  # session already stopped — nothing left to free


def session_cached(
    fn: Callable[[SparkSession, str], DataFrame] | None = None,
    *,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> Callable[[SparkSession, str], DataFrame]:
    """Memoize-and-persist a ``(spark, sf_dir) -> DataFrame`` builder
    per (applicationId, sf_dir), subject to the module's global LRU
    byte budget (see module docstring).

    ``level`` selects the storage level (r12, verdict item 1): dense
    vector-payload frames that are CONSUMED SEVERAL TIMES INSIDE ONE
    EXPENSIVE BUILD (the embedding pair index's augmented corpus)
    persist ``DISK_ONLY`` — their bytes then live in the OS page
    cache instead of the JVM storage pool, so the build's sort-heavy
    execution memory does not compete with its own input's cache
    residency and the build cost stops depending on how full the
    heap already is (the sf10 in-session 2x build-payer premium,
    SF10_SINGLE_SESSION_r11.json residual_decomposition)."""
    if fn is None:
        return lambda f: session_cached(f, level=level)
    qual = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        global _calls_since_enforce
        key = (spark.sparkContext.applicationId, sf_dir, qual)
        if key in _LRU:
            # Hit: recency bump; enforcement only when the staleness
            # window has lapsed (see module docstring, "enforcement
            # cadence") — bytes land lazily after inserts, so hits
            # must re-check pressure, just not on every call.
            _LRU.move_to_end(key)
            _touch(key)
            _calls_since_enforce += 1
            if _calls_since_enforce >= _ENFORCE_EVERY:
                _enforce_budget(spark, keep=key)
        else:
            _LRU[key] = fn(spark, sf_dir).persist(level)
            _touch(key)
            _enforce_budget(spark, keep=key)
        return _LRU[key]

    return wrapper


def session_memo(fn: Callable[..., _V]) -> Callable[..., _V]:
    """Memoize a driver-side ``(spark, sf_dir, *args) -> value`` builder
    per (applicationId, sf_dir, *args) — the key ``session_cached``
    uses, plus any extra hashable arguments (a model's k and round
    count) — so a fixture dir regenerated at the same path in a NEW
    session never reuses a stale value. For small plain-Python results
    (trained models, vocabularies, fixture dimensions, corpus counts):
    nothing is persisted, so the byte budget does not apply.
    ``cache_clear()`` forgets every entry, as on ``functools.cache``."""
    memo: dict[tuple, _V] = {}

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str, *args) -> _V:
        key = (spark.sparkContext.applicationId, sf_dir, *args)
        if key not in memo:
            memo[key] = fn(spark, sf_dir, *args)
        return memo[key]

    wrapper.cache_clear = memo.clear
    return wrapper
