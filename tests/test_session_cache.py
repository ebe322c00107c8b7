"""Session-cache byte budget (r9 verdict item 4): the global LRU
evicts cold index frames once total persisted bytes exceed the
configured budget — except the most-recently-touched working set
(dependent index chains touch parent then child, and evicting the
parent mid-chain is rebuild thrash, r10) — and an evicted entry
transparently rebuilds on the next request, so a single long-lived
session cannot accumulate unbounded index caches (the sf10
whole-registry OOM class)."""

from __future__ import annotations


def _make_builders(spark, n, calls):
    from map_reduce_spark.sources.cache import session_cached

    builders = []
    for i in range(n):
        def mk(i=i):
            def build(spark, sf_dir, _i=i):
                calls[_i] = calls.get(_i, 0) + 1
                return spark.range(1000).selectExpr("id", f"id * {_i + 2} AS x")

            # distinct qualname BEFORE decoration — it is the cache key
            build.__qualname__ = f"budget_probe_{i}"
            return session_cached(build)

        builders.append(mk())
    return builders


def _drop_probes(prefix="/bud"):
    from map_reduce_spark.sources.cache import _LRU

    for key in [k for k in _LRU if k[1].startswith(prefix)]:
        _LRU.pop(key).unpersist()


def test_budget_evicts_cold_entries_and_rebuilds(spark, monkeypatch):
    monkeypatch.setenv("MRS_SESSION_CACHE_BUDGET_BYTES", "1")
    from map_reduce_spark.sources.cache import _KEEP_RECENT, _LRU

    calls: dict[int, int] = {}
    n = _KEEP_RECENT + 2  # oldest two fall outside the protected set
    builders = _make_builders(spark, n, calls)
    try:
        for b in builders:
            assert b(spark, "/bud") .count() == 1000
        # over a 1-byte budget only the protected working set survives
        live = [k for k in _LRU if k[1] == "/bud"]
        assert len(live) == _KEEP_RECENT
        # evicted entry rebuilds on demand — correctness unaffected
        assert builders[0](spark, "/bud").count() == 1000
        assert calls[0] == 2
        # the most recent entries were never evicted (no thrash)
        assert calls[n - 1] == 1 and calls[n - 2] == 1
    finally:
        _drop_probes()


def test_generous_budget_keeps_entries_resident(spark, monkeypatch):
    monkeypatch.setenv("MRS_SESSION_CACHE_BUDGET_BYTES", str(8 << 30))

    calls: dict[int, int] = {}
    (build,) = _make_builders(spark, 1, calls)
    try:
        build(spark, "/bud2").count()
        build(spark, "/bud2").count()
        assert calls[0] == 1  # memoized, no rebuild under budget
    finally:
        _drop_probes("/bud2")


def test_protection_expires_at_query_boundary(spark, monkeypatch):
    """r11: the recent-working-set protection is QUERY-scoped — after
    release_transient (the harness per-query drain), a prior query's
    index frames are evictable even though they were the most recent
    touches (the r11 sf10 sweep OOM'd on exactly the unexpiring-
    protection variant)."""
    from map_reduce_spark.plans.transient import release_transient
    from map_reduce_spark.sources.cache import _KEEP_RECENT, _LRU

    monkeypatch.setenv("MRS_SESSION_CACHE_BUDGET_BYTES", "1")
    calls: dict[int, int] = {}
    builders = _make_builders(spark, _KEEP_RECENT + 1, calls)
    try:
        for b in builders[:_KEEP_RECENT]:  # "query 1" builds a chain
            b(spark, "/bud3").count()
        assert len([k for k in _LRU if k[1] == "/bud3"]) == _KEEP_RECENT
        release_transient()  # query boundary: protection expires
        builders[_KEEP_RECENT](spark, "/bud3").count()  # "query 2"
        # the new insert's enforcement could evict ALL of query 1's
        # frames (they are no longer protected); only query 2's own
        # touch is guaranteed resident
        live = [k for k in _LRU if k[1] == "/bud3"]
        assert len(live) == 1
        assert live[0][2].endswith(f"budget_probe_{_KEEP_RECENT}")
    finally:
        _drop_probes("/bud3")


def test_session_memo_keys_extra_args(spark):
    """``session_memo`` keys on (applicationId, sf_dir, *args): a
    repeated call is a hit, a different extra argument is a new entry,
    and ``cache_clear()`` forgets every entry."""
    from map_reduce_spark.sources.cache import session_memo

    calls = []

    @session_memo
    def build(spark, sf_dir, k):
        calls.append(k)
        return k * 10

    assert build(spark, "/memo", 1) == 10
    assert build(spark, "/memo", 1) == 10
    assert build(spark, "/memo", 2) == 20
    assert calls == [1, 2]
    build.cache_clear()
    build(spark, "/memo", 1)
    build(spark, "/memo", 2)
    assert calls == [1, 2, 1, 2]
