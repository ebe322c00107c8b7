"""Laziness pins for the deferred-builder family (r5 verdict item 4).

Until r6 the streaming/ANN/connected-components builders ran real
Spark jobs at BUILD time (sanctioned but costly: any tool building all
registered queries paid ~10 s of replays and training). They now
return ``plans.deferred.DeferredDataFrame`` proxies. These tests pin:

- building every deferred entry runs ZERO Spark jobs (job-group probe,
  same technique as tests/test_percentiles.py::test_builder_is_lazy);
- schema / columns / dtypes are served pre-materialization and match
  the MATERIALIZED result exactly (names + types), so audits see the
  truth;
- the first action materializes once, the thunk never re-runs, and
  the result flows through ordinary DataFrame methods (isinstance,
  filter, count) — i.e. the proxy is a drop-in DataFrame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from map_reduce_spark.plans.deferred import DeferredDataFrame, deferred
from map_reduce_spark.registry import load_all

# Families whose builders MUST return a DeferredDataFrame (streaming
# replays, trained-index ANN, iterative fixpoints). Used as a floor —
# the probe below discovers the actual deferred set from the registry
# so newly added replays can't silently drop out of coverage (the
# r7 additions did exactly that under the old static list).
DEFERRED_FLOOR = {
    "streaming_tumbling_type_counts",
    "streaming_error_click_join",
    "streaming_stateful_user_totals",
    "sim_knn_ivf",
    "sim_knn_pq",
    "sim_knn_ivfpq",
    "dedup_duplicate_clusters",
}


def test_all_builders_run_zero_jobs_at_build(spark, sf_dir):
    """Discover the deferred set from the ENTIRE registry (a hand-kept
    list rotted in r7), then probe that building + introspecting every
    deferred entry schedules zero Spark jobs. Plain builders are
    allowed their parquet schema-inference metadata jobs (the
    documented QuerySpec contract), so the zero-jobs assertion applies
    to the deferred family only — built a second time here, which is
    free because a deferred build only stores a thunk."""
    specs = load_all()
    built = {n: s.builder(spark, sf_dir) for n, s in specs.items()}
    deferred_names = {
        n for n, df in built.items() if isinstance(df, DeferredDataFrame)
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("deferred_build_probe", "deferred laziness probe")
    try:
        built = {n: specs[n].builder(spark, sf_dir) for n in deferred_names}
        for df in built.values():
            _ = df.columns  # introspection must stay free
            _ = df.schema
            _ = df.dtypes
    finally:
        sc.setJobGroup("", "")
    jobs = tracker.getJobIdsForGroup("deferred_build_probe") or []
    assert not jobs, f"deferred builders ran {len(jobs)} jobs at build: {jobs}"
    assert DEFERRED_FLOOR <= deferred_names, (
        f"missing deferred entries: {DEFERRED_FLOOR - deferred_names}"
    )
    # every streaming replay must be deferred (a drained AvailableNow
    # query has no lazily-returnable batch result)
    streaming = {n for n in specs if n.startswith("streaming_")}
    assert streaming <= deferred_names, (
        f"non-deferred streaming replays: {streaming - deferred_names}"
    )
    for name in deferred_names:
        df = built[name]
        assert isinstance(df, DataFrame), name
        assert not df.is_materialized, name


@pytest.mark.parametrize(
    "name",
    # one cheap representative per family, each checked on its own;
    # test_every_deferred_schema_matches_materialized covers the rest
    ["streaming_tumbling_type_counts", "sim_knn_ivf", "dedup_duplicate_clusters"],
)
def test_declared_schema_matches_materialized(spark, sf_dir, name):
    specs = load_all()
    df = specs[name].builder(spark, sf_dir)
    declared = list(df.dtypes)
    declared_cols = list(df.columns)
    n = df.count()  # first action: materializes
    assert n >= 0
    assert df.is_materialized
    assert list(df.dtypes) == declared, name
    assert list(df.columns) == declared_cols, name


def test_every_deferred_schema_matches_materialized(spark, sf_dir):
    """Every deferred entry — discovered from the registry, as in
    test_all_builders_run_zero_jobs_at_build — declares exactly the
    column names and dtypes its materialized result has. All
    mismatches are reported at once."""
    specs = load_all()
    built = {n: s.builder(spark, sf_dir) for n, s in specs.items()}
    deferred_names = sorted(
        n for n, df in built.items() if isinstance(df, DeferredDataFrame)
    )
    mismatches = []
    for name in deferred_names:
        df = built[name]
        declared = list(df.dtypes)
        declared_cols = list(df.columns)
        assert df.count() >= 0  # first action: materializes
        assert df.is_materialized, name
        if list(df.dtypes) != declared or list(df.columns) != declared_cols:
            mismatches.append((name, declared, list(df.dtypes)))
    assert not mismatches, mismatches


def test_thunk_runs_once_and_delegates():
    calls = []

    class FakeSpark:  # deferred() only stores it until materialization
        pass

    def thunk():
        calls.append(1)
        raise RuntimeError("boom")  # prove access reaches the thunk

    # a StructType (not DDL) keeps construction session-free
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("a", T.LongType())])
    proxy = DeferredDataFrame(FakeSpark(), schema, thunk)
    assert proxy.columns == ["a"]
    assert proxy.dtypes == [("a", "bigint")]
    assert not calls  # introspection never calls the thunk
    with pytest.raises(RuntimeError, match="boom"):
        _ = proxy.count()
    assert calls == [1]


def test_materialized_delegation_roundtrip(spark):
    """A deferred proxy over a plain local DataFrame behaves like that
    DataFrame for transformations and actions, and materializes
    exactly once."""
    calls = []

    def thunk():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "a")

    from pyspark.sql import types as T

    proxy = DeferredDataFrame(
        spark, T.StructType([T.StructField("a", T.LongType())]), thunk
    )
    assert proxy.sparkSession is spark
    assert [f.name for f in proxy.schema.fields] == ["a"]
    assert not calls
    assert proxy.filter("a >= 5").count() == 5
    assert proxy.count() == 10
    assert calls == [1]
    # post-materialization, schema comes from the real frame
    assert proxy.schema.fieldNames() == ["a"]
