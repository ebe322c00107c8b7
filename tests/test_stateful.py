"""Custom stateful streaming operator tests: per-user running totals
via applyInPandasWithState must carry state ACROSS micro-batches and
converge to the batch aggregate (SURVEY.md §2.3 streaming row)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from map_reduce_spark.sources import load_table
from map_reduce_spark.streaming.stateful import user_running_totals

EVENTS_TYPED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def test_running_totals_accumulate_across_microbatches(spark, sf_dir, tmp_path):
    # Split the fixture into 3 files and rate-limit the file source to
    # 1 file per trigger so AvailableNow drains it in 3 micro-batches —
    # state must survive between them.
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_split")
    events.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_TYPED_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        user_running_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_running")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table("t_running")

    # >1 emission per user proves the operator ran across micro-batches
    # with persistent state (3 batches x ~every user in each).
    per_user_emissions = emitted.groupBy("user_id").count()
    assert per_user_emissions.filter(F.col("count") > 1).count() > 0

    # n_events only grows, so the max-n row per user is the final state;
    # it must equal the batch groupBy exactly.
    final = (
        emitted.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    joined = final.alias("f").join(batch.alias("b"), "user_id").select(
        "user_id",
        F.col("f.n_events").alias("fn"),
        F.col("b.n_events").alias("bn"),
        F.col("f.total_value").alias("ft"),
        F.col("b.total_value").alias("bt"),
    )
    rows = joined.collect()
    assert len(rows) == batch.count() == final.count()
    for r in rows:
        assert r.fn == r.bn, (r.user_id, r.fn, r.bn)
        assert abs(r.ft - r.bt) < 1e-6, (r.user_id, r.ft, r.bt)


def test_only_key_and_value_reach_the_python_reducer(spark, sf_dir):
    """The reducer reads only ``value`` and the group size, and Catalyst
    cannot prune columns through a Python UDF: the stateful node's
    child must already be projected to the key and ``value``."""
    from map_reduce_spark.streaming.streams import read_events_stream

    node = (
        user_running_totals(read_events_stream(spark, sf_dir))
        ._jdf.queryExecution()
        .analyzed()
    )
    while node.nodeName() != "FlatMapGroupsInPandasWithState":
        children = node.children()
        assert children.size() == 1, node.nodeName()
        node = children.apply(0)
    out = node.child().output()
    assert [out.apply(i).name() for i in range(out.size())] == ["user_id", "value"]
