"""Structured Streaming tests: batch/stream parity under
Trigger.AvailableNow (deterministic replay), session windows,
streaming dedup — SURVEY.md §7 Step 4."""

from __future__ import annotations

import pandas as pd
from check_oracle import canon

from map_reduce_spark.registry import load_all
from map_reduce_spark.streaming.events_batch import events_tumbling_1h
from map_reduce_spark.streaming.streams import (
    events_state_dims,
    read_events_stream,
    run_available_now,
    session_window_stats,
    sliding_counts,
    state_width,
    stream_stream_error_click_join,
    streaming_dedup,
    tumbling_counts,
)


def test_tumbling_stream_equals_batch(spark, sf_dir):
    """The streaming tumbling agg must produce exactly the batch
    result once the stream is drained (complete mode, no late data
    beyond watermark in a replay)."""
    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    got = run_available_now(
        stream,
        "t_tumbling",
        width=state_width(spark, sf_dir),
        output_mode="complete",
        state_rows_bound=100_000,
    ).toPandas()
    batch = events_tumbling_1h(spark, sf_dir).drop("n_users").toPandas()
    pd.testing.assert_frame_equal(canon(got), canon(batch))


def test_sliding_stream_equals_batch(spark, sf_dir):
    stream = sliding_counts(read_events_stream(spark, sf_dir))
    got = run_available_now(
        stream,
        "t_sliding",
        width=state_width(spark, sf_dir),
        output_mode="complete",
        state_rows_bound=100_000,
    ).toPandas()
    batch = load_all()["events_sliding_1h_30m"].builder(spark, sf_dir).toPandas()
    pd.testing.assert_frame_equal(canon(got), canon(batch))


def test_session_windows(spark, sf_dir):
    stream = session_window_stats(read_events_stream(spark, sf_dir))
    got = run_available_now(
        stream,
        "t_sessions",
        width=state_width(spark, sf_dir),
        output_mode="complete",
        state_rows_bound=100_000,
    ).toPandas()
    assert len(got) > 0
    # session bounds are ordered and grouped per user
    assert (got["session_start"] <= got["session_end"]).all()
    # every event lands in exactly one session
    assert got["n_events"].sum() == 1000 * (0.001 / 0.001)  # sf0.001: 1000 events


def test_memory_sink_requires_and_enforces_state_bound(spark, sf_dir, tmp_path):
    """The replay harness's state-bound contract (r9 verdict item 6):
    complete/update-mode replays must DECLARE a state-sized row bound,
    and a replay whose sunk output exceeds its declared bound raises
    instead of silently tracking stream length. The sunk count is
    summed from the sink's parquet footers, so it must be exact across
    an update-mode replay's ``b<id>`` batch dirs.
    """
    import os

    import pytest

    from map_reduce_spark.sources import load_table
    from map_reduce_spark.streaming.stateful import user_running_totals

    # missing bound: rejected before the query even starts
    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    with pytest.raises(ValueError, match="state_rows_bound"):
        run_available_now(stream, "t_nobound", width=1, output_mode="complete")

    # violated bound: the drain raises loudly
    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    with pytest.raises(RuntimeError, match="state bound"):
        run_available_now(
            stream, "t_tinybound", width=1, output_mode="complete", state_rows_bound=1
        )

    # update mode over 3 micro-batches (3 source files, 1 per trigger):
    # the bound holds at exactly the read-back's row count and fails
    # one below it
    src = str(tmp_path / "events_split")
    load_table(spark, sf_dir, "events").repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def replay(name, bound):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return run_available_now(
            user_running_totals(stream),
            name,
            width=1,
            output_mode="update",
            state_rows_bound=bound,
        )

    got = replay("t_multibatch_loose", 10**9)
    assert len({os.path.dirname(f) for f in got.inputFiles()}) == 3
    n = got.count()
    assert replay("t_multibatch_exact", n).count() == n
    with pytest.raises(RuntimeError, match="state bound"):
        replay("t_multibatch_tight", n - 1)


def test_registered_memory_sink_replays_fit_declared_bounds(spark, sf_dir):
    """Both complete/update-mode registered entries the r9 verdict
    flagged drain INSIDE their declared a-priori state bounds — the
    bound is computed from fixture key dimensions in the builder, and
    run_available_now raises on violation, so a green drain here IS
    the bound assertion."""
    reg = load_all()
    for name in ("streaming_session_windows", "streaming_stateful_user_totals"):
        assert reg[name].builder(spark, sf_dir).count() > 0


def test_replay_result_survives_rerun(spark, sf_dir):
    """ADVICE r9: a replay's returned DataFrame must stay collectable
    after a later replay of the SAME query name (each replay sinks to
    a fresh per-session directory; nothing rmtree's live data)."""
    width = state_width(spark, sf_dir)
    first = run_available_now(
        streaming_dedup(read_events_stream(spark, sf_dir)), "t_rerun", width=width
    )
    n_first = first.count()
    second = run_available_now(
        streaming_dedup(read_events_stream(spark, sf_dir)), "t_rerun", width=width
    )
    assert second.count() == n_first
    # the first result is still fully readable — its files were not
    # deleted by the rerun
    assert first.count() == n_first


def test_state_width_does_not_change_rows(spark, sf_dir):
    """State-store width is physical layout only: the stream-stream
    join and the stateful user-totals replay give the same sorted rows
    at width 1 and at defaultParallelism."""
    from map_reduce_spark.streaming.stateful import user_running_totals

    wide = spark.sparkContext.defaultParallelism
    assert wide > 1
    n_users, _, _ = events_state_dims(spark, sf_dir)
    for build, mode, bound in (
        (stream_stream_error_click_join, "append", None),
        (user_running_totals, "update", n_users),
    ):
        narrow_rows, wide_rows = (
            sorted(
                run_available_now(
                    build(read_events_stream(spark, sf_dir)),
                    f"t_width_{mode}_{w}",
                    width=w,
                    output_mode=mode,
                    state_rows_bound=bound,
                ).collect()
            )
            for w in (1, wide)
        )
        assert narrow_rows, mode
        assert narrow_rows == wide_rows, mode


_EXIT_SCRIPT = """
import os
import sys
import tempfile

from map_reduce_spark.registry import load_all
from map_reduce_spark.session import get_spark

spark = get_spark("replay_exit", master="local[2]", shuffle_partitions=2)
reg = load_all()
for name in (
    "streaming_checkpoint_recovery",
    "streaming_idempotent_sink",
    "streaming_dedup_exactly_once",
):
    print(name, reg[name].builder(spark, sys.argv[1]).count())
print(*sorted(os.listdir(tempfile.gettempdir())))
"""


def test_replay_scratch_removed_at_exit(sf_dir, tmp_path):
    """Every replay's scratch state (source copies, checkpoints, sink
    output) lives under one per-session root that is gone once the
    process exits — the two restart replays included."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ, PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(tmp)
    )
    out = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    # the run really wrote its replays under the scratch dir
    assert "mrs_replay_" in out.stdout.splitlines()[-1], out.stdout
    left = [d for d in os.listdir(tmp) if d.startswith("mrs_")]
    assert left == [], left


def test_streaming_dedup_is_noop_on_unique_ids(spark, sf_dir):
    stream = streaming_dedup(read_events_stream(spark, sf_dir))
    got = run_available_now(stream, "t_dedup", width=state_width(spark, sf_dir))
    assert got.count() == 1000  # event_ids are unique in the fixture


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """The watermarked interval join over the replayed stream must
    produce exactly the rows of the equivalent static self-join."""
    from map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    stream = stream_stream_error_click_join(read_events_stream(spark, sf_dir))
    got = run_available_now(
        stream, "t_ssjoin", width=state_width(spark, sf_dir)
    ).toPandas()

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("error_ts"),
        F.col("event_id").alias("error_id"),
    )
    want = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("error_ts")),
        "inner",
    ).select("error_id", "e_user", "error_ts", "click_id", "click_ts").toPandas()
    assert len(got), "fixture should produce interval-join matches"
    pd.testing.assert_frame_equal(canon(got), canon(want))


def test_watermark_drops_late_rows_across_microbatches(spark, tmp_path_factory):
    """Late-data eviction OBSERVED, not just configured: a row arriving
    after the watermark passed its window is excluded from the
    append-mode tumbling aggregate.

    Three files replayed as three microbatches (maxFilesPerTrigger=1,
    order pinned via mtimes). Spark's late-event filter uses the
    PREVIOUS batch's watermark (watermarkForLateEvents lags
    watermarkForEviction by one batch since 3.4), so the schedule is:
    batch 0 (events 10:05, 10:20, 12:30) advances the 1 h watermark to
    11:30; batch 1 (on-time 11:45) runs with eviction watermark 11:30,
    finalizing + emitting the [10:00, 11:00) window; batch 2 then
    delivers a LATE 10:15 row — its window end (11:00) is behind the
    late-event watermark (11:30), so the row is dropped (the run's
    numRowsDroppedByWatermark shows exactly 1). The drained result
    counts only batch 0's two rows in the 10:00 window, while a plain
    batch GROUP BY over the same files counts 3 — that difference is
    the eviction that makes streaming state bounded at scale.
    """
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("late_events")

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            {
                "event_id": list(range(len(rows))),
                "ts": pd.to_datetime([f"2024-01-01 {t}" for t, _ in rows]),
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [v for _, v in rows],
                "props": ["{}"] * len(rows),
            }
        )
        path = str(d / name)
        # microsecond timestamps: the vanilla reader must see a plain
        # TIMESTAMP column (the fixture's nanos handling is elsewhere)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(
            table, path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (mtime, mtime))

    base = time.time() - 1000
    write("a.parquet", [("10:05", 1.0), ("10:20", 2.0), ("12:30", 3.0)], base)
    write("b.parquet", [("11:45", 5.0)], base + 100)
    write("c.parquet", [("10:15", 100.0), ("13:00", 4.0)], base + 200)

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.date_format("w.start", "HH:mm").alias("h"), "n", "total")
    )
    got = {
        r.h: (r.n, r.total)
        for r in run_available_now(agg, "late_drop_test", width=1).collect()
    }
    # The late 10:15 row (value 100) must NOT be in the 10:00 window.
    assert got["10:00"] == (2, 3.0), got
    # The on-time 11:45 row was finalized and emitted normally.
    assert got["11:00"] == (1, 5.0), got
    # Control: a plain batch aggregate over the same files DOES count
    # the late row — the difference is the eviction under test.
    batch = {
        r.h: (r.n, r.total)
        for r in spark.read.parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.date_format("w.start", "HH:mm").alias("h"), "n", "total")
        .collect()
    }
    assert batch["10:00"] == (3, 103.0), batch


def test_checkpoint_recovery_resumes_exactly_once(spark, tmp_path_factory):
    """Exactly-once across RESTARTS, observed: a stateful stream is
    drained, STOPPED, new data arrives, and a fresh query restarted
    from the same checkpoint processes ONLY the new file — the drained
    union equals one batch pass over all data, with no re-emission or
    double-count of the first run's input.

    This is the operational property a 100 TB pipeline leans on: the
    checkpoint (source offsets + state store) is the contract that a
    crashed/redeployed job resumes where it left off. AvailableNow +
    file source + update-mode memory sink; the second run's sink
    receives only groups touched by the new file, and its n reflects
    first-run state (3, not 1) — proof the state store was restored,
    not rebuilt."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("ckpt_src")
    ckpt = str(tmp_path_factory.mktemp("ckpt_state"))

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            {
                "event_id": list(range(len(rows))),
                "ts": pd.to_datetime([f"2024-01-01 {t}" for t, _ in rows]),
                "user_id": [u for _, u in rows],
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        path = str(d / name)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(
            table, path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (mtime, mtime))

    base = time.time() - 1000
    write("a.parquet", [("10:05", 1), ("10:20", 1), ("10:40", 2)], base)

    schema = spark.read.parquet(str(d)).schema

    def run_once(qname):
        # memory sink refuses checkpoint recovery; foreachBatch is the
        # recoverable sink (same mechanism a parquet/Delta upsert uses)
        got: dict[int, int] = {}

        def sink(batch_df, _batch_id):
            for r in batch_df.collect():
                got[r.user_id] = r.n

        stream = spark.readStream.schema(schema).parquet(str(d))
        counts = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        q = (
            counts.writeStream.foreachBatch(sink)
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    first = run_once("ckpt_run1")
    assert first == {1: 2, 2: 1}

    write("b.parquet", [("11:05", 1)], base + 100)
    second = run_once("ckpt_run2")
    # update-mode sink after restart: ONLY the group touched by the new
    # file appears, and its count includes the RESTORED first-run state
    assert second == {1: 3}, second


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(
    spark, tmp_path_factory
):
    """Stream-stream LEFT OUTER join semantics observed: unmatched left
    rows are emitted with NULL right columns only once the watermark
    passes their join-condition horizon (until then they sit in state
    as potential matches). This is the join mode the inner interval
    join cannot show — the null emission IS the state eviction.

    Two file streams (errors, clicks), errors LEFT OUTER clicks within
    [error_ts, error_ts + 30 min]. File 1 plants one matched and one
    unmatched error; file 2 only advances event time by 2 h, pushing
    the watermark past the unmatched error's horizon. The drained
    result must hold exactly one matched row and one null-extended
    row — a plain batch left join over the same data gives the same
    rows, but streaming got there incrementally with bounded state."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("outer_src")

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            {
                "event_id": [i for i, *_ in rows],
                "ts": pd.to_datetime([t for _, t, _ in rows]),
                "user_id": [u for *_, u in rows],
                "event_type": ["x"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        path = str(d / name)
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(
            table, path, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (mtime, mtime))

    base = time.time() - 1000
    # errors 1 (user 1, matched) and 2 (user 2, no click ever);
    # click for user 1 ten minutes after the error
    write(
        "a.parquet",
        [
            (1, "2024-01-01 10:00:00", 1),
            (2, "2024-01-01 10:00:00", 2),
            (100, "2024-01-01 10:10:00", 1),
        ],
        base,
    )
    # stragglers advancing event time 2 h — on BOTH sides: each
    # watermark node only sees rows that pass its own side's filter,
    # and the join's global watermark is the min of the two, so a
    # one-sided straggler would pin the global watermark at 10:00
    # forever. The eviction emission then lands in the NEXT batch
    # (watermarks apply one batch behind, same as the late-drop test
    # above) — file c exists to BE that next batch.
    write(
        "b.parquet",
        [(3, "2024-01-01 12:30:00", 97), (999, "2024-01-01 12:30:00", 99)],
        base + 100,
    )
    write(
        "c.parquet",
        [(4, "2024-01-01 14:00:00", 96), (998, "2024-01-01 14:00:00", 98)],
        base + 200,
    )

    schema = spark.read.parquet(str(d)).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    errors = (
        src.filter(F.col("event_id") < 100)
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", "0 seconds")
    )
    clicks = (
        src.filter(F.col("event_id") >= 100)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "0 seconds")
    )
    joined = errors.join(
        clicks,
        (F.col("e_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("error_ts"))
        & (F.col("click_ts") <= F.col("error_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_outer_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # errors 3 and 4 are watermark-advancing stragglers whose own
    # horizons the final watermark never passes — they stay in state
    got = {
        (r.error_id, r.click_id)
        for r in spark.sql("SELECT * FROM t_outer_join").collect()
        if r.error_id in (1, 2)
    }
    assert got == {(1, 100), (2, None)}, got
