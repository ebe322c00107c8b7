"""Registered event-stream analytics over the ``events`` table.

Two kinds of entry. The ``events_*`` builders are the *batch twins*
of the Structured Streaming queries in ``streaming/streams.py`` —
same window semantics (tumbling/sliding), expressed over the static
table. The ``streaming_*`` builders replay the fixture through a real
streaming query (``streams.run_available_now`` or one of the two
restart replays), drained on first action behind a deferred proxy.
Structured Streaming guarantees batch/stream result parity for these
plans, so the DuckDB oracle checks both kinds with batch SQL.

Also covers the JSON scalar-function surface (the `props` column) —
SURVEY.md §2.3 "Array / map / JSON fns".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.plans.deferred import deferred
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_table
from map_reduce_spark.streaming.stateful import user_running_totals
from map_reduce_spark.streaming.streams import (
    checkpoint_recovery_totals,
    events_source_files,
    events_state_dims,
    idempotent_sink_replay,
    left_outer_error_click_join,
    read_events_stream,
    run_available_now,
    session_window_stats,
    sliding_counts,
    state_width,
    stream_static_segment_counts,
    stream_stream_error_click_join,
    streaming_dedup,
    tumbling_counts,
)


def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type (streaming-equivalent agg).

    Scale: window+type grouping is decomposable; in streaming form the
    same plan runs incrementally with a watermark bounding state.

    Not separately registered: ``events_sliding_1h_30m`` exercises the
    same window-assignment machinery (a tumbling window is the
    slide == length special case) through the driver gate; the
    batch/stream parity test drives this builder directly.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sliding_1h_30m",
    oracle_sql="""
    SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM (
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               value
        FROM events
        UNION ALL
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes'),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               value
        FROM events)
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): each event lands in 2
    overlapping windows. Oracle reproduces the same assignment as two
    offset tumbling bucketings.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


@register(
    "events_type_funnel",
    oracle_sql="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 2) AS total_value,
           round(count(*) * 1.0 / (SELECT count(*) FROM events), 6) AS share
    FROM events
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
    """,
)
def events_type_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type funnel with global share (scalar subquery / cross join)."""
    ev = load_table(spark, sf_dir, "events")
    total = ev.select(F.count(F.lit(1)).alias("total"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n_events",
            "n_users",
            "total_value",
            F.round(F.col("n_events") * F.lit(1.0) / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.desc("n_events"), "event_type")
    )


@register(
    "streaming_tumbling_type_counts",
    oracle_sql="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_tumbling_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window counts, drained through a
    real streaming query and checked against the BATCH oracle.

    The events fixture is replayed as a file-source stream
    (``readStream`` + ``Trigger.AvailableNow``) through the
    watermarked tumbling aggregate in ``streams.tumbling_counts`` and
    drained in complete mode through the replay sink; Structured
    Streaming's batch/stream parity guarantee makes the drained result
    equal the static GROUP BY, which is what the DuckDB oracle
    computes. This puts the streaming engine itself — source, state
    store, watermark, sink — on the driver's correctness gate rather
    than trusting pytest alone.

    Builder-contract note: DEFERRED as of r6 — building returns a
    schema-carrying proxy instantly and the bounded AvailableNow
    replay (a streaming query has no lazily-returnable batch result)
    drains on FIRST ACTION, restoring the lazy-builder contract for
    plan audits and schema walks (``plans/deferred.py``).

    Scale: in production this plan runs incrementally — per-microbatch
    work is O(new events), state is O(open windows x types) bounded by
    the 2 h watermark, and the complete-mode sink here is only for the
    deterministic replay check (a real 100 TB stream would use append
    mode on a durable sink).
    """

    def drain() -> DataFrame:
        # Declared state bound: one row per (1h window, event type).
        _, n_types, horizon_h = events_state_dims(spark, sf_dir)
        drained = run_available_now(
            tumbling_counts(read_events_stream(spark, sf_dir)),
            "streaming_tumbling_type_counts",
            output_mode="complete",
            width=state_width(spark, sf_dir),
            state_rows_bound=(horizon_h + 1) * n_types,
        )
        return drained.orderBy("window_start", "event_type")

    return deferred(
        spark,
        "window_start string, event_type string, n_events bigint, total_value double",
        drain,
    )


@register(
    "streaming_sliding_counts",
    oracle_sql="""
    SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM (
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               value
        FROM events
        UNION ALL
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts, INTERVAL '30 minutes'),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               value
        FROM events)
    GROUP BY 1
    ORDER BY 1
    """,
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming SLIDING windows (1 h length, 30 min slide)
    drained through a real streaming replay — completes the streaming
    window-type matrix on the driver gate (tumbling, session, sliding).

    Each event lands in two overlapping open windows, so the state
    store holds twice the open-window rows of the tumbling replay and
    the watermark closes each window 2 h after its end — the overlap
    accounting is exactly what this replay puts on the gate. The
    oracle is the same two-offset-bucketings union as the batch twin
    ``events_sliding_1h_30m``; Structured Streaming's batch/stream
    parity makes the drained complete-mode result equal it.

    Builder-contract note: DEFERRED — the bounded AvailableNow replay
    drains on first action, not at build (see
    streaming_tumbling_type_counts).

    Scale: incremental production form appends closed windows; state
    is O(open windows) = 2x tumbling, still bounded by the watermark
    horizon regardless of stream length.
    """

    def drain() -> DataFrame:
        # Declared state bound: 1h windows every 30 min over the
        # horizon — two open window starts per hour, plus edges.
        _, _, horizon_h = events_state_dims(spark, sf_dir)
        drained = run_available_now(
            sliding_counts(read_events_stream(spark, sf_dir)),
            "streaming_sliding_counts",
            output_mode="complete",
            width=state_width(spark, sf_dir),
            state_rows_bound=2 * (horizon_h + 1),
        )
        return drained.orderBy("window_start")

    return deferred(
        spark,
        "window_start string, n_events bigint, total_value double",
        drain,
    )


@register(
    "streaming_session_windows",
    oracle_sql="""
    WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows (30-min inactivity gap) drained
    through a real streaming query and checked against a batch
    gaps-and-islands oracle.

    Closes the last streaming feature family off the driver gate
    (SURVEY §2.3 streaming row): ``F.session_window`` grows/merges
    per-key session state incrementally — the one window type whose
    STATE SHAPE (variable-length, merge-on-update) differs from
    tumbling/sliding — and until r6 it was pytest-only. The oracle is
    the classic lag()+running-sum sessionizer with the boundary rule
    Spark implements (verified empirically): an event exactly ``gap``
    after its predecessor MERGES (windows are closed at the boundary),
    so the oracle breaks sessions strictly-greater-than 30 min apart,
    comparing full-precision timestamps (the fixture has microsecond
    parts; a seconds-truncating date_diff would misclassify a
    1800.5 s gap). ``session_end`` is last-event-time + gap on both
    sides.

    Builder-contract note: DEFERRED (r6) — the bounded replay drains
    on first action, not at build (see streaming_tumbling_type_counts).
    Complete mode keeps every session for the deterministic replay
    check; a live deployment would use append/update with watermark
    eviction (the eviction behavior is pinned by
    tests/test_streaming.py).

    Scale: session state is O(open sessions per user horizon) under a
    watermark; merges happen only within a user's shuffle partition —
    one key-partitioned exchange, same as the batch sessionizer.
    """

    def drain() -> DataFrame:
        # Declared state bound: a user can open at most one session
        # per 30-min gap slot, so sessions <= users x (horizon/gap).
        # (Complete mode retains every session ever — this is the
        # entry whose collect an unbounded-key fixture would regrow;
        # the bound makes that failure loud, r9 verdict item 6.)
        n_users, _, horizon_h = events_state_dims(spark, sf_dir)
        drained = run_available_now(
            session_window_stats(read_events_stream(spark, sf_dir)),
            "streaming_session_windows",
            output_mode="complete",
            width=state_width(spark, sf_dir),
            state_rows_bound=n_users * 2 * (horizon_h + 1),
        )
        return drained.orderBy("user_id", "session_start")

    return deferred(
        spark,
        "user_id bigint, session_start string, session_end string, "
        "n_events bigint, total_value double",
        drain,
    )


@register(
    "streaming_dedup_exactly_once",
    oracle_sql="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           user_id, event_type, value
    FROM events
    ORDER BY event_id
    """,
)
def streaming_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once delivery (``dropDuplicatesWithinWatermark``)
    drained through a real replay with duplicates ARRANGED by
    construction and checked against the batch DISTINCT oracle.

    Completes the last streaming operator family
    (``streams.streaming_dedup``) that had batch-parity pytest but no
    driver-visible row. The fixture's event_ids are unique, so a
    single-source replay would make dedup a no-op; instead the replay
    unions the file stream WITH ITSELF — every event arrives twice in
    the microbatch — and the dedup state must collapse each pair to
    exactly one emitted row. The drained result therefore equals the
    plain events table (one row per event_id), which is what the
    oracle selects; an off-by-one in the state lookup would emit 2x
    rows and fail the row-count, a dropped key would fail the hash.

    Builder-contract note: DEFERRED, like every streaming entry
    (see streaming_tumbling_type_counts).

    Scale: dedup state is one entry per event_id within the watermark
    horizon — O(events per horizon), evicted as the watermark passes
    (eviction pinned by tests/test_streaming.py); the state store is
    hash-partitioned on event_id, a uniform key.
    """

    def drain() -> DataFrame:
        ev = read_events_stream(spark, sf_dir)
        doubled = ev.unionAll(read_events_stream(spark, sf_dir))
        drained = run_available_now(
            streaming_dedup(doubled),
            "streaming_dedup_exactly_once",
            output_mode="append",
            width=state_width(spark, sf_dir),
        )
        return drained.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "user_id",
            "event_type",
            "value",
        ).orderBy("event_id")

    return deferred(
        spark,
        "event_id bigint, ts_s string, user_id bigint, event_type string, "
        "value double",
        drain,
    )


@register(
    "events_retention_cohorts",
    oracle_sql="""
    WITH user_week AS MATERIALIZED (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
    cohort AS (
        SELECT user_id, min(wk) AS cohort_wk FROM user_week GROUP BY user_id)
    SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
           date_diff('day', cohort_wk, wk) // 7 AS week_offset,
           count(DISTINCT user_week.user_id) AS n_users
    FROM user_week JOIN cohort USING (user_id)
    GROUP BY cohort_wk, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by first-active
    week, counted in each subsequent week they return.

    The product-analytics staple. Plan: distinct (user, week) pairs
    (one decomposable agg over the scan), per-user min for the cohort
    (second agg on the already-reduced pairs), then an equi-join back
    on user_id and a count-distinct per (cohort, offset). Every
    shuffle is keyed on user_id or the tiny (cohort, offset) space and
    operates on per-user-per-week rows — a table ~10^4-10^5x smaller
    than the raw event stream at the 100 TB design point.
    """
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            F.expr("datediff(wk, cohort_wk) DIV 7").cast("long").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "streaming_error_click_join",
    oracle_sql="""
    SELECT e.event_id AS error_id,
           e.user_id AS e_user,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
           c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events e
    JOIN events c
      ON c.user_id = e.user_id
     AND c.ts >= e.ts - INTERVAL 30 MINUTE
     AND c.ts <= e.ts
    WHERE e.event_type = 'error' AND c.event_type = 'click'
    ORDER BY error_id, click_id
    """,
)
def streaming_error_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (errors x same-user clicks in the
    preceding 30 min), drained through a real two-sided-watermark
    streaming join and checked against the BATCH join oracle.

    Complements ``streaming_tumbling_type_counts`` on the gate: that
    covers source/state-store/watermark/sink through an *aggregate*;
    this covers the hardest streaming operator — the two-sided
    stream-stream join, where each side buffers rows until the other
    side's watermark passes the interval bound
    (``streams.stream_stream_error_click_join``). The replay's single
    file arrives in one microbatch, so no row is watermark-dropped and
    the drained append-mode result equals the static interval join the
    DuckDB oracle computes; the batch-parity pytest pins the same
    equality. Timestamps are formatted to whole seconds on both sides
    so the comparison is dtype-stable across fixture generations.

    Builder-contract note: DEFERRED (r6) — the bounded replay drains
    on first action, not at build (see streaming_tumbling_type_counts).

    Scale: state is O(events per 30-min-plus-watermark horizon) per
    side regardless of stream length; the join itself shuffles both
    sides on user_id — the same uniform key the batch plan uses.
    """

    def drain() -> DataFrame:
        drained = run_available_now(
            stream_stream_error_click_join(read_events_stream(spark, sf_dir)),
            "streaming_error_click_join",
            output_mode="append",
            width=state_width(spark, sf_dir),
        )
        return drained.select(
            "error_id",
            "e_user",
            F.date_format("error_ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
            "click_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        ).orderBy("error_id", "click_id")

    return deferred(
        spark,
        "error_id bigint, e_user bigint, error_ts string, "
        "click_id bigint, click_ts string",
        drain,
    )


@register(
    "streaming_stateful_user_totals",
    oracle_sql="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming reducer (``applyInPandasWithState``)
    drained through a real streaming query and checked against the
    batch aggregate oracle.

    Completes the driver-gated streaming triptych: tumbling aggregate
    (built-in windowed state), stream-stream interval join (two-sided
    buffered state), and now the ARBITRARY-Python per-key state
    surface — the reference engine's "reduce sees the full value
    stream for a key" semantics generalized to unbounded streams
    (``stateful.user_running_totals``). The replay's single fixture
    file arrives in one microbatch, so each user's sole update-mode
    emission is its final running total, which equals the batch
    GROUP BY the oracle computes; cross-microbatch accumulation
    (the part a single-batch replay cannot see) is pinned by the
    multi-batch parity test in tests/test_stateful.py.

    Builder-contract note: DEFERRED (r6) — the bounded replay drains
    on first action, not at build (see streaming_tumbling_type_counts).

    Scale: state is two scalars per user — O(distinct users) total
    regardless of stream length; each microbatch shuffles only its own
    rows on user_id (the state store is partitioned by the same key),
    projected to ``user_id`` and ``value`` before the UDF, so the
    shuffle and the Arrow batches sent to Python carry two of the six
    ``events`` columns. The state bound is checked from the sink's
    parquet footers, so the drain runs no extra count job.

    FP-boundary note (same class as sim_pairwise_label_affinity's):
    the UDF accumulates total_value via pandas' pairwise summation
    while the oracle sums sequentially in DuckDB — the two doubles can
    differ by ~1e-13, so a user total landing within that distance of
    a 0.005 half-boundary could flip round(...,2) and the hash match.
    A per-user sum of ~100 O(100) values keeps totals far from that
    knife-edge today; if a future fixture trips it, accumulate in the
    UDF with math.fsum (exact) or compare on cents-as-integers.
    """

    def drain() -> DataFrame:
        # Declared state bound: update mode emits at most one row per
        # touched user per microbatch, and the file source's batch
        # count is bounded by its input file count (every non-empty
        # batch consumes >= 1 new file — see events_source_files), so
        # <= users x files rows land in the sink. Derived, not
        # hard-coded (r10 ADVICE): a read-limit option or multi-file
        # fixture changes the file count, never breaks the bound.
        n_users, _, _ = events_state_dims(spark, sf_dir)
        drained = run_available_now(
            user_running_totals(read_events_stream(spark, sf_dir)),
            "streaming_stateful_user_totals",
            output_mode="update",
            width=state_width(spark, sf_dir),
            state_rows_bound=n_users * events_source_files(sf_dir),
        )
        return drained.select(
            "user_id", "n_events", F.round("total_value", 2).alias("total_value")
        ).orderBy("user_id")

    return deferred(
        spark, "user_id bigint, n_events bigint, total_value double", drain
    )


@register(
    "streaming_checkpoint_recovery",
    oracle_sql="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE user_id IN (
        SELECT user_id FROM events WHERE event_id % 101 = 0
    )
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint RECOVERY on the hash gate (r6 verdict item 8): a
    stateful per-user aggregate is drained under a checkpoint,
    stopped, handed ~1% more events, and RESTARTED from the same
    checkpoint; the registered result is the post-restart update-mode
    batch.

    The oracle is the batch statement of what a correct recovery must
    emit: full-history totals for exactly the users the new data
    touched. A restart that re-read phase-1 offsets would overcount;
    one that lost the state store would undercount; one that rebuilt
    from scratch would emit untouched users — each diverges from the
    oracle, so the hash match IS the recovery contract (the
    operational property pytest previously observed in
    tests/test_streaming.py::test_checkpoint_recovery_resumes_exactly_once,
    now externally checked every round). The phase-2 modulus lives in
    ``streams.CKPT_PHASE2_MOD`` and is mirrored literally in the
    oracle SQL.

    Builder-contract note: DEFERRED + session-cached — the two-run
    replay (write phase 1, drain, write phase 2, restart, drain) fires
    once per (session, corpus) on first action.

    Scale: identical state/shuffle envelope to
    streaming_stateful_user_totals (two scalars per user); the replay
    adds only the checkpoint round-trip, which is O(state + offsets),
    not O(events).
    """

    def drain() -> DataFrame:
        return checkpoint_recovery_totals(spark, sf_dir)

    return deferred(
        spark, "user_id bigint, n_events bigint, total_value double", drain
    )


@register(
    "streaming_enrich_static",
    oracle_sql="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join on the hash gate: the events
    stream joined per-microbatch to the static customer dimension
    (market segment), then aggregated per tumbling hour — the
    remaining join topology in the streaming matrix
    (tumbling/sliding/session windows, dedup, stateful totals,
    stream-stream interval join, and checkpoint recovery are already
    gated; the enrich-against-catalog-dim shape was pytest-only).

    Structured Streaming re-plans the static side into every
    microbatch, so the batch/stream parity guarantee makes the
    drained complete-mode result equal the static join + GROUP BY the
    DuckDB oracle computes.

    Scale: the static side is a broadcast dim (explicit), so each
    microbatch's join is map-side against O(new events); aggregate
    state is O(open windows x segments) bounded by the watermark. A
    slowly-changing dimension at 100 TB would swap the static frame
    for a Delta/compacted snapshot re-read per trigger — same plan
    shape.
    """

    def drain() -> DataFrame:
        # Declared state bound: one row per (1h window, market
        # segment); TPC-H has 5 segments — 8 is a safe static cap.
        _, _, horizon_h = events_state_dims(spark, sf_dir)
        drained = run_available_now(
            stream_static_segment_counts(
                read_events_stream(spark, sf_dir),
                load_table(spark, sf_dir, "customer"),
            ),
            "streaming_enrich_static",
            output_mode="complete",
            width=state_width(spark, sf_dir),
            state_rows_bound=(horizon_h + 1) * 8,
        )
        return drained.orderBy("window_start", "c_mktsegment")

    return deferred(
        spark,
        "window_start string, c_mktsegment string, n_events bigint, total_value double",
        drain,
    )


@register(
    "streaming_left_outer_join",
    oracle_sql="""
    WITH wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'error'),
            (SELECT max(ts) FROM events WHERE event_type = 'click')) AS w),
    e AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'error'),
    c AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
    SELECT e.event_id AS error_id,
           e.user_id AS e_user,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
           c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM e JOIN c
      ON c.user_id = e.user_id
     AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S'),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM e
    WHERE e.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
      AND NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = e.user_id
            AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 30 MINUTE)
    ORDER BY error_id, click_id
    """,
)
def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (errors x same-user
    follow-up clicks within 30 min) drained through a real streaming
    query so the outer-NULL eviction path runs on the hash gate.

    Completes the streaming join matrix: inner interval join
    (``streaming_error_click_join``), stream-static enrichment
    (``streaming_enrich_static``), and now the outer variant whose
    NULL rows ARE the state-eviction emission — previously only
    observed in pytest
    (tests/test_streaming.py::test_stream_stream_left_outer_join_...).
    The oracle states the full contract: every true match, plus a
    NULL-extended row exactly for the unmatched errors whose 30-min
    horizon the final watermark — min(max error ts, max click ts),
    applied by AvailableNow's closing no-data batch — passed. Errors
    inside the last watermark horizon stay in state (absent from both
    sides), so a hash match certifies the eviction FRONTIER, not just
    the join content. Join shape + scale notes on
    ``streams.left_outer_error_click_join``.

    Builder-contract note: DEFERRED — the bounded replay drains on
    first action, not at build (see streaming_tumbling_type_counts).
    """

    def drain() -> DataFrame:
        drained = run_available_now(
            left_outer_error_click_join(read_events_stream(spark, sf_dir)),
            "streaming_left_outer_join",
            output_mode="append",
            width=state_width(spark, sf_dir),
        )
        return drained.select(
            "error_id",
            "e_user",
            F.date_format("error_ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
            "click_id",
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        ).orderBy("error_id", "click_id")

    return deferred(
        spark,
        "error_id bigint, e_user bigint, error_ts string, "
        "click_id bigint, click_ts string",
        drain,
    )


@register(
    "streaming_idempotent_sink",
    oracle_sql="""
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
              <= (SELECT w FROM wm)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def streaming_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once parquet sink under a FORCED batch re-execution:
    foreachBatch writes per-batch-id directories, the last commit
    marker is deleted, the restarted query retries that batch, and
    the read-back must still equal the batch aggregate — mechanics,
    contract, and scale notes on ``streams.idempotent_sink_replay``.

    The oracle is the tumbling aggregate restricted to the append-mode
    emission frontier (windows whose END the final watermark
    max(ts) - 2 h reached); a double-append on retry or a lost batch
    both flip the hash.

    Builder-contract note: DEFERRED — the bounded two-run replay
    drains on first action, not at build.
    """

    return deferred(
        spark,
        "window_start string, event_type string, n_events bigint, total_value double",
        lambda: idempotent_sink_replay(spark, sf_dir),
    )
