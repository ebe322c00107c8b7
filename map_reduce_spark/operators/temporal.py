"""Temporal join operators: as-of join and range join.

Spark has no native AS-OF join (SURVEY.md §2.3 "as-of not needed by
fixtures" — added anyway as a first-class training-pipeline
operator). Both are implemented in their scale-correct forms:

- as-of: union-then-window (one shuffle on the key, one sorted pass)
  — never a per-row subquery.
- range join: broadcast the bucket table; for two large sides you'd
  bucketize the range key and equi-join on the bucket (noted below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from map_reduce_spark.plans.transient import ordered_result, transient_persist
from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_table

VALUE_BUCKETS = [
    ("tiny", 0.0, 50.0),
    ("small", 50.0, 100.0),
    ("medium", 100.0, 150.0),
    ("large", 150.0, 1e18),
]


@register(
    "asof_error_after_signup",
    oracle_sql="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
           strftime(last_signup_ts, '%Y-%m-%d %H:%M:%S') AS last_signup_ts,
           CASE WHEN last_signup_ts IS NULL THEN NULL
                ELSE date_diff('second', last_signup_ts, ts) END AS sec_since_signup
    FROM (
        SELECT event_id, user_id, ts, event_type,
               max(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_signup_ts
        FROM events)
    WHERE event_type = 'error'
    ORDER BY event_id
    """,
)
def asof_error_after_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each error event matched to the latest signup event
    at-or-before it for the same user.

    Scale shape: both "sides" live in one stream, so the as-of match
    is a running max over a window — one shuffle on user_id, one
    sorted pass, zero joins. For two separate tables, union them with
    a side tag first (same plan). This is the canonical
    merge-asof-at-scale pattern; a per-row correlated subquery would
    be O(n^2).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_signup = F.max(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("last_signup_ts", last_signup)
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
            F.date_format("last_signup_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "last_signup_ts"
            ),
            F.when(
                F.col("last_signup_ts").isNull(), F.lit(None).cast("long")
            )
            .otherwise(
                F.col("ts").cast("long") - F.col("last_signup_ts").cast("long")
            )
            .alias("sec_since_signup"),
        )
        .orderBy("event_id")
    )


@register(
    "range_join_value_buckets",
    oracle_sql="""
    SELECT bucket, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events
    JOIN (VALUES ('tiny', 0.0, 50.0),
                 ('small', 50.0, 100.0),
                 ('medium', 100.0, 150.0),
                 ('large', 150.0, 1e18)) AS b(bucket, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def range_join_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: events banded into value buckets.

    The bucket side is broadcast, so the range predicate evaluates
    map-side (BroadcastNestedLoopJoin over 4 rows — O(n*4) scan, no
    shuffle). When both sides are large, bucketize the range key to a
    grid and equi-join on the grid cell + residual filter.
    """
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.sparkSession.createDataFrame(
        VALUE_BUCKETS, ["bucket", "lo", "hi"]
    )
    return (
        ev.join(
            F.broadcast(buckets),
            (ev.value >= buckets.lo) & (ev.value < buckets.hi),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .orderBy("bucket")
    )


@register(
    "pivot_native_qty",
    oracle_sql="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def pivot_native_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native .pivot() with an explicit value list.

    Passing the values explicitly skips the extra distinct-discovery
    job over the fact table — the only .pivot() form allowed at scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return (
        p.select(
            "l_returnflag",
            F.round("O", 2).alias("qty_O"),
            F.round("F", 2).alias("qty_F"),
        )
        .orderBy("l_returnflag")
    )


@register("agg_approx_distinct", oracle_sql=None)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per order priority.

    The 100 TB cardinality operator: fixed-size mergeable sketches vs
    exact distinct's full shuffle of the key space. No SQL oracle
    (DuckDB's approx_count_distinct uses a different sketch); pytest
    bounds the relative error against the exact count.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "events_props_from_json",
    oracle_sql="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_props_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json with an explicit schema (vs a
    per-path get_json_object). One parse per row regardless of how
    many fields are read — the scale-correct form.
    """
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k LONG"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("p.k").alias("sum_k"),
            F.round(F.avg("p.k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


Z_THRESHOLD = 3.0  # flag events whose value is > 3 sigma from the type mean


@register(
    "events_anomaly_zscore",
    oracle_sql=f"""
    SELECT event_id, user_id, event_type, value, z
    FROM (
        SELECT event_id, user_id, event_type, value,
               round((value - avg(value) OVER (PARTITION BY event_type))
                     / stddev_samp(value) OVER (PARTITION BY event_type),
                     6) AS z
        FROM events)
    WHERE z >= {Z_THRESHOLD}
    ORDER BY event_type, event_id
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score outlier flagging: events whose value sits
    more than Z_THRESHOLD standard deviations above their type's mean.

    The monitoring primitive behind alerting/data-quality sweeps.
    Scale: the naive form is a window over every event partitioned by
    type (5 partitions → 5 hot reducers at 100 TB). Instead the
    per-type (mean, stddev) reduce to a |types|-row aggregate — fully
    map-side combinable — that broadcasts back onto one event scan, so
    no event row ever shuffles: stats agg + map-side broadcast join +
    map-side filter. The oracle states it as the window form; the
    broadcast form is algebraically identical. The threshold compares
    the ROUNDED z on both engines so the 3-sigma boundary cannot flip
    on float-order noise. Values are one-sided (value >= 0 with means
    ~1 sigma), so only the high tail exists to flag.
    """
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("event_type").alias("t_type")).agg(
        F.avg("value").alias("t_mean"),
        F.stddev_samp("value").alias("t_std"),
    )
    return (
        ev.join(F.broadcast(stats), ev.event_type == F.col("t_type"))
        .withColumn("z", F.round((F.col("value") - F.col("t_mean")) / F.col("t_std"), 6))
        .filter(F.col("z") >= F.lit(Z_THRESHOLD))
        .select("event_id", "user_id", "event_type", "value", "z")
        .orderBy("event_type", "event_id")
    )


@register(
    "events_time_weighted_avg",
    oracle_sql="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dt) // 1000000 AS BIGINT) AS span_s,
           round(sum(value * dt) / sum(dt), 6) AS twa
    FROM (
        SELECT user_id, value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   - epoch_us(ts) AS dt
        FROM events)
    WHERE dt IS NOT NULL
    GROUP BY user_id
    HAVING sum(dt) > 0
    ORDER BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over irregularly sampled events —
    the timeseries-engine primitive (TimescaleDB ``time_weight``,
    last-observation-carried-forward integration).

    A plain avg() over irregular samples over-weights bursts; the TWA
    weights each observation by how long it was the latest one:
    sum(value * dt) / sum(dt) with dt from ``lead(ts)`` per user.
    Ties on ts are ordered by event_id so both engines integrate the
    same step function.

    Scale: one shuffle on user_id serves both the lead() window and
    the aggregation (same partitioning, no second exchange); per-user
    state is the sorted event run — the same layout any sessionize
    pass needs. Integer-microsecond dt keeps the weights exact; only
    the final ratio is double.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        "value",
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        stepped.groupBy("user_id")
        .agg(
            # one row per INTEGRATION INTERVAL (the last event has no
            # successor and is filtered), so the honest name is
            # n_intervals = user's event count - 1, not n_events
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt").alias("_sum_dt"),
            F.round(F.sum(F.col("value") * F.col("dt")) / F.sum("dt"), 6).alias("twa"),
        )
        # all-zero-dt users (every event at one instant) have no step
        # function to integrate — excluded on both engines (HAVING)
        .filter(F.col("_sum_dt") > 0)
        .select(
            "user_id",
            "n_intervals",
            F.expr("_sum_dt DIV 1000000").alias("span_s"),
            "twa",
        )
        .orderBy("user_id")
    )


@register(
    "events_ordered_funnel",
    oracle_sql="""
    WITH s AS (
        SELECT user_id, min(ts) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts > s.t_signup
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after,
           (SELECT count(*) FROM p) AS n_purchase_after
    """,
)
def events_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED conversion funnel: signup -> first click strictly after
    it -> first purchase strictly after that click, counted per stage.

    events_type_funnel reports per-type volume shares; this is the
    product-analytics funnel where ORDER matters — a purchase before
    the first post-signup click does not convert the user. Each stage
    anchors on the previous stage's earliest qualifying timestamp
    (min-ts semantics), so the result is deterministic regardless of
    event multiplicity.

    Scale: three user-grain aggregates, each decomposable (min/count,
    map-side combined), all joined on user_id — one partitioning
    serves every stage, and each stage's frame is at most one row per
    user (monotonically shrinking down the funnel). No windows over
    raw events, no per-user event materialization.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_click_after"))))
        .crossJoin(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase_after"))))
    )


@register(
    "events_hypertable_rollup",
    oracle_sql="""
    SELECT CASE WHEN grouping(d) = 0 THEN 'day'
                WHEN grouping(m) = 0 THEN 'month'
                WHEN grouping(y) = 0 THEN 'year'
                ELSE 'all' END AS grain,
           coalesce(strftime(y, '%Y-%m-%d'), '<ALL>') AS y,
           coalesce(strftime(m, '%Y-%m-%d'), '<ALL>') AS m,
           coalesce(strftime(d, '%Y-%m-%d'), '<ALL>') AS d,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM (
        SELECT date_trunc('year', ts) AS y, date_trunc('month', ts) AS m,
               date_trunc('day', ts) AS d, value, user_id
        FROM events)
    GROUP BY ROLLUP (y, m, d)
    ORDER BY grain, y, m, d
    """,
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass materializes
    the day -> month -> year -> grand-total rollup of the events
    hypertable (TimescaleDB's continuous-aggregate / druid-rollup
    shape, expressed as a native time-hierarchy ROLLUP).

    Scale: ROLLUP is a single hash aggregate whose Expand emits one
    row per grain per input row — 4x map-side fan-out, but every
    level is map-side combinable down to (days + months + years + 1)
    rows, so shuffle volume is calendar-sized, not data-sized. At
    100 TB the day grain dominates and is still bounded by
    |distinct days|; count(DISTINCT user_id) is the one holistic
    aggregate (exact, two-phase shuffle on (grain, user)) — swap for
    approx_count_distinct when the serving layer tolerates error.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("year", "ts").alias("y"),
        F.date_trunc("month", "ts").alias("m"),
        F.date_trunc("day", "ts").alias("d"),
        "value",
        "user_id",
    )
    gid = F.grouping_id()
    fmt = lambda c: F.coalesce(  # noqa: E731
        F.date_format(c, "yyyy-MM-dd"), F.lit("<ALL>")
    )
    return (
        ev.rollup("y", "m", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
            gid.alias("gid"),
        )
        .select(
            F.when(F.col("gid") == 0, "day")
            .when(F.col("gid") == 1, "month")
            .when(F.col("gid") == 3, "year")
            .otherwise("all")
            .alias("grain"),
            fmt(F.col("y")).alias("y"),
            fmt(F.col("m")).alias("m"),
            fmt(F.col("d")).alias("d"),
            "n_events",
            "total_value",
            "n_users",
        )
        .orderBy("grain", "y", "m", "d")
    )


@register(
    "events_gap_fill",
    oracle_sql="""
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               round(avg(value), 6) AS day_avg
        FROM events GROUP BY user_id, date_trunc('day', ts)),
    bounds AS (
        SELECT user_id, min(day) AS lo, max(day) AS hi
        FROM daily GROUP BY user_id),
    grid AS (
        SELECT user_id,
               unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
        FROM bounds),
    j AS (
        SELECT g.user_id, g.day, d.day_avg
        FROM grid g
        LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day)
    SELECT user_id,
           strftime(day, '%Y-%m-%d') AS day,
           last_value(day_avg IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           day_avg IS NOT NULL AS observed
    FROM j
    ORDER BY user_id, day
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify each user's daily series onto
    a continuous day grid and forward-fill missing days with the last
    observation (TimescaleDB ``time_bucket_gapfill`` + ``locf``, the
    standard serving-layer shape for dashboards over sparse series).

    Three stages, all keyed by user_id so one exchange serves the
    grid join AND the fill window: (1) daily averages (decomposable
    agg, rounded to 6dp BEFORE the fill so both engines propagate the
    identical double); (2) the per-user day grid via
    sequence(min_day, max_day) + explode — fan-out bounded by the
    calendar span, never by event count; (3) last(ignorenulls) over
    the per-user sorted run. The first grid row per user is its first
    observed day, so ``filled`` is never NULL.

    100 TB: grid rows are |users| x span-days — calendar-bounded,
    orders of magnitude below raw events; the window is a sorted run
    per user, the same layout sessionization already needs. Output
    day is a yyyy-MM-dd string so both engines hash the same bytes
    (Spark DateType would surface as python dates vs DuckDB's
    datetime64 — a dtype-kind mismatch under the driver's canon).
    """
    ev = load_table(spark, sf_dir, "events")
    # daily feeds BOTH the grid bounds and the observation join (a
    # diamond) — persist so the events scan + aggregate runs once.
    # The frame is (users x observed days), far smaller than events.
    daily = transient_persist(
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
            F.round(F.avg("value"), 6).alias("day_avg")
        )
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day"),
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.last("day_avg", ignorenulls=True).over(w).alias("filled"),
        F.col("day_avg").isNotNull().alias("observed"),
    ).orderBy("user_id", "day")


@register(
    "events_pattern_detect",
    oracle_sql="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id, event_type) AS seq
        FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, 's[cv]*p')) AS BIGINT)
               AS n_funnels,
           regexp_matches(seq, 'eee') AS has_error_burst
    FROM seqs
    ORDER BY user_id
    """,
)
def events_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event histories — the
    SQL:2016 MATCH_RECOGNIZE workload expressed as regex over an
    ordered type-initial string: each user's events collapse (ordered
    by ts, event_id) into a string like 'scvvpe...', then
    's[cv]*p' counts clean signup→(clicks/views)→purchase funnels and
    'eee' flags triple-error bursts. Event-type initials are unique in
    the fixture (click/error/purchase/signup/view), so the encoding is
    lossless; both patterns use only constructs with identical
    semantics in Java regex and RE2, and non-overlapping left-to-right
    extraction matches across engines.

    Scale: ONE shuffle keyed by user_id; the per-user state is the
    ordered event run — the same layout sessionization needs — and the
    regex scan is linear in history length. The string encoding is the
    trick that turns an arbitrary sequence pattern into one codegen'd
    expression instead of a self-join chain per pattern stage (compare
    events_ordered_funnel, which builds the 3-stage funnel from
    aggregates); its limit is histories long enough that a per-user
    string is unreasonable — at that point the per-stage aggregate
    form wins.
    """
    ev = load_table(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    seq = F.concat_ws(
        "", F.transform(ordered, lambda s: F.substring(s["event_type"], 1, 1))
    )
    seqs = ev.groupBy("user_id").agg(seq.alias("seq"))
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        F.size(F.expr("regexp_extract_all(seq, 's[cv]*p', 0)"))
        .cast("long")
        .alias("n_funnels"),
        F.col("seq").rlike("eee").alias("has_error_burst"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# events_attribution_touch — first/last-touch conversion attribution
# ---------------------------------------------------------------------------

ATTRIB_LOOKBACK_DAYS = 7
_TOUCH_TYPES = ("click", "view")

_ATTRIB_ORACLE = f"""
    WITH seq AS (
        SELECT user_id, ts, event_id, event_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS)
                   OVER w AS lt_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN ts END IGNORE NULLS)
                   OVER w AS lt_ts,
               first_value(CASE WHEN event_type IN ('click', 'view')
                                THEN event_type END IGNORE NULLS)
                   OVER w AS ft_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    conv AS (
        SELECT CASE WHEN lt_ts IS NOT NULL
                     AND lt_ts >= ts - INTERVAL {ATTRIB_LOOKBACK_DAYS} DAY
                    THEN lt_type ELSE 'none' END AS last_touch,
               coalesce(ft_type, 'none') AS first_touch
        FROM seq WHERE event_type = 'purchase'
    )
    SELECT model, channel, count(*) AS n_conversions
    FROM (
        SELECT 'first_touch' AS model, first_touch AS channel FROM conv
        UNION ALL
        SELECT 'last_touch', last_touch FROM conv
    )
    GROUP BY model, channel
    ORDER BY model, channel
"""


@register("events_attribution_touch", oracle_sql=_ATTRIB_ORACLE)
def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution: every purchase credits a marketing
    channel under two models — FIRST touch (earliest click/view in
    the user's whole journey before the purchase) and LAST touch
    (most recent click/view, but only within a {7}-day lookback;
    stale or absent touches credit 'none').

    The windowed ``last(..., ignorenulls)`` over
    ROWS UNBOUNDED PRECEDING .. 1 PRECEDING is the running
    "most recent qualifying event" idiom — the same state a streaming
    attribution job would keep per user, expressed as one batch
    window. Strictness matters: the 1-PRECEDING frame end excludes
    the purchase row itself, and the (ts, event_id) order makes
    same-timestamp runs deterministic.

    Plan: one hash Exchange on user_id serves the window; the final
    (model x channel) aggregate is ~10 rows. No joins, no driver
    state — scales as pure per-user window work.
    """
    events = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*_TOUCH_TYPES)
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("lt_type"),
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("lt_ts"),
        F.first(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("ft_type"),
    )
    conv = seq.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("lt_ts").isNotNull()
            & (
                F.col("lt_ts")
                >= F.col("ts") - F.expr(
                    f"INTERVAL {ATTRIB_LOOKBACK_DAYS} DAY"
                )
            ),
            F.col("lt_type"),
        )
        .otherwise(F.lit("none"))
        .alias("last_touch"),
        F.coalesce("ft_type", F.lit("none")).alias("first_touch"),
    )
    credited = conv.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_touch").alias("channel"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_touch").alias("channel"),
                ),
            )
        ).alias("c")
    )
    return (
        credited.groupBy("c.model", "c.channel")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .orderBy("model", "channel")
    )


# ---------------------------------------------------------------------------
# events_seasonal_indices — day-of-week seasonal decomposition
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               dayofweek(ts) AS dow,
               count(*) AS n_events,
               sum(CAST(value AS DECIMAL(18,4))) AS day_value
        FROM events
        GROUP BY 1, 2
    ),
    by_dow AS (
        SELECT dow,
               count(*) AS n_days,
               sum(n_events) AS total_events,
               avg(n_events * 1.0) AS avg_daily_events,
               CAST(sum(day_value) AS DOUBLE) / count(*) AS avg_daily_value
        FROM daily GROUP BY dow
    ),
    overall AS (
        SELECT sum(total_events * 1.0) / sum(n_days) AS grand_avg
        FROM by_dow
    )
    SELECT CAST(dow AS INT) AS dow, n_days,
           CAST(total_events AS BIGINT) AS total_events,
           round(avg_daily_events, 6) AS avg_daily_events,
           round(avg_daily_value, 6) AS avg_daily_value,
           round(avg_daily_events / grand_avg, 6) AS seasonal_index
    FROM by_dow CROSS JOIN overall
    ORDER BY dow
"""


@register("events_seasonal_indices", oracle_sql=_SEASONAL_ORACLE)
def events_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices: each weekday's average daily
    event count relative to the all-days average (the multiplicative
    seasonal factor a capacity planner or anomaly detector divides
    out), plus the weekday's average daily summed value.

    Decomposition is fully hierarchical: events roll up to (day, dow)
    partials (map-side combinable), days roll up to the 7-row dow
    table, and the grand mean derives from THAT table — the raw scan
    happens exactly once and nothing downstream exceeds 7 rows.
    Day sums run in DECIMAL(18,4) so the per-day partials are exact;
    only the final 7-row ratios are floats (round(6) convention).

    DuckDB's dayofweek() is 0=Sunday..6=Saturday; Spark's dayofweek()
    is 1=Sunday..7=Saturday, so the Spark side shifts by one to match
    the oracle's numbering.
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("day_value"),
    )
    by_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("total_events"),
        F.avg(F.col("n_events") * 1.0).alias("avg_daily_events"),
        (
            F.sum("day_value").cast("double") / F.count(F.lit(1))
        ).alias("avg_daily_value"),
    )
    overall = by_dow.agg(
        (
            F.sum(F.col("total_events") * 1.0) / F.sum("n_days")
        ).alias("grand_avg")
    )
    return (
        by_dow.crossJoin(F.broadcast(overall))
        .select(
            "dow",
            "n_days",
            "total_events",
            F.round("avg_daily_events", 6).alias("avg_daily_events"),
            F.round("avg_daily_value", 6).alias("avg_daily_value"),
            F.round(
                F.col("avg_daily_events") / F.col("grand_avg"), 6
            ).alias("seasonal_index"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# events_peak_concurrency — interval-overlap sweep over sessions
# ---------------------------------------------------------------------------

_PEAK_ORACLE = """
    WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
               ts
        FROM marked
    ),
    intervals AS (
        SELECT user_id, sid, min(ts) AS s, max(ts) AS e
        FROM sess GROUP BY user_id, sid
    ),
    sweep AS (
        SELECT s AS t, 1 AS delta FROM intervals
        UNION ALL
        SELECT e, -1 FROM intervals
    ),
    bucketed AS (
        SELECT t, delta, date_trunc('day', t) AS day FROM sweep
    ),
    day_net AS (
        SELECT day, sum(delta) AS net,
               sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS starts
        FROM bucketed GROUP BY day
    ),
    offsets AS (
        SELECT day, starts,
               coalesce(sum(net) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS carry
        FROM day_net
    ),
    running AS (
        SELECT b.day,
               sum(b.delta) OVER (PARTITION BY b.day
                   ORDER BY b.t, b.delta DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 + o.carry AS conc
        FROM bucketed b JOIN offsets o ON b.day = o.day
    )
    SELECT strftime(r.day, '%Y-%m-%d') AS day,
           CAST(o.starts AS BIGINT) AS sessions_started,
           CAST(max(r.conc) AS BIGINT) AS peak_concurrency
    FROM running r JOIN offsets o ON r.day = o.day
    GROUP BY r.day, o.starts
    ORDER BY day
"""


@register("events_peak_concurrency", oracle_sql=_PEAK_ORACLE)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the classic +1/-1 sweep:
    each 30-min-gap session (same definition as
    ``sessionize_user_events``) contributes +1 at its start and -1 at
    its end (closed intervals: ties order +1 first, so touching
    sessions count as overlapping), and concurrency is the running
    sum over the time-ordered deltas. Peak = max per day.

    The global time order would serialize into one partition, so the
    sweep splits two-level (the skyline/ABC bounded-prefix trick, on
    TIME): within-day running sums partition by day, and cross-day
    carryover — sessions legitimately span midnight — is the running
    NET delta over the bounded day table, broadcast back. Exact
    integers end to end. Among equal (t, delta) rows the partial-sum
    multiset is permutation-invariant (same-sign deltas), so the max
    is deterministic in both engines.
    """
    events = load_table(spark, sf_dir, "events")
    w_scan = W.partitionBy("user_id").orderBy("ts", "event_id")
    # The running sid sum uses the SAME (ts, event_id) order as the
    # session-flag scan (r9): with a bare ts order, a timestamp tie
    # straddling a session boundary would make sid membership — and
    # therefore the interval endpoints — legally nondeterministic in
    # BOTH engines (each could reorder ties); the shared total order
    # pins it, and the matching specs let one sort serve both windows.
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    marked = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_scan).isNull()
            | (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w_scan))
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = marked.withColumn("sid", F.sum("new_session").over(w_run))
    # The sweep union reads intervals twice and the day-net/running
    # diamond reads it twice more — but a persist here is MEASURED
    # NEUTRAL (r9: 4.60 s persisted vs 4.52 s bare, min-of-3+ at sf3):
    # the four arms share one exchange subtree and AQE's
    # ReusedExchange already deduplicates it, so the sessionization
    # windows run once either way. Left bare — the simpler plan.
    intervals = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    sweep = intervals.select(
        F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        intervals.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    bucketed = sweep.withColumn("day", F.date_trunc("day", "t"))
    day_net = bucketed.groupBy("day").agg(
        F.sum("delta").alias("net"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("starts"),
    )
    w_days = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    offsets = day_net.select(
        "day",
        "starts",
        F.coalesce(F.sum("net").over(w_days), F.lit(0)).alias("carry"),
    )
    w_sweep = (
        W.partitionBy("day")
        .orderBy(F.asc("t"), F.desc("delta"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = bucketed.join(F.broadcast(offsets), "day").select(
        "day",
        "starts",
        (F.sum("delta").over(w_sweep) + F.col("carry")).alias("conc"),
    )
    return (
        running.groupBy("day", "starts")
        .agg(F.max("conc").alias("peak_concurrency"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("starts").cast("long").alias("sessions_started"),
            F.col("peak_concurrency").cast("long"),
        )
        .transform(ordered_result, "day")
    )
