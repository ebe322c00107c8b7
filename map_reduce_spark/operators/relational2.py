"""Second relational batch: greatest-per-group, HAVING/IN subqueries,
conditional bucketing, CDC-style latest-per-key, statistical modes,
distribution windows, null handling, regexp extraction.

All queries follow the module rules of relational.py (broadcast dims,
decomposable aggs, end-of-pipeline rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_table


@register(
    "q2ish_cheapest_supplier_per_part",
    oracle_sql="""
    SELECT l_partkey, l_suppkey, round(min_price, 2) AS min_price
    FROM (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice) AS min_price,
               row_number() OVER (
                   PARTITION BY l_partkey
                   ORDER BY min(l_extendedprice), l_suppkey) AS rn
        FROM lineitem
        GROUP BY l_partkey, l_suppkey)
    WHERE rn = 1
    ORDER BY l_partkey
    """,
)
def q2ish_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greatest-per-group (TPC-H Q2 shape): cheapest supplier per part.

    Agg first (shrinks to |part x supplier|), then a row_number window
    on the aggregate — never a self-join against a min() subquery.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    w = W.partitionBy("l_partkey").orderBy("min_price", "l_suppkey")
    return (
        per_supp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", F.round("min_price", 2).alias("min_price"))
        .orderBy("l_partkey")
    )


@register(
    "q4ish_priority_order_counts",
    oracle_sql="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4ish_priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: date-filtered orders with a correlated EXISTS
    (late-shipping lineitem).

    NOT expressed as a left-semi join: Spark must build a LeftSemi's
    right side, and the right side here is LINEITEM — the planner
    broadcast the 6M-row fact table (384 MiB at sf1, an OOM at the
    design point) and still ran 7 s. Instead the EXISTS collapses to
    an aggregate first: exists(l_shipdate > o_orderdate) per order
    == max(l_shipdate) per order > o_orderdate. The max is a
    map-side-combinable agg that shrinks lineitem to one row per
    orderkey BEFORE any join, and the remaining equi-join on
    orderkey shuffles reduced rows (or AQE-broadcasts the filtered
    orders year at small sf). Measured 7.0 s -> ~1.5 s at sf1.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    maxship = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("max_ship"))
    )
    return (
        orders.join(maxship, orders.o_orderkey == maxship.l_orderkey)
        .filter(F.col("max_ship") > F.col("o_orderdate"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "q12ish_shipmode_buckets",
    oracle_sql="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_priority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12ish_shipmode_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + priority bucketing via conditional sums.

    orders is a FACT table (grows with scale factor), so this is a
    shuffle hash join on the order key — never broadcast; AQE may
    still downgrade it to broadcast below threshold at tiny SF.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q18ish_large_volume_customers",
    oracle_sql="""
    SELECT c_custkey, c_name, o_orderkey,
           round(o_totalprice, 2) AS o_totalprice,
           round(total_qty, 2) AS total_qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 60) big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def q18ish_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: HAVING-filtered aggregate joined back to its parents.

    orders and customer both grow linearly with scale factor, so both
    joins are shuffle joins on their keys. The HAVING filter shrinks
    the left side drastically first, and AQE can still pick broadcast
    at runtime when the filtered side is small — but we never force it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 60)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


@register(
    "q22ish_idle_customers",
    oracle_sql="""
    SELECT seg_prefix, count(*) AS n_custs,
           round(sum(c_acctbal), 2) AS total_bal
    FROM (
        SELECT substr(c_mktsegment, 1, 2) AS seg_prefix, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT'))
    GROUP BY seg_prefix
    ORDER BY seg_prefix
    """,
)
def q22ish_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balance + anti join + substring
    grouping. Anti-joins against the urgent-order subset (every fixture
    customer has *some* order, so the unfiltered variant is empty)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("ab"))
        .select("ab")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        idle.select(F.substring("c_mktsegment", 1, 2).alias("seg_prefix"), "c_acctbal")
        .groupBy("seg_prefix")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("seg_prefix")
    )


@register(
    "latest_event_per_user",
    oracle_sql="""
    SELECT user_id,
           arg_max(event_id, ts) AS last_event_id,
           arg_max(event_type, ts) AS last_event_type,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
           count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-per-key via max_by — the compaction operator.

    max_by is a decomposable aggregate (single value of state per
    key), so this is one map-side-combined shuffle — the scalable way
    to materialize 'current state' from an event log, vs a
    row_number window that must sort whole partitions.

    (events.ts is unique per user in the fixture, so max_by is
    deterministic here; with duplicate timestamps you'd max_by on a
    (ts, event_id) struct for a total order.)
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by("event_id", "ts").alias("last_event_id"),
            F.max_by("event_type", "ts").alias("last_event_type"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "agg_mode_and_stddev",
    oracle_sql="""
    SELECT l_returnflag,
           mode(l_linestatus) AS mode_status,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(skewness(l_quantity), 4) AS skew_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_mode_and_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: mode, stddev, variance, skewness."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.mode("l_linestatus").alias("mode_status"),
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.skewness("l_quantity"), 4).alias("skew_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "null_handling_acctbal",
    oracle_sql="""
    SELECT c_mktsegment,
           count(*) AS n,
           count(bal_or_null) AS n_positive,
           round(coalesce(avg(bal_or_null), -1), 4) AS avg_positive,
           CAST(sum(CASE WHEN bal_or_null IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulled
    FROM (
        SELECT c_mktsegment, nullif(greatest(c_acctbal, 0), 0) AS bal_or_null
        FROM customer)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def null_handling_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics: nullif/greatest/coalesce + null-skipping aggs."""
    cust = load_table(spark, sf_dir, "customer")
    bal = F.nullif(F.greatest(F.col("c_acctbal"), F.lit(0.0)), F.lit(0.0))
    return (
        cust.select("c_mktsegment", bal.alias("bal_or_null"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("bal_or_null").alias("n_positive"),
            F.round(F.coalesce(F.avg("bal_or_null"), F.lit(-1.0)), 4).alias(
                "avg_positive"
            ),
            F.sum(
                F.when(F.col("bal_or_null").isNull(), 1).otherwise(0)
            ).alias("n_nulled"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "regexp_part_type_extract",
    oracle_sql="""
    SELECT regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           count(*) AS n_parts,
           round(avg(p_retailprice), 4) AS avg_price,
           min(p_size) AS min_size,
           max(p_size) AS max_size
    FROM part
    GROUP BY 1
    ORDER BY type_head
    """,
)
def regexp_part_type_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract grouping (identical simple-class regex in both
    engines' dialects)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy(
            F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head")
        )
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("type_head")
    )
