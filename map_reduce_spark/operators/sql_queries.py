"""Queries expressed through the engine's SQL surface (spark.sql).

The engine exposes both APIs — DataFrame builders (operators/*.py)
and ANSI SQL over registered views. Catalyst compiles both to the
same plans; this module exercises the SQL path plus the constructs
that are most natural in SQL: CTEs, GROUPING SETS, correlated
EXISTS/IN subqueries, scalar subqueries, UNPIVOT via stack().

The reference has no SQL surface at all (its only "query language"
is the Map/Reduce function pair, SURVEY.md §2.2); this is native
engine surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from map_reduce_spark.registry import register
from map_reduce_spark.sources import register_views


def _sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(query)


@register(
    "sql_cte_top_customers",
    oracle_sql="""
    WITH spend AS (
        SELECT o_custkey, sum(o_totalprice) AS total
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT o_custkey, total,
               rank() OVER (ORDER BY total DESC, o_custkey) AS r
        FROM spend)
    SELECT c_custkey, c_name, round(total, 2) AS total_spend, r AS spend_rank
    FROM ranked JOIN customer ON c_custkey = o_custkey
    WHERE r <= 25
    ORDER BY r
    """,
)
def sql_cte_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained CTEs + window rank + join, all in SQL."""
    return _sql(
        spark,
        sf_dir,
        """
        WITH spend AS (
            SELECT o_custkey, sum(o_totalprice) AS total
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT o_custkey, total,
                   rank() OVER (ORDER BY total DESC, o_custkey) AS r
            FROM spend)
        SELECT c_custkey, c_name, round(total, 2) AS total_spend, r AS spend_rank
        FROM ranked JOIN customer ON c_custkey = o_custkey
        WHERE r <= 25
        ORDER BY r
        """,
    )


@register(
    "sql_correlated_exists",
    oracle_sql="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_partkey = p_partkey AND l_quantity >= 45)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_partkey = p_partkey AND l_discount > 0.09)
    ORDER BY p_partkey
    """,
)
def sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS (planned as semi + anti join)."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_partkey = p_partkey AND l_quantity >= 45)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_partkey = p_partkey AND l_discount > 0.09)
        ORDER BY p_partkey
        """,
    )


@register(
    "sql_unpivot_metrics",
    oracle_sql="""
    SELECT l_returnflag, metric, round(val, 2) AS val
    FROM (
        SELECT l_returnflag, 'sum_qty' AS metric, sum(l_quantity) AS val
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum(l_extendedprice)
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT l_returnflag, 'sum_disc', sum(l_discount)
        FROM lineitem GROUP BY l_returnflag)
    ORDER BY l_returnflag, metric
    """,
)
def sql_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack(): wide aggregate -> long (metric, val) rows."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, metric, round(val, 2) AS val
        FROM (
            SELECT l_returnflag,
                   stack(3,
                         'sum_qty',  sum_qty,
                         'sum_price', sum_price,
                         'sum_disc', sum_disc) AS (metric, val)
            FROM (
                SELECT l_returnflag,
                       sum(l_quantity) AS sum_qty,
                       sum(l_extendedprice) AS sum_price,
                       sum(l_discount) AS sum_disc
                FROM lineitem GROUP BY l_returnflag))
        ORDER BY l_returnflag, metric
        """,
    )
