"""Bucketed-layout tests: the write-once-shuffle-once contract.

Pins the property that makes bucketing worth it at 100 TB: an
equi-join of two tables bucketed on their join keys plans with ZERO
Exchange operators (no shuffle on either side), and still produces
exactly the same rows as the plain shuffled join. Also pins that the
maintained-index state layer (``BucketedState``) leaves no table
directories behind when its process exits.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from map_reduce_spark.plans.explain import physical_plan
from map_reduce_spark.sources import load_table
from map_reduce_spark.sources.bucketed import write_bucketed

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    write_bucketed(orders, "t_orders_b", "o_custkey", N_BUCKETS)
    write_bucketed(customer, "t_customer_b", "c_custkey", N_BUCKETS)
    yield "t_orders_b", "t_customer_b"
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_customer_b")


def _join(spark, left, right):
    """Equi-join of the two bucketed tables on their bucket keys."""
    orders, customer = spark.table(left), spark.table(right)
    return orders.join(customer, orders.o_custkey == customer.c_custkey)


def test_bucketed_join_plans_zero_exchanges(spark, bucketed_tables):
    left, right = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the join to stay sort-merge so the assertion exercises
        # the co-located path (a broadcast join would trivially have no
        # exchange and prove nothing)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = physical_plan(_join(spark, left, right))
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    left, right = bucketed_tables
    got = (
        _join(spark, left, right)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .toPandas()
        .sort_values("c_mktsegment", ignore_index=True)
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    want = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .toPandas()
        .sort_values("c_mktsegment", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_bucketed_groupby_needs_no_exchange(spark, bucketed_tables):
    """Aggregation on the bucket key also reuses the stored
    partitioning — the other recurring shuffle bucketing amortizes."""
    left, _ = bucketed_tables
    df = spark.table(left).groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    assert "Exchange" not in physical_plan(df)


_EXIT_SCRIPT = """
import sys
from pyspark.sql import functions as F
from map_reduce_spark.session import get_spark
from map_reduce_spark.functions.dedup_ingest import DedupIngestIndex
from map_reduce_spark.functions.sim_ingest import SimIngestIndex

spark = get_spark("exit_cleanup", master="local[1]", shuffle_partitions=2,
                  extra_conf={"spark.sql.warehouse.dir": sys.argv[1]})
docs = spark.createDataFrame(
    [(i, f"alpha beta gamma tok{i % 5}") for i in range(12)], "doc_id long, text string")
dedup = DedupIngestIndex(spark, "exit_dedup", n_buckets=2)
dedup.bootstrap(docs.filter(F.col("doc_id") < 8))
dedup.ingest(docs.filter(F.col("doc_id") >= 8)).collect()
dedup.delete(docs.filter(F.col("doc_id") == 0).select("doc_id"))
dedup.compact()
emb = spark.createDataFrame(
    [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(24)],
    "vec_id long, embedding array<float>")
sim = SimIngestIndex(spark, "exit_sim", n_buckets=2).bootstrap(emb)
sim.ingest(emb.limit(2), emb.limit(1)).collect()
print(sorted(t.name for t in spark.catalog.listTables()))
"""


def test_state_tables_removed_at_exit(tmp_path):
    """Every table directory a maintained index created (state,
    tombstones, result log) is gone once its process exits — the
    registered ingest entries name their tables after the
    applicationId, so nothing else would ever drop them."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    warehouse = tmp_path / "warehouse"
    env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT, str(warehouse)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    # the run really created the tables it must clean up
    assert "exit_dedup_post" in out.stdout and "exit_sim_cells" in out.stdout
    left = sorted(os.listdir(warehouse)) if warehouse.exists() else []
    assert left == [], left
