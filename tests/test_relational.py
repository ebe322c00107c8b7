"""Relational-surface tests: a fast subset of the DuckDB oracle gate
(the full gate is tools/check_oracle.py) plus physical-plan
assertions — the scale properties, not just the answers.
"""

from __future__ import annotations

import pytest
from check_oracle import compare

from map_reduce_spark.plans.explain import (
    count_broadcast_joins,
    physical_plan,
)
from map_reduce_spark.registry import load_all

SPOT_CHECK = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "doc_wordcount",
    "sim_knn_bruteforce",
    "events_sliding_1h_30m",
    "sessionize_user_events",
]


@pytest.mark.parametrize("name", SPOT_CHECK)
def test_oracle_spot_check(spark, duck, sf_dir, name):
    spec = load_all()[name]
    got = spec.builder(spark, sf_dir).toPandas()
    want = duck.execute(spec.oracle_sql).df()
    assert compare(name, got, want) == []


def test_every_query_has_doc_and_runs(spark, sf_dir):
    specs = load_all()
    assert len(specs) >= 40
    for name, spec in specs.items():
        assert spec.doc.strip(), f"{name} missing docstring"


def test_q3_broadcasts_dimensions(spark, sf_dir):
    """The fact table must never shuffle for a dim join."""
    df = load_all()["q3_shipping_priority"].builder(spark, sf_dir)
    assert count_broadcast_joins(df) >= 2


def test_q1_pushes_filter_to_scan(spark, sf_dir):
    plan = physical_plan(load_all()["q1_pricing_summary"].builder(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q1_prunes_columns(spark, sf_dir):
    """Q1 touches 7 of 16 lineitem columns; the scan must not read more."""
    plan = physical_plan(load_all()["q1_pricing_summary"].builder(spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = physical_plan(load_all()["topk_orders_by_price"].builder(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_knn_corpus_not_shuffled(spark, sf_dir):
    """Brute-force kNN must broadcast probes, not shuffle the corpus."""
    df = load_all()["sim_knn_bruteforce"].builder(spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_global_ntile_matches_builtin(spark):
    """The closed-form ntile used by the distributed two-level rank
    must equal F.ntile for every (n, k) shape: exercises n<k, n%k==0,
    and every remainder class."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from map_reduce_spark.operators.windows import global_ntile

    for k in (3, 4, 7):
        for n in range(1, 26):
            df = spark.range(1, n + 1).withColumn("_n", F.lit(n))
            got = df.select(
                "id", global_ntile(F.col("id"), F.col("_n"), k).alias("t")
            )
            want = df.select(
                "id", F.ntile(k).over(W.orderBy("id")).alias("t")
            )
            g = {r.id: r.t for r in got.collect()}
            w = {r.id: r.t for r in want.collect()}
            assert g == w, f"n={n} k={k}: {g} != {w}"
