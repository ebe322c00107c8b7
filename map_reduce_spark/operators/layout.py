"""Physical-layout operators: Z-order (Morton) multi-dimensional
clustering.

At 100 TB the dominant cost of a selective query is how many files and
row groups its predicate can SKIP. Sorting data by one column prunes
predicates on that column only; interleaving the bits of two columns
into a Z-value and clustering by it bounds the scan for range
predicates on EITHER dimension — the layout trick behind Delta/Iceberg
``OPTIMIZE ZORDER BY`` and Databricks' liquid clustering, expressed
here as plain Spark integer arithmetic (no table format required: the
Z-bucket is just a write-partitioning / sortWithinPartitions key).

Everything is exact bigint math — per-dimension affine quantization to
16-bit grid cells with integer division, then bit interleaving as a
sum of disjoint shifted bits — so the Spark plan and the DuckDB oracle
(generated from the same Python loop, differing only in shift-operator
spelling) agree bit-for-bit, no float rounding anywhere.

The registered query reports per-bucket extent statistics (row count +
min/max of both dimensions), i.e. exactly the metadata a scan planner
consults; tests/test_layout.py quantifies the actual pruning win —
a narrow suppkey-range predicate touches a bounded fraction of
Z-buckets while touching ~every partkey-sorted bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_table

ZBITS = 16  # per-dimension grid resolution (2^16 cells per axis)
ZBUCKET_SHIFT = 2 * ZBITS - 8  # keep the top 8 interleaved bits -> 256 buckets


def _interleave_sql(qx: str, qy: str, shl) -> str:
    """The Morton interleave of two quantized ints as one flat integer
    expression: x's bit i lands at position 2i, y's at 2i+1. The terms
    write disjoint bits, so plain addition assembles the value.
    ``shl(expr, n)`` spells the engine's left shift."""
    terms = []
    for i in range(ZBITS):
        terms.append(shl(f"(({qx} >> {i}) & 1)", 2 * i))
        terms.append(shl(f"(({qy} >> {i}) & 1)", 2 * i + 1))
    return "(" + " + ".join(terms) + ")"


def _quantize_sql(col: str, mn: str, mx: str, intdiv: str) -> str:
    """Affine map of ``col`` onto the 16-bit grid with pure integer
    ops: (col - mn) * 65535 intdiv max(mx - mn, 1)."""
    span = f"(CASE WHEN {mx} > {mn} THEN {mx} - {mn} ELSE 1 END)"
    return f"((({col} - {mn}) * {(1 << ZBITS) - 1}) {intdiv} {span})"


def _zorder_oracle() -> str:
    q = "SELECT l_partkey, l_suppkey,\n"
    qx = _quantize_sql("l_partkey", "(SELECT min(l_partkey) FROM lineitem)",
                       "(SELECT max(l_partkey) FROM lineitem)", "//")
    qy = _quantize_sql("l_suppkey", "(SELECT min(l_suppkey) FROM lineitem)",
                       "(SELECT max(l_suppkey) FROM lineitem)", "//")
    z = _interleave_sql("qx", "qy", lambda e, n: f"({e} << {n})")
    return f"""
    WITH g AS (
        SELECT l_partkey, l_suppkey, {qx} AS qx, {qy} AS qy
        FROM lineitem),
    z AS (
        SELECT l_partkey, l_suppkey, {z} >> {ZBUCKET_SHIFT} AS zbucket
        FROM g)
    SELECT zbucket,
           count(*) AS n_rows,
           min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
    FROM z
    GROUP BY zbucket
    ORDER BY zbucket
    """


@register("layout_zorder_stats", oracle_sql=_zorder_oracle())
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering of lineitem on (l_partkey, l_suppkey):
    per-Z-bucket extent statistics — the min/max metadata a scan
    planner would prune against if each bucket were a file.

    Plan: the two dimension extrema ride in as a broadcast 1-row
    scalar (the whitelisted crossJoin pattern); quantization +
    interleave are pure bigint expressions inside whole-stage codegen
    (one projection, no UDF); the bucket aggregate is decomposable.
    The actual 100 TB write path is ``df.repartitionByRange(N,
    zval).sortWithinPartitions(zval).write...`` — one range shuffle,
    after which BOTH partkey- and suppkey-range predicates skip most
    files (quantified in tests/test_layout.py); this query is that
    layout's planning view, oracle-checked because every step is
    exact integer arithmetic in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    ext = li.agg(
        F.min("l_partkey").alias("mnp"),
        F.max("l_partkey").alias("mxp"),
        F.min("l_suppkey").alias("mns"),
        F.max("l_suppkey").alias("mxs"),
    )
    g = li.crossJoin(F.broadcast(ext)).select(
        "l_partkey",
        "l_suppkey",
        F.expr(_quantize_sql("l_partkey", "mnp", "mxp", "DIV")).alias("qx"),
        F.expr(_quantize_sql("l_suppkey", "mns", "mxs", "DIV")).alias("qy"),
    )
    z = g.select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            f"shiftright({_interleave_sql('qx', 'qy', lambda e, n: f'shiftleft({e}, {n})')}, "
            f"{ZBUCKET_SHIFT})"
        ).alias("zbucket"),
    )
    return (
        z.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp"),
        )
        .orderBy("zbucket")
    )
