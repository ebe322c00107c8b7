"""Data-quality auditing: constraint validation + column statistics.

Two operators every warehouse ships around its ingest path and the
reference engine has no analogue for (its jobs trust their inputs —
/root/reference/src/mr/worker.go reads whole files and maps them
blind):

- ``dq_validate_constraints`` — a Deequ/Great-Expectations-style
  constraint suite: primary-key uniqueness, null checks, domain and
  range checks, and referential-integrity orphan counts, emitted as
  one (table, check) -> (checked_rows, violations) report.
- ``stats_table_profile`` — ANALYZE TABLE-style per-column statistics
  (row count, null count, exact NDV, min/max, mean string length),
  the numbers a cost-based optimizer feeds on.

Scale design (100 TB target):
- Every per-table check family is fused into ONE aggregate over ONE
  scan: the checks are all decomposable (sum-of-indicator, min, max,
  count-distinct), so Spark computes the whole suite with map-side
  partial aggregation and a single 1-row exchange per table. Adding a
  check adds a column to the agg, not a scan.
- Exact NDV on several columns at once goes through Catalyst's Expand
  (one scan, one row per distinct-aggregate per input row). That is
  the exact-answer cost; the sketch path for wide profiling at scale
  is ``approx_count_distinct`` / the registered ``agg_hll_rollup``
  (mergeable HLL), which drops Expand entirely.
- Referential checks are LEFT ANTI joins: dimension side
  (customer) broadcasts; the fact-fact orphan check (lineitem vs
  orders) hash-partitions on the key — the honest shuffle. The
  ``join_bloom_prefilter`` operator (runtime_filter.py) shows the
  bloom-prefilter that cuts that shuffle when orphans are rare.
- The report itself is O(#checks) rows: scalars cross-joined (all
  1-row frames) and exploded — no data-sized state leaves the aggs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_spark.registry import register
from map_reduce_spark.sources import load_spread, load_table

# Validity bounds (TPC-H-shaped contract for the fixture tables).
_DATE_LO, _DATE_HI = "1992-01-01", "2002-01-01"
_QTY_LO, _QTY_HI = 1.0, 50.0
_DISC_LO, _DISC_HI = 0.0, 0.10
_STATUS_DOMAIN = ("O", "F", "P")

_DQ_ORACLE = f"""
    WITH o AS (
        SELECT count(*) AS n,
               count(*) - count(DISTINCT o_orderkey) AS pk_dup,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
               sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS bad_price,
               sum(CASE WHEN o_orderdate >= TIMESTAMP '{_DATE_LO}'
                         AND o_orderdate < TIMESTAMP '{_DATE_HI}'
                        THEN 0 ELSE 1 END) AS bad_date,
               sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                        THEN 0 ELSE 1 END) AS bad_status
        FROM orders
    ),
    l AS (
        SELECT count(*) AS n,
               count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                   AS pk_dup,
               sum(CASE WHEN l_quantity BETWEEN {_QTY_LO} AND {_QTY_HI}
                        THEN 0 ELSE 1 END) AS bad_qty,
               sum(CASE WHEN l_discount BETWEEN {_DISC_LO} AND {_DISC_HI}
                        THEN 0 ELSE 1 END) AS bad_disc
        FROM lineitem
    ),
    -- NOT EXISTS, not NOT IN: the Spark side counts orphans with a
    -- LEFT ANTI join, and under a NULL FK the two only agree for
    -- NOT EXISTS (NOT IN yields UNKNOWN and drops the row; anti-join
    -- counts it as an orphan). The fixture is null-free today, but
    -- the oracle's contract should not depend on that (ADVICE r7).
    lo AS (
        SELECT count(*) AS orphans FROM lineitem l2
        WHERE NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_orderkey = l2.l_orderkey)
    ),
    oc AS (
        SELECT count(*) AS orphans FROM orders o3
        WHERE NOT EXISTS (SELECT 1 FROM customer c3
                          WHERE c3.c_custkey = o3.o_custkey)
    )
    SELECT tbl, check_name,
           CAST(checked_rows AS BIGINT) AS checked_rows,
           CAST(violations AS BIGINT) AS violations
    FROM (
        SELECT 'orders' AS tbl, 'fk_custkey_orphans' AS check_name,
               (SELECT n FROM o) AS checked_rows,
               (SELECT orphans FROM oc) AS violations
        UNION ALL SELECT 'orders', 'null_custkey',
               (SELECT n FROM o), (SELECT null_cust FROM o)
        UNION ALL SELECT 'orders', 'orderdate_in_range',
               (SELECT n FROM o), (SELECT bad_date FROM o)
        UNION ALL SELECT 'orders', 'pk_unique_orderkey',
               (SELECT n FROM o), (SELECT pk_dup FROM o)
        UNION ALL SELECT 'orders', 'status_in_domain',
               (SELECT n FROM o), (SELECT bad_status FROM o)
        UNION ALL SELECT 'orders', 'totalprice_positive',
               (SELECT n FROM o), (SELECT bad_price FROM o)
        UNION ALL SELECT 'lineitem', 'discount_in_range',
               (SELECT n FROM l), (SELECT bad_disc FROM l)
        UNION ALL SELECT 'lineitem', 'fk_orderkey_orphans',
               (SELECT n FROM l), (SELECT orphans FROM lo)
        UNION ALL SELECT 'lineitem', 'pk_unique_orderkey_linenumber',
               (SELECT n FROM l), (SELECT pk_dup FROM l)
        UNION ALL SELECT 'lineitem', 'quantity_in_range',
               (SELECT n FROM l), (SELECT bad_qty FROM l)
    )
    ORDER BY tbl, check_name
"""


def _viol(cond_ok: Column) -> Column:
    """Violation counter: rows where the validity predicate is not
    TRUE (NULL counts as a violation — unknown data is bad data)."""
    return F.sum(
        F.when(cond_ok, F.lit(0)).otherwise(F.lit(1))
    ).cast("long")


@register("dq_validate_constraints", oracle_sql=_DQ_ORACLE)
def dq_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation report over orders + lineitem: one row
    per (table, check) with the rows checked and violations found.

    Check families: PK uniqueness (count minus exact distinct),
    null checks, value-domain membership, numeric/date range bounds,
    and referential orphans (LEFT ANTI join counts). All counters are
    exact integers, so the oracle comparison is exact.

    Plan: one fused aggregate scan per table (all indicator sums +
    count-distincts in a single ``agg``), plus two anti-joins for the
    referential checks; the scalars cross-join (eight 1-row frames,
    all broadcast) and explode into the report rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    o = orders.agg(
        F.count(F.lit(1)).alias("o_n"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("o_pk_dup"),
        _viol(F.col("o_custkey").isNotNull()).alias("o_null_cust"),
        _viol(F.col("o_totalprice") > 0).alias("o_bad_price"),
        _viol(
            (F.col("o_orderdate") >= F.lit(_DATE_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_DATE_HI).cast("timestamp"))
        ).alias("o_bad_date"),
        _viol(F.col("o_orderstatus").isin(*_STATUS_DOMAIN)).alias(
            "o_bad_status"
        ),
    )
    li = lineitem.agg(
        F.count(F.lit(1)).alias("l_n"),
        (
            F.count(F.lit(1))
            - F.count_distinct("l_orderkey", "l_linenumber")
        ).alias("l_pk_dup"),
        _viol(F.col("l_quantity").between(_QTY_LO, _QTY_HI)).alias(
            "l_bad_qty"
        ),
        _viol(F.col("l_discount").between(_DISC_LO, _DISC_HI)).alias(
            "l_bad_disc"
        ),
    )
    # Referential orphans. Customer is a dimension -> broadcast anti;
    # lineitem-vs-orders is fact-vs-fact -> hash-partitioned anti (the
    # shape a bloom prefilter would thin at scale, see module doc).
    lo = (
        lineitem.select("l_orderkey")
        .join(orders.select("o_orderkey"),
              F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("lo_orphans"))
    )
    oc = (
        orders.select("o_custkey")
        .join(
            F.broadcast(customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("oc_orphans"))
    )

    scalars = o.crossJoin(li).crossJoin(lo).crossJoin(oc)

    def row(tbl: str, check: str, n: str, v: str) -> Column:
        return F.struct(
            F.lit(tbl).alias("tbl"),
            F.lit(check).alias("check_name"),
            F.col(n).alias("checked_rows"),
            F.col(v).alias("violations"),
        )

    report = scalars.select(
        F.explode(
            F.array(
                row("orders", "fk_custkey_orphans", "o_n", "oc_orphans"),
                row("orders", "null_custkey", "o_n", "o_null_cust"),
                row("orders", "orderdate_in_range", "o_n", "o_bad_date"),
                row("orders", "pk_unique_orderkey", "o_n", "o_pk_dup"),
                row("orders", "status_in_domain", "o_n", "o_bad_status"),
                row("orders", "totalprice_positive", "o_n", "o_bad_price"),
                row("lineitem", "discount_in_range", "l_n", "l_bad_disc"),
                row("lineitem", "fk_orderkey_orphans", "l_n", "lo_orphans"),
                row(
                    "lineitem",
                    "pk_unique_orderkey_linenumber",
                    "l_n",
                    "l_pk_dup",
                ),
                row("lineitem", "quantity_in_range", "l_n", "l_bad_qty"),
            )
        ).alias("r")
    ).select("r.tbl", "r.check_name", "r.checked_rows", "r.violations")
    return report.orderBy("tbl", "check_name")


# ---------------------------------------------------------------------------
# stats_table_profile — ANALYZE TABLE-style column statistics
# ---------------------------------------------------------------------------

# (table, column, kind): kind drives which stat slots are populated.
# num -> min_num/max_num; str -> min_str/max_str + avg_len; ts ->
# min_str/max_str rendered as 'yyyy-MM-dd HH:mm:ss'.
_PROFILE_COLS: list[tuple[str, str, str]] = [
    ("customer", "c_acctbal", "num"),
    ("customer", "c_custkey", "num"),
    ("customer", "c_mktsegment", "str"),
    ("customer", "c_name", "str"),
    ("customer", "c_nationkey", "num"),
    ("orders", "o_custkey", "num"),
    ("orders", "o_orderdate", "ts"),
    ("orders", "o_orderkey", "num"),
    ("orders", "o_orderpriority", "str"),
    ("orders", "o_orderstatus", "str"),
    ("orders", "o_totalprice", "num"),
]


def _profile_oracle() -> str:
    parts = []
    for tbl, col, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"min({col}) * 1.0", f"max({col}) * 1.0"
            ms, xs, al = "NULL", "NULL", "NULL"
        elif kind == "ts":
            mn, mx = "NULL", "NULL"
            ms = f"strftime(min({col}), '%Y-%m-%d %H:%M:%S')"
            xs = f"strftime(max({col}), '%Y-%m-%d %H:%M:%S')"
            al = "NULL"
        else:
            mn, mx = "NULL", "NULL"
            ms, xs = f"min({col})", f"max({col})"
            al = f"round(avg(length({col})), 4)"
        parts.append(
            f"""
            SELECT '{tbl}' AS tbl, '{col}' AS col,
                   count(*) AS n_rows,
                   count(*) - count({col}) AS n_null,
                   count(DISTINCT {col}) AS ndv,
                   CAST({mn} AS DOUBLE) AS min_num,
                   CAST({mx} AS DOUBLE) AS max_num,
                   CAST({ms} AS VARCHAR) AS min_str,
                   CAST({xs} AS VARCHAR) AS max_str,
                   CAST({al} AS DOUBLE) AS avg_len
            FROM {tbl}"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY tbl, col"


@register("stats_table_profile", oracle_sql=_profile_oracle())
def stats_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics: per column, row count, null
    count, exact NDV, typed min/max (numeric as double, string/
    timestamp rendered to varchar), and mean string length — the
    inputs a cost-based optimizer's cardinality model consumes.

    Plan: ONE aggregate scan per table computes every column's stats
    in a single ``agg`` (Catalyst Expand fans the row once per
    distinct-aggregate — the exact-NDV cost; the HLL sketch path is
    ``agg_hll_rollup``); the 1-row results explode into per-column
    report rows and union. No per-column rescans. r12 (guide §2.5 —
    input skew): the fixture tables arrive as ONE parquet split, so
    the Expand x7 partial distinct-aggregate — the whole cost of this
    query — ran on a single task (profiled: one 2.45 s task, 31 cores
    idle). ``load_spread`` repartitions the raw rows across the
    cluster first; the shuffled bytes are the raw table (trivial next
    to the Expand fan-out), and on a many-split production table the
    spread is a near-no-op. Aggregation contents are unchanged.
    """
    # Aggs and report-row structs render as F.expr SQL strings (r12,
    # guide §1.2 step 2/§7.3 — the dedup.band_array/_dbl_array_sql
    # convention): the Column-DSL spelling cost ~1 s of py4j
    # round-trips per call (~200 calls: 5 agg expressions x ~40
    # columns + 8-field structs), near half this query's warm cost.
    # Identical expression trees (count(1), count(DISTINCT c),
    # CAST/round/date_format as before); oracle re-verified green.

    def table_profile(tbl: str) -> DataFrame:
        cols = [(c, k) for t, c, k in _PROFILE_COLS if t == tbl]
        df = load_spread(spark, sf_dir, tbl)
        aggs = ["count(1) AS n_rows"]
        for c, kind in cols:
            aggs.append(
                f"CAST((count(1) - count(`{c}`)) AS BIGINT) AS `{c}__nn`"
            )
            aggs.append(f"count(DISTINCT `{c}`) AS `{c}__ndv`")
            if kind == "num":
                aggs.append(f"CAST(min(`{c}`) AS DOUBLE) AS `{c}__mn`")
                aggs.append(f"CAST(max(`{c}`) AS DOUBLE) AS `{c}__mx`")
            elif kind == "ts":
                fmt = "yyyy-MM-dd HH:mm:ss"
                aggs.append(
                    f"date_format(min(`{c}`), '{fmt}') AS `{c}__ms`"
                )
                aggs.append(
                    f"date_format(max(`{c}`), '{fmt}') AS `{c}__xs`"
                )
            else:
                aggs.append(f"min(`{c}`) AS `{c}__ms`")
                aggs.append(f"max(`{c}`) AS `{c}__xs`")
                aggs.append(
                    f"round(avg(length(`{c}`)), 4) AS `{c}__al`"
                )
        one = df.agg(*[F.expr(a) for a in aggs])

        def row(c: str, kind: str) -> str:
            null_d, null_s = "CAST(NULL AS DOUBLE)", "CAST(NULL AS STRING)"
            return (
                f"named_struct('col', '{c}',"
                f" 'n_null', `{c}__nn`, 'ndv', `{c}__ndv`,"
                f" 'min_num', {f'`{c}__mn`' if kind == 'num' else null_d},"
                f" 'max_num', {f'`{c}__mx`' if kind == 'num' else null_d},"
                f" 'min_str', {f'`{c}__ms`' if kind != 'num' else null_s},"
                f" 'max_str', {f'`{c}__xs`' if kind != 'num' else null_s},"
                f" 'avg_len', {f'`{c}__al`' if kind == 'str' else null_d})"
            )

        row_arr = F.expr(
            "array(" + ", ".join(row(c, k) for c, k in cols) + ")"
        )
        return one.select(
            F.lit(tbl).alias("tbl"),
            F.col("n_rows"),
            F.explode(row_arr).alias("r"),
        ).select(
            "tbl",
            "r.col",
            "n_rows",
            "r.n_null",
            "r.ndv",
            "r.min_num",
            "r.max_num",
            "r.min_str",
            "r.max_str",
            "r.avg_len",
        )

    tables = sorted({t for t, _, _ in _PROFILE_COLS})
    out = table_profile(tables[0])
    for t in tables[1:]:
        out = out.unionByName(table_profile(t))
    return out.orderBy("tbl", "col")
