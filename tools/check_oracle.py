"""Local replica of the driver's t2 correctness gate.

Runs every registered query on Spark AND its oracle SQL on DuckDB over
the same parquet directory, then compares: row count, column names,
and exact values after sorting columns by name and rows by all
columns. Strict by default (exact equality, incl. floats) because the
driver hashes values; reports max float deltas on mismatch to help
debug.

Usage:
    python tools/check_oracle.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_spark.plans.transient import release_transient  # noqa: E402
from map_reduce_spark.registry import load_all  # noqa: E402
from map_reduce_spark.session import get_spark  # noqa: E402
from map_reduce_spark.sources import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s, d = canon(spark_pdf), canon(duck_pdf)
    if len(s) != len(d):
        return problems
    for col in s.columns:
        sv, dv = s[col], d[col]
        # STRICT dtype-kind check: the driver hashes raw values, so a
        # Spark int64 against a DuckDB HUGEINT->float64 (5 vs 5.0)
        # flips the hash even when numerically equal. Flag it here so
        # local green == driver green (r1 had 3 such mismatches).
        if sv.dtype.kind != dv.dtype.kind:
            problems.append(
                f"col {col}: dtype kind mismatch (driver hash would differ): "
                f"spark={sv.dtype} duck={dv.dtype}"
            )
        try:
            sv_c = sv.astype("float64") if sv.dtype != dv.dtype and pd.api.types.is_numeric_dtype(sv) else sv
            dv_c = dv.astype("float64") if sv.dtype != dv.dtype and pd.api.types.is_numeric_dtype(dv) else dv
        except (TypeError, ValueError):
            sv_c, dv_c = sv, dv
        try:
            eq = (sv_c.values == dv_c.values) | (pd.isna(sv_c).values & pd.isna(dv_c).values)
        except Exception as exc:  # dtype mismatch etc.
            problems.append(f"col {col}: cannot compare ({exc}); spark dtype={sv.dtype} duck dtype={dv.dtype}")
            continue
        if not eq.all():
            n_bad = int((~eq).sum())
            detail = ""
            if pd.api.types.is_numeric_dtype(sv_c) and pd.api.types.is_numeric_dtype(dv_c):
                delta = (pd.to_numeric(sv_c) - pd.to_numeric(dv_c)).abs().max()
                detail = f", max|delta|={delta}"
            bad_idx = (~eq).nonzero()[0][:3]
            examples = [(col, i, sv_c.iloc[i], dv_c.iloc[i]) for i in bad_idx]
            problems.append(f"col {col}: {n_bad} mismatched values{detail}; e.g. {examples}")
    return problems


def duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    """One DuckDB view per fixture table, as the oracle SQL expects.

    ``events.ts`` is TIMESTAMP(NANOS) in the fixtures but epoch-ns
    BIGINT in ``tools/make_sf1.py`` output (the int64 the engine's
    loader reads); the view rebuilds a TIMESTAMP from it so the oracle
    SQL is unchanged."""
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if t == "events":
            (typ,) = [
                c[1]
                for c in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
                if c[0] == "ts"
            ]
            if typ == "BIGINT":
                con.execute(
                    f"""CREATE VIEW events AS
                        SELECT event_id, make_timestamp(ts // 1000) AS ts,
                               user_id, event_type, value, props
                        FROM '{path}'"""
                )
                continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a vanilla SparkSession (local[8], shuffle=8, UTC) "
        "instead of session.get_spark — the DRIVER's environment; use "
        "this to reproduce driver-parity checks (r8: the full window "
        "was value-verified this way before rotation)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    queries = load_all()
    names = args.names or list(queries)

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")  # keep spills out of the repo
    duck_views(con, args.sf_dir)

    n_pass = n_fail = n_noracle = 0
    for name in names:
        spec = queries[name]
        t0 = time.time()
        try:
            sdf = spec.builder(spark, args.sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        finally:
            release_transient()
        if spec.oracle_sql is None:
            print(f"SKIP  {name}: no oracle (rows={len(spark_pdf)}) [{time.time()-t0:.1f}s]")
            n_noracle += 1
            continue
        try:
            duck_pdf = con.execute(spec.oracle_sql).df()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"PASS  {name} (rows={len(spark_pdf)}) [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
