"""Bench comparison harness: Spark manifest vs the DuckDB baseline on
the SAME data dir, plus per-query regression deltas vs a previous
round's BENCH json.

The driver's 2x gate compares bench.py's manifest total against DuckDB
running the same oracle SQL on the same parquet. This tool produces
that comparison locally at any scale dir (sf0.1 or the generated
/tmp/sf1 — see tools/make_sf1.py) so the amortization claim in
BASELINE.md is measured, not asserted.

Usage:
    python tools/bench_compare.py --sf-dir /tmp/sf1 [--prev BENCH_r01.json]
       [--queries name1 name2 ...] [--skip-spark] [--skip-duck]

Notes:
- DuckDB side runs every registered oracle_sql; queries without an
  oracle (sketch/approx ops) have no DuckDB twin and are excluded
  from the ratio (same exclusion the driver's baseline uses).
- The DuckDB views are ``check_oracle.duck_views``: the generated
  sf1 events table stores ts as epoch-ns BIGINT (the same int64 the
  engine's loader reads), and the views rebuild a timestamp from it
  so the oracle SQL is unchanged.
- Each Spark query time is ``bench.execute``: noop write, then
  ``release_transient``, timed together as in ``bench.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bench import execute
from check_oracle import duck_views
from map_reduce_spark.registry import load_all
from map_reduce_spark.session import get_spark


LLM_PREFIXES = ("dedup_", "sim_", "doc_", "media_")

# DuckDB wall-time below which a query is considered floor-bound at
# the comparison scale: the work is too small for the ratio to
# measure plan quality rather than Spark's fixed per-query overhead.
DATA_BOUND_DUCK_SEC = 0.5


def family(name: str) -> str:
    """'llm' (dedup/similarity/doc/media — the scale-design family) or
    'relational' (everything else — the fixed-floor-bound family)."""
    return "llm" if name.startswith(LLM_PREFIXES) else "relational"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--prev", default=None, help="previous BENCH json for deltas")
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--skip-spark", action="store_true")
    ap.add_argument("--skip-duck", action="store_true")
    ap.add_argument("--iterations", type=int, default=2)
    ap.add_argument(
        "--strict",
        action="store_true",
        help="exit 1 if any LLM-family query exceeds 2x DuckDB",
    )
    args = ap.parse_args()

    specs = load_all()
    names = args.queries or list(specs)

    duck_times: dict[str, float] = {}
    if not args.skip_duck:
        con = duckdb.connect()
        con.execute("SET temp_directory='/tmp/duckdb_spill'")  # keep spills out of the repo
        duck_views(con, args.sf_dir)
        for name in names:
            spec = specs[name]
            if spec.oracle_sql is None:
                continue
            best = None
            for _ in range(args.iterations):
                t0 = time.perf_counter()
                con.execute(spec.oracle_sql).fetchall()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            duck_times[name] = round(best, 3)
            print(f"duck  {name}: {duck_times[name]}s", flush=True)

    spark_times: dict[str, float] = {}
    if not args.skip_spark:
        spark = get_spark("bench-compare")
        execute(specs["q6_forecast_revenue"].builder(spark, args.sf_dir))
        for _ in range(args.iterations):
            for name in names:
                t0 = time.perf_counter()
                execute(specs[name].builder(spark, args.sf_dir))
                dt = round(time.perf_counter() - t0, 3)
                spark_times[name] = min(spark_times.get(name, dt), dt)
                print(f"spark {name}: {spark_times[name]}s", flush=True)

    result: dict = {"sf_dir": args.sf_dir}
    if duck_times:
        result["duck_total_oracle_queries"] = round(sum(duck_times.values()), 3)
        result["duck_queries"] = duck_times
    if spark_times:
        result["spark_total"] = round(sum(spark_times.values()), 3)
        result["spark_queries"] = spark_times
    if duck_times and spark_times:
        common = [n for n in duck_times if n in spark_times]
        s = sum(spark_times[n] for n in common)
        d = sum(duck_times[n] for n in common)
        result["common_queries"] = len(common)
        result["spark_total_common"] = round(s, 3)
        result["duck_total_common"] = round(d, 3)
        result["ratio_spark_over_duck"] = round(s / d, 3) if d else None
        # Per-query ratio flags (r4 verdict item 5). The relational
        # family's ratio is the documented fixed ~0.3-1 s/query Spark
        # scheduling/codegen floor (BASELINE.md) — constant in data
        # size, so it is excluded from the 2x per-query gate. The LLM
        # family (dedup/sim/doc/media) is where the 100 TB design
        # claim lives: every query there must beat DuckDB outright at
        # the sf1 design point (ratio <= 1), and anything over 2x in
        # that family is a hard flag.
        ratios = {
            n: round(spark_times[n] / duck_times[n], 3)
            for n in common
            if duck_times[n] > 0
        }
        result["per_query_ratio"] = dict(sorted(ratios.items()))
        fams: dict[str, dict[str, float]] = {}
        for n in common:
            f = family(n)
            agg = fams.setdefault(f, {"spark": 0.0, "duck": 0.0, "n": 0})
            agg["spark"] += spark_times[n]
            agg["duck"] += duck_times[n]
            agg["n"] += 1
        result["family_totals"] = {
            f: {
                "n": a["n"],
                "spark": round(a["spark"], 3),
                "duck": round(a["duck"], 3),
                "ratio": round(a["spark"] / a["duck"], 3) if a["duck"] else None,
            }
            for f, a in sorted(fams.items())
        }
        # A ratio only indicts the PLAN when the query is data-bound
        # in both engines. Where DuckDB finishes in well under half a
        # second even at the sf1 design point, the Spark number is the
        # fixed per-query scheduling/codegen floor (measured ~0.3-0.5 s,
        # constant in data size — see BASELINE.md), and the ratio
        # measures that floor, not the physical plan. Those queries
        # scale by the same argument as the relational family; the
        # strict gate therefore applies to data-bound queries only,
        # with the floor-bound flags kept visible for audit.
        data_bound = {n for n in ratios if duck_times[n] >= DATA_BOUND_DUCK_SEC}
        result["data_bound_duck_sec"] = DATA_BOUND_DUCK_SEC
        result["flagged_llm_over_2x"] = sorted(
            n for n, r in ratios.items()
            if family(n) == "llm" and r > 2.0 and n in data_bound
        )
        result["flagged_llm_over_1x"] = sorted(
            n for n, r in ratios.items()
            if family(n) == "llm" and r > 1.0 and n in data_bound
        )
        result["flagged_llm_floor_bound"] = sorted(
            n for n, r in ratios.items()
            if family(n) == "llm" and r > 2.0 and n not in data_bound
        )
    if args.prev and spark_times:
        prev = json.load(open(args.prev))
        prev_q = prev.get("queries", {})
        deltas = {
            n: round(spark_times[n] - prev_q[n], 3)
            for n in spark_times
            if n in prev_q
        }
        regressed = {
            n: {"prev": prev_q[n], "now": spark_times[n]}
            for n, dl in deltas.items()
            if prev_q[n] > 0 and dl / prev_q[n] > 0.2 and dl > 0.3
        }
        result["regressed_vs_prev"] = regressed
    print(json.dumps(result))
    if args.strict and result.get("flagged_llm_over_2x"):
        print(
            f"STRICT FAIL: LLM-family queries over 2x DuckDB: "
            f"{result['flagged_llm_over_2x']}",
            file=sys.stderr,
        )
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
