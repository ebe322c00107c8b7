"""Benchmark harness — runs the full query manifest and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}. The stdout line keeps the
slowest queries only (sized to survive the driver's 2000-byte output
window); the complete per-query map is written to
``BENCH_FULL_local.json`` next to this file.

Data dir: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
Parallelism: local[$SPARK_GRAFT_CPUS] (default: the cores this process may use)

Each query executes fully through the noop sink (no driver-side
result materialization cost) after a warm-up query primes the JVM.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from map_reduce_spark.plans.transient import release_transient
from map_reduce_spark.registry import load_all
from map_reduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()
    # Release the query's plan-internal persists (basket arrays,
    # DSIR bucket counts, ...) so a 160+-query session never leans on
    # LRU eviction; session-scoped index caches are not enrolled and
    # survive, as intended.
    release_transient()


def trim_line(result: dict, timings: dict[str, float], budget: int = 1800) -> dict:
    """Shrink the stdout JSON line to ``budget`` bytes by keeping only
    the slowest queries. Always returns a parseable dict: if even the
    keep=1 variant (or an empty manifest) exceeds the budget, the
    per-query map is dropped entirely (queries: {}, all omitted)."""
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    for keep in range(len(slowest), 0, -1):
        line = dict(result)
        line["queries"] = dict(sorted(slowest[:keep]))
        line["queries_omitted"] = len(timings) - keep
        if len(json.dumps(line, separators=(",", ":"))) <= budget:
            return line
    line = dict(result)
    line["queries"] = {}
    line["queries_omitted"] = len(timings)
    return line


def main() -> None:
    specs = load_all()
    spark = get_spark("bench")

    # JVM/codegen warm-up (not measured)
    execute(specs["q6_forecast_revenue"].builder(spark, SF_DIR))

    # Three iterations, report the min: the first run pays one-time
    # codegen/JIT compile, index-cache materialization, and stray
    # ContextCleaner pauses, and this host shows ±30-40% transient
    # noise on sub-second queries; the min over three is the
    # steady-state per-query cost (the number comparable across
    # engines and across rounds).
    timings: dict[str, float] = {}
    # Iteration-1 ("cold") timings are kept separately: they include
    # one-time index-cache builds and codegen compiles that the min
    # hides, so the artifact makes session-cache build cost visible
    # (r12 verdict item 2). Artifact-only — the stdout line and the
    # reported min are unchanged.
    cold: dict[str, float] = {}
    for _ in range(3):
        for name, spec in specs.items():
            t0 = time.perf_counter()
            execute(spec.builder(spark, SF_DIR))
            dt = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            cold.setdefault(name, dt)

    total = round(sum(timings.values()), 3)
    # Full per-query detail goes to a repo-local artifact; stdout gets
    # ONE compact JSON line. The driver keeps only the last ~2000
    # bytes of stdout and parses the JSON from that window, so a line
    # carrying all ~70 query timings (>2.3 KB) is head-truncated and
    # never parses (BENCH_r01..r03 all record parsed:null for exactly
    # this reason). Emit the slowest queries only, trimmed so the line
    # stays safely inside the window; the artifact has everything.
    result = {
        "metric": "manifest_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": dict(sorted(timings.items())),
        "sf": sf_from_dir(SF_DIR),
        "n_queries": len(timings),
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL_local.json"), "w") as f:
        # The artifact additionally carries the iteration-1 timings
        # ("queries_cold") so cache/codegen build cost is priced, not
        # hidden by the min. Not part of `result`: the stdout line
        # (trim_line below) stays byte-compatible with the driver's
        # 2000-byte window contract.
        json.dump({**result, "queries_cold": cold}, f, indent=1)

    # budget 1800 bytes; driver window is 2000
    print(json.dumps(trim_line(result, timings), separators=(",", ":")))


if __name__ == "__main__":
    main()
