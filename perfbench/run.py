"""The repository's benchmark: end-to-end metrics per workload, and a
traced run that splits the time by layer.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/workloads.json``):

- ``relational``, ``llm``, ``deferred``: registered queries over the
  seed-42 fixture tables bundled under ``perfbench/data``. ``registry``
  freezes which family each of the registered queries belongs to;
  ``measured`` names the few of each family a run times, sized so a
  run fits in about a minute. The seed permutes the query order
  of each warm pass (the cold pass keeps the listed order); the data
  never change.
- ``mr_compat``: ``compat.MapReduceJob`` with the ``wc`` and
  ``indexer`` apps over a Zipf corpus generated from the seed.

One run: set up once in this fresh process (import the program's
modules, start the SparkSession and its JVM, ``load_all()``, one
warm-up query); run one cold pass; run warm passes until ``--seconds``
have elapsed; stop timing and verify every output. The last stdout
line is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics under ``--trace 0`` and the
per-layer metrics under ``--trace 1``, in the units ``BENCHMARK.json``
declares. The line before it stamps the host and versions.

End-to-end metrics: ``setup_s`` (the set-up), ``cold_pass_s``,
``pass_s`` (median warm pass), ``query_p50_s`` (median over the
workload's queries, or jobs, of each one's median warm time) and
``ok_ratio`` (share of queries that neither raised nor failed
verification). The stamp line also carries ``query_p90_s`` (the same
over queries, 90th percentile) and ``peak_rss_mb`` (VmHWM of the Spark
JVM plus this process, read after the second warm pass).

The traced run writes an event log, per-query job groups and spans;
the difference between its ``trace.pass_s`` and the untraced
``pass_s`` is the tracing overhead. Each run also writes a result
file and (traced) a span file under ``.perfbench_work/results``.

The program runs on its defaults except ``SPARK_GRAFT_CPUS`` (set to
the cores this process may use) and ``SPARK_LOCAL_DIRS``. So that the
run writes only inside the checkout, temporary files go under
``.perfbench_work`` (``TMPDIR``, ``-Djava.io.tmpdir``) and the JVM
keeps no ``/tmp/hsperfdata_<user>`` file (``-XX:-UsePerfData``).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

from corpus import write_corpus
from spans import COUNTERS, GROUP_KEY, Tracer, parse_event_log, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_WARM_PASSES = 2


def _config() -> dict:
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as f:
        return json.load(f)


def _units() -> tuple[dict[str, str], dict[str, str]]:
    """Unit of every end-to-end and every per-layer metric."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _prepare_env() -> None:
    """Environment the program and its Python workers start with."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    for d in ("spark-local", "tmp", "eventlog", "mr-out", "corpus"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("spark-local", "tmp", "eventlog", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    opts = (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(o for o in opts if o)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _percentile(values: list[float], q: int) -> float:
    """Interpolated q-th percentile (q in 1..99)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Bench:
    """One benchmark run of one workload."""

    def __init__(self, args: argparse.Namespace, cfg: dict) -> None:
        self.args, self.cfg = args, cfg
        self.e2e_units, self.layer_units = _units()
        self.rng = random.Random(args.seed)
        self.data = os.path.join(HERE, cfg["fixtures"])
        self.tracer = Tracer() if args.trace else None
        self.extra_conf = {}
        if args.trace:
            self.extra_conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = None
        self.failures: dict[str, str] = {}
        self.detail: dict = {}

    # -- set-up -------------------------------------------------------------
    def setup(self) -> float:
        """Import the program, start the session, ``load_all()`` and run
        one warm-up query; the JVM and the imports are fresh, so their
        cost is part of the time."""
        t0 = time.perf_counter()
        # imported only now: the session module reads SPARK_GRAFT_CPUS at
        # import time, after _prepare_env has set it
        from map_reduce_spark.plans.deferred import DeferredDataFrame
        from map_reduce_spark.plans.transient import release_transient
        from map_reduce_spark.registry import load_all
        from map_reduce_spark.session import get_spark
        from map_reduce_spark.sources import cache

        self._DeferredDataFrame = DeferredDataFrame
        self._release_transient = release_transient
        self._cache = cache
        self.spark = get_spark("perfbench", extra_conf=self.extra_conf)
        self.specs = load_all()
        self._noop(self.specs[self.cfg["warmup"]].builder(self.spark, self.data))
        release_transient()
        setup_s = time.perf_counter() - t0
        self._check_membership()
        self.sc = self.spark.sparkContext
        self.app_id = self.sc.applicationId
        return setup_s

    def _check_membership(self) -> None:
        """Every frozen name must be registered; report registered
        queries that belong to no workload."""
        frozen = {n for members in self.cfg["registry"].values() for n in members}
        missing = sorted(frozen - set(self.specs))
        if missing:
            raise SystemExit(f"perfbench: frozen names missing from load_all(): {missing}")
        unassigned = sorted(set(self.specs) - frozen)
        if unassigned:
            print(f"perfbench: registered queries in no workload: {unassigned}", file=sys.stderr)

    def _order(self, items, index: int) -> list:
        """Pass ``index``'s order: as listed for the cold pass, whose cost
        would otherwise depend on which query first meets the fresh JVM;
        a seeded permutation for every warm pass."""
        order = list(items)
        if index:
            self.rng.shuffle(order)
        return order

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # -- tracing ------------------------------------------------------------
    def _call(self, name: str, query: str, fn):
        """``fn()``; in the traced run, inside span ``name`` of ``query``
        and job group ``<query>/<name>``."""
        if self.tracer is None:
            return fn()
        group = f"{query}/{name}"
        self.sc.setJobGroup(group, name)
        self.sc.setLocalProperty(GROUP_KEY, group)
        with self.tracer.span(name, query):
            return fn()

    def stamp(self) -> dict:
        import pyspark

        jvm = self.spark._jvm
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark.driver.memory": self.sc.getConf().get("spark.driver.memory", "1g"),
            "pyspark": pyspark.__version__,
            "java": jvm.java.lang.System.getProperty("java.version"),
        }

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0

    # -- the run ------------------------------------------------------------
    def run(self) -> dict:
        setup_s = self.setup()
        self.prepare()
        cold = self.one_pass(0)
        warm: list[dict] = []
        t0 = time.perf_counter()
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t0 < self.args.seconds:
            warm.append(self.one_pass(len(warm) + 1))
            if len(warm) == MIN_WARM_PASSES:
                # read after a fixed amount of work, so a faster program
                # that fits more passes in the time is not charged for them
                peak = self.peak_rss_mb()
        attempted = self.verify()
        # per-query median over the warm passes; the percentiles are over
        # the workload's queries (jobs on mr_compat), so one slow pass
        # moves them no more than it moves a median
        per_query = [
            statistics.median(p["times"][q] for p in warm) for q in warm[0]["times"]
        ]
        self.detail.update(
            stamp={**self.stamp(), "warm_passes": len(warm), "queries": len(per_query)},
            cold_pass={"s": cold["s"], "times": cold["times"]},
            warm_passes=[{"s": p["s"], "times": p["times"]} for p in warm],
            failures=self.failures,
        )
        e2e = {
            "setup_s": setup_s,
            "cold_pass_s": cold["s"],
            "pass_s": statistics.median(p["s"] for p in warm),
            "query_p50_s": _percentile(per_query, 50),
            "ok_ratio": 1.0 - len(self.failures) / attempted,
        }
        self.detail["end_to_end"] = e2e
        # reported but not gated: their run-to-run spread on a shared
        # 4-vCPU host comes close to the largest bound a metric may have
        self.detail["unbounded"] = {
            "query_p90_s": _percentile(per_query, 90),
            "peak_rss_mb": peak,
        }
        if self.tracer is None:
            metrics, units = e2e, self.e2e_units
        else:
            self.spark.stop()
            metrics, units = self.per_layer(warm), self.layer_units
        return {
            "correct": not self.failures,
            "attempted": attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def per_layer(self, warm: list[dict]) -> dict:
        """Per-layer metrics: medians over the warm passes of each pass's
        sum, except where a metric's comment says otherwise."""
        with open(os.path.join(WORK, "eventlog", self.app_id), encoding="utf-8") as f:
            groups = parse_event_log(f)
        selfs = self_times(self.tracer.spans)
        spans: dict[tuple[int, str], float] = {}
        for sp in self.tracer.spans:
            key = (int(sp.query.split("/", 1)[0]), sp.name)
            spans[key] = spans.get(key, 0.0) + selfs[sp.id]

        def per_pass(fn) -> float:
            return statistics.median(fn(p) for p in range(1, len(warm) + 1))

        def ev(p: int, counter: str, layer: str | None = None) -> float:
            """Event-log ``counter`` summed over pass ``p``'s job groups
            (only those of ``layer``, if given)."""
            return sum(
                g[counter]
                for name, g in groups.items()
                if name.split("/", 1)[0] == str(p) and (layer is None or name.endswith("/" + layer))
            )

        # every metric is written on every workload, 0 where the workload
        # does not reach the layer; the exec.* and python.* counters are
        # summed over every job of a pass, whichever layer fired it
        out: dict[str, float] = dict.fromkeys(self.layer_units, 0)
        for counter in COUNTERS:
            if counter in out:
                out[counter] = per_pass(lambda p: ev(p, counter))
        self._layers(out, per_pass, ev, spans, warm)
        out["trace.pass_s"] = statistics.median(p["s"] for p in warm)
        self.detail["per_layer"] = out
        return out

    def write_results(self, result: dict) -> None:
        base = os.path.join(
            WORK, "results", f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}"
        )
        with open(base + ".json", "w", encoding="utf-8") as f:
            json.dump({**self.detail, "result": result}, f, indent=1)
        if self.tracer is not None:
            self.tracer.write(base + ".spans.jsonl")


class RegistryBench(Bench):
    """relational / llm / deferred: registered queries, noop sink."""

    def prepare(self) -> None:
        self.names = list(self.cfg["measured"][self.args.workload])
        self.cold_inserts = self.warm_inserts = self.evictions = self.resident_bytes = 0

    def run_query(self, spec, group: str) -> int:
        """Build, materialize a deferred proxy, plan (traced run only),
        execute into the noop sink and release transient persists;
        returns the count released."""
        df = self._call("registry.build", group, lambda: spec.builder(self.spark, self.data))
        if isinstance(df, self._DeferredDataFrame):
            self._call("plans.deferred.materialize", group, df._d_materialize)
        if self.tracer is not None:
            self._call("catalyst.plan", group, lambda: df._jdf.queryExecution().executedPlan())
        self._call("exec.execute", group, lambda: self._noop(df))
        return self._call("plans.transient.release", group, self._release_transient)

    def one_pass(self, index: int) -> dict:
        order = self._order(self.names, index)
        times: dict[str, float] = {}
        inserts = released = 0
        t_pass = time.perf_counter()
        for name in order:
            group = f"{index}/{name}"
            before = set(self._cache._LRU) if self.tracer is not None else None
            t0 = time.perf_counter()
            try:
                if self.tracer is None:
                    released += self.run_query(self.specs[name], group)
                else:
                    with self.tracer.span("query", group):
                        released += self.run_query(self.specs[name], group)
            except Exception as exc:  # a failing query is counted, not fatal
                self.failures.setdefault(name, f"pass {index}: {type(exc).__name__}: {exc}")
                self._release_transient()
            times[name] = time.perf_counter() - t0
            if before is not None:
                after = set(self._cache._LRU)
                inserts += len(after - before)
                self.evictions += len(before - after)
        elapsed = time.perf_counter() - t_pass
        if index == 0:
            self.cold_inserts = inserts
            if self.tracer is not None:
                self.resident_bytes = self._cache._persisted_bytes(self.spark)
        else:
            self.warm_inserts += inserts
        return {"s": elapsed, "times": times, "released": released}

    def verify(self) -> int:
        """Oracle entries: strict DuckDB comparison. Others: rows > 0 and
        the declared schema equal to the materialized one."""
        import duckdb

        from map_reduce_spark.sources import TABLES

        saved = list(sys.path)
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        try:
            from check_oracle import compare
        finally:
            sys.path[:] = saved
        if self.tracer is not None:
            self.sc.setLocalProperty(GROUP_KEY, "verify")
            self.sc.setJobGroup("verify", "verify")
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp', 'duckdb')}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for name in self.names:
            spec = self.specs[name]
            try:
                df = spec.builder(self.spark, self.data)
                declared = df.dtypes
                pdf = df.toPandas()
                if spec.oracle_sql is not None:
                    problems = compare(name, pdf, con.execute(spec.oracle_sql).df())
                else:
                    problems = []
                    if not len(pdf):
                        problems.append("no rows")
                    if df.dtypes != declared or list(pdf.columns) != [c for c, _ in declared]:
                        problems.append(f"declared schema {declared} != materialized {df.dtypes}")
            except Exception as exc:
                problems = [f"{type(exc).__name__}: {exc}"]
            finally:
                self._release_transient()
            if problems:
                self.failures.setdefault(name, "verify: " + "; ".join(problems))
        con.close()
        return len(self.names)

    def _layers(self, out: dict, per_pass, ev, spans: dict, warm: list[dict]) -> None:
        for span in (
            "registry.build",
            "plans.deferred.materialize",
            "catalyst.plan",
            "exec.execute",
            "plans.transient.release",
        ):
            out[span + "_s"] = per_pass(lambda p: spans.get((p, span), 0.0))
        out["plans.deferred.jobs"] = per_pass(
            lambda p: ev(p, "exec.jobs", "plans.deferred.materialize")
        )
        # cache: inserts and persisted bytes of the cold pass, evictions of
        # the whole run, and rebuilds summed over all warm passes
        out["sources.cache.inserts"] = self.cold_inserts
        out["sources.cache.evictions"] = self.evictions
        out["sources.cache.resident_bytes"] = self.resident_bytes
        out["sources.cache.warm_inserts"] = self.warm_inserts
        out["plans.transient.released"] = statistics.median(p["released"] for p in warm)


class CompatBench(Bench):
    """mr_compat: MapReduceJob wc + indexer over a seeded corpus."""

    def prepare(self) -> None:
        from map_reduce_spark.compat.job import MapReduceJob
        from map_reduce_spark.compat.apps import APPS

        mc = self.cfg["mr_compat"]
        corpus = write_corpus(
            os.path.join(WORK, "corpus"), self.args.seed, mc["files"], mc["bytes"]
        )
        self.corpus = {"corpus_bytes": corpus["bytes"], "corpus_sha256": corpus["sha256"]}
        self.jobs = {
            app: MapReduceJob(corpus["paths"], *APPS[app], n_reduce=mc["n_reduce"])
            for app in mc["apps"]
        }
        self.outputs: dict[str, list[str]] = {}

    def one_pass(self, index: int) -> dict:
        order = self._order(self.jobs, index)
        times: dict[str, float] = {}
        t_pass = time.perf_counter()
        for app in order:
            group = f"{index}/{app}"
            out_dir = os.path.join(WORK, "mr-out", app)
            t0 = time.perf_counter()
            try:
                self.outputs[app] = self._call(
                    "compat.job", group, lambda: self.jobs[app].run(self.spark, out_dir)
                )
            except Exception as exc:
                self.failures.setdefault(app, f"pass {index}: {type(exc).__name__}: {exc}")
            times[app] = time.perf_counter() - t0
        return {"s": time.perf_counter() - t_pass, "times": times}

    def stamp(self) -> dict:
        return {**super().stamp(), **self.corpus}

    def verify(self) -> int:
        from map_reduce_spark.compat.job import sorted_output

        seq_s = 0.0
        for app, job in self.jobs.items():
            t0 = time.perf_counter()
            expected = sorted_output(job.run_sequential())
            seq_s += time.perf_counter() - t0
            got = self.outputs.get(app)
            if got is None or sorted_output(got) != expected:
                self.failures.setdefault(app, "verify: distributed output != run_sequential()")
        self.sequential_s = seq_s
        return len(self.jobs)

    def _layers(self, out: dict, per_pass, ev, spans: dict, warm: list[dict]) -> None:
        def job_s(p: int) -> float:
            return spans.get((p, "compat.job"), 0.0)

        out["compat.job_s"] = per_pass(job_s)
        out["compat.map_stage_s"] = per_pass(lambda p: ev(p, "exec.map_stage_s"))
        out["compat.reduce_stage_s"] = per_pass(lambda p: ev(p, "exec.result_stage_s"))
        # run() wall time beyond its Spark job: output renames and reads
        out["compat.commit_s"] = per_pass(lambda p: job_s(p) - ev(p, "exec.job_s"))
        # both apps' run_sequential(), timed once during verification
        out["compat.sequential_s"] = self.sequential_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cfg = _config()
    workloads = list(cfg["measured"]) + ["mr_compat"]
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; known: {workloads}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "map_reduce_spark")):
        print("perfbench: map_reduce_spark not found next to perfbench/", file=sys.stderr)
        return 2
    _prepare_env()
    bench_cls = CompatBench if args.workload == "mr_compat" else RegistryBench
    bench = bench_cls(args, cfg)
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        _stop_jvm()
    bench.write_results(result)
    print(json.dumps({"stamp": bench.detail["stamp"], "unbounded": bench.detail["unbounded"]}))
    print(json.dumps(result))
    return 0


def _stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
