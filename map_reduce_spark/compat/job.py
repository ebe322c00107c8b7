"""MapReduceJob — the reference engine's job API on Spark.

Semantics reproduced (SURVEY.md §2.1 operator table):

- E1 whole-file scan: one record ``(filename, contents)`` per input
  file (worker.go:78-86) -> ``sc.wholeTextFiles`` with
  ``minPartitions=defaultParallelism``, so the map stage runs on
  every core rather than the default 2 tasks.
- E2 map: ``map_fn(filename, contents) -> [(key, value)]``
  (worker.go:87), called per file inside ``_grouped``.
- E3 hash partition: FNV-32a & 0x7fffffff mod n_reduce
  (worker.go:32-44) picks a key's bucket ``r``, i.e. its output file.
  Each map task first groups its pairs into one plain
  ``{key: [values]}`` dict (``_grouped``), as the reference's map
  worker fills its nReduce buckets, so one ``(key, values)`` record per
  key crosses the shuffle. ``partitionBy`` sends bucket ``r`` to reduce
  task ``r mod n_tasks``, where ``n_tasks = min(n_reduce,
  defaultParallelism)``: one reduce task per core, each owning the
  buckets ``r ≡ t (mod n_tasks)``, so the reduce stage runs in one wave
  instead of paying per-task costs for ``n_reduce`` tiny tasks. On a
  host with at least ``n_reduce`` cores it is one task per bucket, as
  in the reference.
- E6 per-bucket ascending byte-wise key sort (worker.go:117) -> the
  reduce task merges the map tasks' lists per key (``_merge``), sorts
  its distinct keys and splits them by bucket (the hash runs once more
  per distinct key here).
- E7 ``reduce_fn(key, [values]) -> value`` called once per distinct
  key with ALL values (worker.go:121-137); ``reduce_fn`` never runs
  map-side, so it sees the same value multiset as in the reference.
- E8 text sink ``"<key> <value>\\n"`` per line, one file
  ``mr-out-<r>`` per bucket, empty if no key hashes there
  (worker.go:118-138): the reduce task writes each of its buckets to a
  temp file under ``out_dir/_mr_tmp/``, named by bucket and task
  attempt, then makes it visible with one ``os.replace`` — the temp
  file + ``os.Rename`` of worker.go:66-69.

The rest of the reference's control plane — scheduling, phase
barrier, 10s straggler re-execution (coordinator.go:52-158) — is
Spark's DAG scheduler and task retry; nothing to build (SURVEY.md
§4.1). A retried or speculative attempt writes its own temp files and
rewrites each of its task's files, and a rename of complete content is
atomic, so a reader never sees a partial ``mr-out-<r>``. ``run()``
removes ``_mr_tmp`` whether the job succeeds or raises.

Scale note: ``reduce_fn`` receives the *complete* value list for a
key, exactly like the reference, so the compat path holds unbounded
per-key state: a key's value list is as long as its number of emitted
pairs, and each reduce task holds all its buckets in memory to sort
them, as the reference's worker holds its one bucket. Nothing spills
to disk. The map side is bounded without spilling: once the Python
worker's RSS reaches 0.9 × ``spark.python.worker.memory`` (the bound
``RDD.groupByKey`` uses), ``_grouped`` sends its groups on and starts
a new dict. That is faithful but anti-scale; the native engine
(operators/, functions/) uses decomposable aggregates instead. The
compat layer is for running existing reference workloads unchanged.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark import TaskContext
from pyspark.shuffle import get_used_memory
from pyspark.sql import SparkSession
from pyspark.util import _parse_memory

from map_reduce_spark.compat.fnv import make_partitioner

MapFn = Callable[[str, str], list[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

# temp dir under out_dir for the reduce tasks' not-yet-renamed outputs
_TMP = "_mr_tmp"


def _sort_group_reduce(reduce_fn: ReduceFn):
    """Sort by key, group contiguous runs, reduce once per distinct
    key — the exact loop of worker.go:117-137. The body of
    ``run_sequential()``; ``run()`` groups through the shuffle."""

    def run(records: Iterable[tuple[str, str]]) -> Iterable[str]:
        kva = sorted(records, key=lambda kv: kv[0])
        i = 0
        while i < len(kva):
            j = i + 1
            while j < len(kva) and kva[j][0] == kva[i][0]:
                j += 1
            values = [kv[1] for kv in kva[i:j]]
            yield f"{kva[i][0]} {reduce_fn(kva[i][0], values)}"
            i = j

    return run


def _grouped(map_fn: MapFn, limit_mb: float):
    """Map task body over ``(path, contents)`` records: ``map_fn`` on
    each file, the pairs grouped into one ``{key: [values]}`` dict in
    first-seen key order. Once the worker's RSS reaches ``limit_mb``
    (checked after each file) the dict's groups are yielded and a new
    dict starts, so a key may leave one map task in several pieces."""

    def run(files: Iterable[tuple[str, str]]) -> Iterator[tuple[str, list[str]]]:
        groups: defaultdict[str, list[str]] = defaultdict(list)
        for path, contents in files:
            for key, value in map_fn(os.path.basename(path), contents):
                groups[key].append(value)
            if get_used_memory() >= limit_mb:
                yield from groups.items()
                groups = defaultdict(list)
        yield from groups.items()

    return run


def _merge(groups: Iterable[tuple[str, list[str]]]) -> dict[str, list[str]]:
    """One reduce partition's value list per key: the map tasks' lists
    joined in arrival order."""
    merged: dict[str, list[str]] = {}
    for key, values in groups:
        acc = merged.get(key)
        if acc is None:
            merged[key] = values
        else:
            acc.extend(values)
    return merged


def _write_reduce(reduce_fn: ReduceFn, out_dir: str, n_reduce: int, n_tasks: int):
    """Reduce task body for task ``t``, which owns the buckets
    ``r ≡ t (mod n_tasks)``: merge its records, split the keys by bucket
    ``ihash(key) % n_reduce``, and call ``reduce_fn`` once per key in
    ascending order. Each bucket's ``"<key> <value>\\n"`` lines go to a
    temp file under ``out_dir/_mr_tmp/`` named by the task attempt, then
    one ``os.replace`` to ``out_dir/mr-out-<r>`` (worker.go:117-138); an
    empty bucket gives an empty file. A failed attempt's temp files go
    when ``run()`` removes the dir."""
    bucket = make_partitioner(n_reduce)

    def run(t: int, groups: Iterable[tuple[str, list[str]]]) -> Iterator[None]:
        merged = _merge(groups)
        keys: dict[int, list[str]] = {r: [] for r in range(t, n_reduce, n_tasks)}
        for key in sorted(merged):
            keys[bucket(key)].append(key)
        attempt = TaskContext.get().taskAttemptId()
        for r, bucket_keys in keys.items():
            tmp = os.path.join(out_dir, _TMP, f"mr-out-{r}.{attempt}")
            with open(tmp, "w", encoding="utf-8", newline="\n") as f:
                f.writelines(f"{key} {reduce_fn(key, merged[key])}\n" for key in bucket_keys)
            os.replace(tmp, os.path.join(out_dir, f"mr-out-{r}"))
        return iter(())

    return run


@dataclass
class MapReduceJob:
    """``MapReduceJob(inputs, map_fn, reduce_fn).run(spark, out_dir)``.

    ``inputs``: list of file paths or glob (one map record per file).
    ``n_reduce``: number of reduce partitions / output files
    (reference default 10, /root/reference/src/main/mrcoordinator.go:23).
    """

    inputs: list[str] | str
    map_fn: MapFn
    reduce_fn: ReduceFn
    n_reduce: int = 10

    def _input_glob(self) -> str:
        if isinstance(self.inputs, str):
            return self.inputs
        return ",".join(self.inputs)

    def run(self, spark: SparkSession, out_dir: str) -> list[str]:
        """Distributed run; writes ``mr-out-<r>`` files, returns all
        output lines (unsorted across partitions, sorted within).

        One Spark job: ``wholeTextFiles`` → ``_grouped`` (map, one dict
        group per map task) → ``partitionBy(n_tasks, FNV)`` →
        ``_write_reduce`` (merge, sort, reduce, temp file + atomic
        rename per bucket). ``n_tasks = min(n_reduce,
        defaultParallelism)``: one reduce task per core, task ``t``
        owning buckets ``r ≡ t (mod n_tasks)``, so a host with fewer
        cores than ``n_reduce`` runs one wave of reduce tasks, and one
        with at least ``n_reduce`` runs one task per bucket. The driver
        then reads the files back. ``out_dir/_mr_tmp`` is removed
        whether or not the job succeeds. A relative ``out_dir`` is taken
        against the driver's cwd.
        """
        map_fn, reduce_fn, n_reduce = self.map_fn, self.reduce_fn, self.n_reduce
        out_dir = os.path.abspath(out_dir)
        tmp_dir = os.path.join(out_dir, _TMP)
        shutil.rmtree(tmp_dir, ignore_errors=True)
        os.makedirs(tmp_dir)
        sc = spark.sparkContext
        n_tasks = min(n_reduce, sc.defaultParallelism)
        bucket = make_partitioner(n_reduce)
        # the map-side bound RDD.groupByKey applies to its list combiner
        limit_mb = 0.9 * _parse_memory(sc._conf.get("spark.python.worker.memory", "512m"))
        try:
            (
                sc.wholeTextFiles(self._input_glob(), minPartitions=sc.defaultParallelism)
                .mapPartitions(_grouped(map_fn, limit_mb))
                .partitionBy(n_tasks, lambda key: bucket(key) % n_tasks)
                .mapPartitionsWithIndex(_write_reduce(reduce_fn, out_dir, n_reduce, n_tasks))
                .collect()
            )
        finally:
            shutil.rmtree(tmp_dir)
        all_lines: list[str] = []
        for r in range(n_reduce):
            # every "%v %v\n" line, blank-looking or holding a "\r" too
            with open(os.path.join(out_dir, f"mr-out-{r}"), encoding="utf-8", newline="\n") as f:
                all_lines.extend(line.removesuffix("\n") for line in f)
        return all_lines

    def run_sequential(self) -> list[str]:
        """Pure-Python sequential oracle — the mrsequential twin
        (/root/reference/src/main/mrsequential.go:28-90): one global
        sort, one output stream. Used as ground truth by the tests,
        exactly as test-mr.sh:80-83 uses mrsequential."""
        import glob as globmod

        paths: list[str] = []
        if isinstance(self.inputs, str):
            for part in self.inputs.split(","):
                paths.extend(sorted(globmod.glob(part)))
        else:
            paths = list(self.inputs)
        intermediate: list[tuple[str, str]] = []
        for path in paths:
            # newline="": keep "\r" as the reference's raw-byte
            # ReadFile and run()'s wholeTextFiles do
            with open(path, encoding="utf-8", newline="") as f:
                contents = f.read()
            intermediate.extend(self.map_fn(os.path.basename(path), contents))
        return list(_sort_group_reduce(self.reduce_fn)(intermediate))


def sorted_output(lines: list[str]) -> list[str]:
    """The reference's correctness observable: the sorted multiset of
    output lines across all partitions (test-mr.sh:103-104)."""
    return sorted(line for line in lines if line)
