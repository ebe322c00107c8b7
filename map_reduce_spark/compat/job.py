"""MapReduceJob — the reference engine's job API on Spark.

Semantics reproduced (SURVEY.md §2.1 operator table):

- E1 whole-file scan: one record ``(filename, contents)`` per input
  file (worker.go:78-86) -> ``sc.wholeTextFiles`` with
  ``minPartitions=defaultParallelism``, so the map stage runs on
  every core rather than the default 2 tasks.
- E2 map: ``map_fn(filename, contents) -> [(key, value)]``
  (worker.go:87) -> ``flatMap``.
- E3 hash partition: FNV-32a & 0x7fffffff mod n_reduce
  (worker.go:32-44) -> ``groupByKey`` with the exact hash as its
  partitioner. Values are first collected into per-key lists
  map-side (PySpark's list combiner, spilling under
  ``spark.python.worker.memory``), so the hash runs once per distinct
  key per map task and one record per key crosses the shuffle.
- E6 per-partition ascending byte-wise key sort (worker.go:117) ->
  sort of the partition's distinct keys.
- E7 ``reduce_fn(key, [values]) -> value`` called once per distinct
  key with ALL values (worker.go:121-137); ``reduce_fn`` never runs
  map-side, so it sees the same value multiset as in the reference.
- E8 text sink ``"<key> <value>\\n"`` per line, one file
  ``mr-out-<r>`` per reduce partition (worker.go:118-138).

Everything the reference implements as control-plane machinery —
scheduling, phase barrier, 10s straggler re-execution, atomic output
commit (coordinator.go:52-158, worker.go:47-70) — is inherited from
Spark's DAG scheduler, task retry, and output committer; nothing to
build (SURVEY.md §4.1).

Scale note: ``reduce_fn`` receives the *complete* value list for a
key, exactly like the reference, so the compat path holds unbounded
per-key state. The map-side list combine cuts the shuffle's record
count, not that state: a key's value list is as long as its number of
emitted pairs. That is faithful but anti-scale; the native engine
(operators/, functions/) uses decomposable aggregates instead. The
compat layer is for running existing reference workloads unchanged.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from operator import itemgetter

from pyspark.sql import SparkSession

from map_reduce_spark.compat.fnv import make_partitioner

MapFn = Callable[[str, str], list[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]


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


def _sorted_reduce(reduce_fn: ReduceFn):
    """Per reduce partition of ``(key, values)`` groups: ascending key
    order, one ``reduce_fn`` call per distinct key."""

    def run(groups: Iterable[tuple[str, Iterable[str]]]) -> Iterable[str]:
        for key, values in sorted(groups, key=itemgetter(0)):
            yield f"{key} {reduce_fn(key, list(values))}"

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

        The write is a distributed text sink (saveAsTextFile — task
        outputs commit atomically via the rename-based committer, the
        same idempotence trick as worker.go:66-69); the part files are
        then renamed to the reference's ``mr-out-<r>`` layout, a pure
        metadata operation.
        """
        map_fn, reduce_fn, n_reduce = self.map_fn, self.reduce_fn, self.n_reduce
        tmp_dir = os.path.join(out_dir, "_mr_tmp")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        os.makedirs(out_dir, exist_ok=True)
        sc = spark.sparkContext
        (
            sc.wholeTextFiles(self._input_glob(), minPartitions=sc.defaultParallelism)
            .flatMap(lambda fc: map_fn(os.path.basename(fc[0]), fc[1]))
            .groupByKey(n_reduce, make_partitioner(n_reduce))
            .mapPartitions(_sorted_reduce(reduce_fn))
            .saveAsTextFile(tmp_dir)
        )
        all_lines: list[str] = []
        for r in range(n_reduce):
            part = os.path.join(tmp_dir, f"part-{r:05d}")
            dest = os.path.join(out_dir, f"mr-out-{r}")
            if os.path.exists(part):
                os.replace(part, dest)
            else:  # empty partition still gets an (empty) output file
                open(dest, "w").close()
            # every "%v %v\n" line, blank-looking or holding a "\r" too
            with open(dest, encoding="utf-8", newline="\n") as f:
                all_lines.extend(line.removesuffix("\n") for line in f)
        shutil.rmtree(tmp_dir, ignore_errors=True)
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
            with open(path, encoding="utf-8") as f:
                contents = f.read()
            intermediate.extend(self.map_fn(os.path.basename(path), contents))
        return list(_sort_group_reduce(self.reduce_fn)(intermediate))


def sorted_output(lines: list[str]) -> list[str]:
    """The reference's correctness observable: the sorted multiset of
    output lines across all partitions (test-mr.sh:103-104)."""
    return sorted(line for line in lines if line)
