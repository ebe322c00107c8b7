"""Spans recorded around calls into the program, and the Spark event-log
reader that attributes jobs, stages and tasks to them.

A span is (name, start, end, parent, query). The benchmark opens one
root span per query (or per MapReduce job) and one child span per call
into a layer's public function. Spans are kept in memory and written
once, when the run ends.

Job attribution uses job groups: before each layer call the benchmark
sets the group ``<pass>/<query>/<layer>`` (as the Spark job group and
as the local property ``GROUP_KEY``); every job, stage and task the
call fires carries it in the event log's ``Properties``, so no clock
alignment between Python and the JVM is needed.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    query: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; nesting follows the ``with`` blocks."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, query: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, query)
        self.spans.append(sp)
        self._open.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "self": selfs[sp.id]}) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are counted once)."""
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {sp.id: sp for sp in spans}
    for sp in spans:
        if sp.parent is not None:
            p = by_id[sp.parent]
            lo, hi = max(sp.start, p.start), min(sp.end, p.end)
            if hi > lo:
                children[sp.parent].append((lo, hi))
    return {sp.id: sp.duration - _union_length(children[sp.id]) for sp in spans}


# --- event log -----------------------------------------------------------

# Local property that names a job's group. Streaming queries run their
# jobs on a thread of their own that replaces ``spark.jobGroup.id`` but
# inherits every other local property, so attribution reads this one.
GROUP_KEY = "perfbench.group"

# SQL metrics of the Python evaluation operators (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...): event-log accumulator name
# -> (counter, scale to seconds or bytes). The timing metrics are in
# milliseconds (metricType "timing").
PYTHON_METRICS = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.start_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
}

# Counters per job group, named as the per-layer metrics they become;
# ``exec.job_s`` and the two stage sums feed the ``compat.*`` metrics.
COUNTERS = (
    "exec.jobs",
    "exec.job_s",
    "exec.stages",
    "exec.map_stage_s",
    "exec.result_stage_s",
    "exec.tasks",
    "exec.task_queue_s",
    "exec.task_run_s",
    "exec.task_cpu_s",
    "exec.task_gc_s",
    "exec.input_bytes",
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
    "exec.shuffle_fetch_wait_s",
    "exec.spill_bytes",
    "python.run_s",
    "python.start_s",
    "python.bytes_sent",
    "python.bytes_returned",
)


def _group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_KEY)


def parse_event_log(lines: Iterable[str]) -> dict[str, dict[str, float]]:
    """Fold a Spark JSON event log into per-job-group ``COUNTERS``.

    Stages that a job lists but never runs (skipped because their
    shuffle output already exists) are not counted. A job's result
    stage is its highest-numbered stage; every other stage it runs is
    a shuffle-map stage.
    """
    stats: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    result_stages: set[int] = set()
    stage_group: dict[int, str] = {}
    stage_submitted: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties"))
            if group is None:
                continue
            job = ev["Job ID"]
            job_group[job] = group
            job_start[job] = ev["Submission Time"]
            if ev.get("Stage IDs"):
                result_stages.add(max(ev["Stage IDs"]))
            stats[group]["exec.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_group:
                stats[job_group[job]]["exec.job_s"] += (ev["Completion Time"] - job_start[job]) / 1e3
        elif kind == "SparkListenerStageSubmitted":
            group = _group(ev.get("Properties"))
            info = ev["Stage Info"]
            if group is None:
                continue
            stage_group[info["Stage ID"]] = group
            stage_submitted[info["Stage ID"]] = info.get("Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            stats[group]["exec.stages"] += 1
            result = info["Stage ID"] in result_stages
            bucket = "exec.result_stage_s" if result else "exec.map_stage_s"
            stats[group][bucket] += (info["Completion Time"] - info["Submission Time"]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            _add_task(stats[group], ev, stage_submitted.get(ev["Stage ID"], 0))
    return dict(stats)


def _add_task(s: dict[str, float], ev: dict, stage_submitted_ms: int) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    s["exec.tasks"] += 1
    s["exec.task_queue_s"] += max(0, info["Launch Time"] - stage_submitted_ms) / 1e3
    s["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    s["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    s["exec.task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
    s["exec.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    s["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    s["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    s["exec.shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    s["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables") or []:
        target = PYTHON_METRICS.get(acc.get("Name"))
        if target is not None and acc.get("Update") is not None:
            s[target[0]] += float(acc["Update"]) * target[1]
