"""Tests of the span arithmetic and the event-log reader.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
``data/events_small.jsonl`` is a real Spark 4.1 event log (job, stage
and task events only) of four jobs on ``local[2]``:

- group ``1/wc/compat.job``: an RDD word count (map + result stage);
- group ``2/wc/compat.job``: the same shuffle collected again, so its
  map stage is skipped;
- group ``1/q/exec.execute``: a pandas UDF plus an aggregate, fired
  with a different ``spark.jobGroup.id`` (as a streaming thread does);
- one job with no group.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import GROUP_KEY, Span, Tracer, parse_event_log, self_times  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "events_small.jsonl")


def _events() -> list[dict]:
    with open(LOG, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="module")
def groups():
    with open(LOG, encoding="utf-8") as f:
        return parse_event_log(f)


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "query", 0.0, 10.0, None, "q"),
        Span(1, "a", 1.0, 3.0, 0, "q"),
        Span(2, "b", 2.0, 5.0, 0, "q"),  # overlaps a: 1..5 counted once
        Span(3, "c", 8.0, 12.0, 0, "q"),  # clipped to the parent: 8..10
        Span(4, "d", 2.5, 2.7, 2, "q"),  # grandchild: covered by b only
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert selfs[2] == pytest.approx(3.0 - 0.2)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[4] == pytest.approx(0.2)


def test_tracer_records_parents_and_writes_self_times(tmp_path):
    tr = Tracer()
    with tr.span("query", "1/q") as root:
        with tr.span("exec.execute", "1/q") as child:
            time.sleep(0.01)
    with tr.span("query", "1/r"):
        pass
    assert [s.parent for s in tr.spans] == [None, root.id, None]
    assert child.duration >= 0.01
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["query", "exec.execute", "query"]
    assert rows[0]["self"] == pytest.approx(root.duration - child.duration)


def test_groups_come_from_the_group_property(groups):
    assert set(groups) == {"1/wc/compat.job", "2/wc/compat.job", "1/q/exec.execute"}
    job_groups = {
        e["Properties"].get("spark.jobGroup.id")
        for e in _events()
        if e["Event"] == "SparkListenerJobStart" and e["Properties"].get(GROUP_KEY)
    }
    # the pandas-UDF job ran under another Spark job group
    assert "some-stream-run-id" in job_groups


def test_jobs_stages_tasks(groups):
    wc, again = groups["1/wc/compat.job"], groups["2/wc/compat.job"]
    udf = groups["1/q/exec.execute"]
    assert (wc["exec.jobs"], wc["exec.stages"], wc["exec.tasks"]) == (1, 2, 4)
    # skipped map stage: neither counted nor timed
    assert (again["exec.jobs"], again["exec.stages"], again["exec.tasks"]) == (1, 1, 2)
    assert again["exec.map_stage_s"] == 0 and again["exec.result_stage_s"] > 0
    assert (udf["exec.jobs"], udf["exec.stages"], udf["exec.tasks"]) == (1, 2, 3)
    assert wc["exec.map_stage_s"] > 0 and wc["exec.result_stage_s"] > 0
    assert wc["exec.map_stage_s"] + wc["exec.result_stage_s"] <= wc["exec.job_s"] + 1e-9


def test_task_counters_match_the_log(groups):
    tasks = [e for e in _events() if e["Event"] == "SparkListenerTaskEnd"]
    grouped_stages = {
        e["Stage Info"]["Stage ID"]
        for e in _events()
        if e["Event"] == "SparkListenerStageSubmitted" and e["Properties"].get(GROUP_KEY)
    }
    run_ms = sum(
        t["Task Metrics"]["Executor Run Time"] for t in tasks if t["Stage ID"] in grouped_stages
    )
    assert sum(g["exec.task_run_s"] for g in groups.values()) == pytest.approx(run_ms / 1e3)
    wc = groups["1/wc/compat.job"]
    assert wc["exec.shuffle_write_bytes"] == wc["exec.shuffle_read_bytes"] > 0
    assert groups["2/wc/compat.job"]["exec.shuffle_write_bytes"] == 0


def test_python_worker_metrics(groups):
    updates: dict[str, float] = {}
    for e in _events():
        if e["Event"] == "SparkListenerTaskEnd":
            for acc in e["Task Info"]["Accumulables"]:
                if "Python workers" in acc["Name"]:
                    updates[acc["Name"]] = updates.get(acc["Name"], 0) + float(acc["Update"])
    udf = groups["1/q/exec.execute"]
    assert udf["python.bytes_sent"] == updates["data sent to Python workers"] > 0
    assert udf["python.bytes_returned"] == updates["data returned from Python workers"] > 0
    # timing metrics are milliseconds
    assert udf["python.run_s"] == pytest.approx(updates["time to run Python workers"] / 1e3)
    assert udf["python.start_s"] == pytest.approx(
        (updates["time to start Python workers"] + updates["time to initialize Python workers"])
        / 1e3
    )
    assert groups["1/wc/compat.job"]["python.run_s"] == 0
