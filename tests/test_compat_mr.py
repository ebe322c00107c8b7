"""Compat-layer tests: the reference's own differential-testing scheme
(SURVEY.md §5.1) — distributed output must equal the sequential
oracle's output as a sorted multiset of lines (test-mr.sh:103-104) —
plus the fault-tolerance and exactly-once harness behaviors.
"""

from __future__ import annotations

import os

import pytest

from map_reduce_spark.compat.apps import APPS
from map_reduce_spark.compat.fnv import fnv1a_32, ihash
from map_reduce_spark.compat.job import MapReduceJob, sorted_output


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Synthetic Gutenberg-analogue corpus: 6 text files with repeated
    vocabulary, mixed case, punctuation, and non-ASCII letters."""
    d = tmp_path_factory.mktemp("corpus")
    texts = {
        "pg-alpha.txt": "The quick brown fox jumps over the lazy dog.\n"
        "THE QUICK fox! A dog? Über-fox naïve café.\n" * 20,
        "pg-beta.txt": "To be or not to be, that is the question.\n"
        "Whether tis nobler in the mind to suffer.\n" * 30,
        "pg-gamma.txt": "It was the best of times, it was the worst of times.\n" * 25,
        "pg-delta.txt": "Call me Ishmael. Some years ago - never mind how long.\n" * 15,
        "pg-epsilon.txt": "alpha beta gamma delta epsilon zeta eta theta\n" * 40,
        "pg-zeta.txt": "lorem ipsum dolor sit amet consectetur adipiscing elit\n" * 35,
    }
    for name, text in texts.items():
        (d / name).write_text(text, encoding="utf-8")
    return str(d)


def test_fnv32a_known_vectors():
    # Published FNV-1a 32-bit test vectors (public domain reference values)
    assert fnv1a_32("") == 0x811C9DC5
    assert fnv1a_32("a") == 0xE40C292C
    assert fnv1a_32("foobar") == 0xBF9CF968
    assert 0 <= ihash("anything") <= 0x7FFFFFFF


@pytest.mark.parametrize("app", ["wc", "indexer", "concat", "filecount"])
def test_distributed_equals_sequential(spark, corpus, tmp_path, app):
    """Three-way differential golden: the reference's defining check.

    sequential oracle ≡ 1-partition distributed ≡ 10-partition
    distributed, compared as sorted line multisets.
    """
    map_fn, reduce_fn = APPS[app]
    inputs = f"{corpus}/pg-*.txt"

    seq = sorted_output(MapReduceJob(inputs, map_fn, reduce_fn).run_sequential())
    one = sorted_output(
        MapReduceJob(inputs, map_fn, reduce_fn, n_reduce=1).run(
            spark, str(tmp_path / f"{app}_p1")
        )
    )
    ten = sorted_output(
        MapReduceJob(inputs, map_fn, reduce_fn, n_reduce=10).run(
            spark, str(tmp_path / f"{app}_p10")
        )
    )
    assert seq == one == ten
    assert len(seq) > 0


def test_output_file_layout(spark, corpus, tmp_path):
    """E8 parity, byte for byte: one mr-out-<r> file per bucket, holding
    exactly the sequential oracle's lines whose key the FNV hash sends
    to r (E3), in ascending key order (E6), each ending in "\\n"
    (worker.go:96-138). concat has 4 keys, so at least 6 of its 10
    buckets are empty files; wc at 7 buckets has more buckets than the
    fixture's 4 cores, so reduce tasks own several buckets each."""
    assert spark.sparkContext.defaultParallelism < 7
    for app, n_reduce in (("wc", 10), ("concat", 10), ("wc", 7)):
        map_fn, reduce_fn = APPS[app]
        job = MapReduceJob(f"{corpus}/pg-*.txt", map_fn, reduce_fn, n_reduce=n_reduce)
        out = tmp_path / f"{app}_{n_reduce}"
        job.run(spark, str(out))
        assert sorted(os.listdir(out)) == sorted(f"mr-out-{r}" for r in range(n_reduce))
        seq = job.run_sequential()  # every key once, ascending
        empty = 0
        for r in range(n_reduce):
            want = "".join(
                f"{line}\n" for line in seq if ihash(line.split(" ")[0]) % n_reduce == r
            )
            assert (out / f"mr-out-{r}").read_bytes() == want.encode("utf-8"), (app, n_reduce, r)
            empty += not want
        assert empty >= n_reduce - len(seq), (app, n_reduce)


def test_failed_job_removes_temp_dir(spark, corpus, tmp_path):
    """A job whose map always raises makes run() raise, and leaves no
    _mr_tmp (nor any partial temp file in it) under out_dir."""

    def failing_map(filename: str, contents: str):
        raise RuntimeError("injected map failure")

    out = tmp_path / "failed"
    job = MapReduceJob(f"{corpus}/pg-*.txt", failing_map, APPS["wc"][1], n_reduce=3)
    with pytest.raises(Exception, match="injected map failure"):
        job.run(spark, str(out))
    assert "_mr_tmp" not in os.listdir(out)


def test_relative_out_dir(spark, corpus, tmp_path, monkeypatch):
    """A relative out_dir is taken against the driver's cwd, not the
    JVM's or a Python worker's: the output lands there, complete."""
    monkeypatch.chdir(tmp_path)
    map_fn, reduce_fn = APPS["wc"]
    job = MapReduceJob(f"{corpus}/pg-*.txt", map_fn, reduce_fn, n_reduce=3)
    got = job.run(spark, "out_rel")
    assert sorted_output(got) == sorted_output(job.run_sequential())
    assert sorted(os.listdir(tmp_path / "out_rel")) == ["mr-out-0", "mr-out-1", "mr-out-2"]


def test_grouped_flush_then_merge_equals_sequential(corpus):
    """With a 0 MiB limit the map side flushes its groups after every
    file, so one map task sends a key in several pieces; the reduce
    side's merge still gives each key all its values (no Spark)."""
    from glob import glob

    from map_reduce_spark.compat.job import _grouped, _merge

    paths = sorted(glob(f"{corpus}/pg-*.txt"))
    files = [(p, open(p, encoding="utf-8").read()) for p in paths]
    for app in ("wc", "indexer", "concat"):
        map_fn, reduce_fn = APPS[app]
        pieces = list(_grouped(map_fn, 0)(iter(files)))
        assert len(pieces) == sum(
            len({k for k, _ in map_fn(os.path.basename(p), c)}) for p, c in files
        )
        merged = _merge(pieces)
        lines = [f"{k} {reduce_fn(k, merged[k])}" for k in sorted(merged)]
        assert lines == MapReduceJob(paths, map_fn, reduce_fn).run_sequential(), app


def test_wc_counts_are_exact(spark, corpus, tmp_path):
    """Spot-check: wc output equals an independent Python Counter."""
    import itertools
    from collections import Counter
    from glob import glob

    counter: Counter[str] = Counter()
    for path in glob(f"{corpus}/pg-*.txt"):
        text = open(path, encoding="utf-8").read()
        counter.update(
            "".join(g) for alpha, g in itertools.groupby(text, key=str.isalpha) if alpha
        )
    map_fn, reduce_fn = APPS["wc"]
    lines = MapReduceJob(f"{corpus}/pg-*.txt", map_fn, reduce_fn).run(
        spark, str(tmp_path / "wc_exact")
    )
    got = dict(line.rsplit(" ", 1) for line in lines)
    assert got == {w: str(n) for w, n in counter.items()}
    # Unicode-letter tokenization caught the non-ASCII words
    assert "Über" in got and "naïve" in got and "café" in got


def test_fault_tolerance_reexecution(spark, corpus, tmp_path):
    """The crash-test analogue (test-mr.sh:284-330): map attempts fail
    on their first execution, Spark re-executes (task.maxFailures=2),
    and the output still matches the sequential oracle byte-for-byte.
    """
    from pyspark import TaskContext

    map_fn, reduce_fn = APPS["wc"]

    def crashy_map(filename: str, contents: str):
        ctx = TaskContext.get()
        if ctx is not None and ctx.attemptNumber() == 0 and filename.endswith("alpha.txt"):
            raise RuntimeError("injected crash (first attempt)")
        return map_fn(filename, contents)

    inputs = f"{corpus}/pg-*.txt"
    seq = sorted_output(MapReduceJob(inputs, map_fn, reduce_fn).run_sequential())
    got = sorted_output(
        MapReduceJob(inputs, crashy_map, reduce_fn).run(spark, str(tmp_path / "crashy"))
    )
    assert got == seq


@pytest.mark.parametrize("seed", range(5))
def test_fault_tolerance_many_seeds(spark, corpus, tmp_path, seed):
    """test-mr-many.sh analogue (reference loops the crash suite to
    catch retry races): vary WHICH maps and WHICH reduce buckets crash
    on their first attempt across seeds; every variant must still match
    the sequential oracle exactly. The crash is keyed on the bucket,
    not the task, since one reduce task may own several buckets."""
    import random

    from pyspark import TaskContext

    rng = random.Random(seed)
    crash_files = tuple(
        rng.sample(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"], k=2)
    )
    crash_parts = set(rng.sample(range(5), k=2))
    map_fn, reduce_fn = APPS["wc"]

    def crashy_map(filename: str, contents: str):
        ctx = TaskContext.get()
        if (
            ctx is not None
            and ctx.attemptNumber() == 0
            and any(filename.endswith(f"{f}.txt") for f in crash_files)
        ):
            raise RuntimeError(f"injected map crash (seed={seed})")
        return map_fn(filename, contents)

    def crashy_reduce(key: str, values: list[str]) -> str:
        ctx = TaskContext.get()
        if (
            ctx is not None
            and ctx.attemptNumber() == 0
            and ihash(key) % 5 in crash_parts
        ):
            (tmp_path / f"reduce-crash-{ihash(key) % 5}").touch()
            raise RuntimeError(f"injected reduce crash (seed={seed})")
        return reduce_fn(key, values)

    inputs = f"{corpus}/pg-*.txt"
    out = tmp_path / f"crashy_{seed}"
    seq = sorted_output(MapReduceJob(inputs, map_fn, reduce_fn).run_sequential())
    got = sorted_output(
        MapReduceJob(inputs, crashy_map, crashy_reduce, n_reduce=5).run(spark, str(out))
    )
    assert got == seq
    # each chosen bucket crashed its reduce task's first attempt; a task
    # that owns both stops at the first of them
    crashed = {
        int(name.rsplit("-", 1)[1])
        for name in os.listdir(tmp_path)
        if name.startswith("reduce-crash-")
    }
    n_tasks = min(5, spark.sparkContext.defaultParallelism)
    assert crashed <= crash_parts
    assert {b % n_tasks for b in crashed} == {b % n_tasks for b in crash_parts}
    # the crashed reduce attempts leave no temp file or temp dir behind
    assert sorted(os.listdir(out)) == [f"mr-out-{r}" for r in range(5)]


def test_early_exit_atomic_visibility(spark, corpus, tmp_path):
    """Early-exit analogue (test-mr.sh:230-280): partial output is
    never observable. Poll the output dir while a slow job runs: any
    mr-out-<r> file, from the moment it first exists, must already
    hold its final complete content (the distributed write commits to
    a temp dir; each visible file appears via one atomic rename)."""
    import threading
    import time

    map_fn, reduce_fn = APPS["wc"]

    def slow_reduce(key: str, values: list[str]) -> str:
        time.sleep(0.01)
        return reduce_fn(key, values)

    out = tmp_path / "early_exit"
    job = MapReduceJob(f"{corpus}/pg-*.txt", map_fn, slow_reduce, n_reduce=4)
    result: dict[str, list[str]] = {}

    def run():
        result["lines"] = job.run(spark, str(out))

    t = threading.Thread(target=run)
    t.start()
    first_seen: dict[str, str] = {}
    while t.is_alive():
        if out.exists():
            for name in os.listdir(out):
                if name.startswith("mr-out-") and name not in first_seen:
                    first_seen[name] = (out / name).read_text(encoding="utf-8")
        time.sleep(0.002)
    t.join()
    for name, content_at_first_sight in first_seen.items():
        final = (out / name).read_text(encoding="utf-8")
        assert content_at_first_sight == final, (
            f"{name} was visible with partial content before completion"
        )
    assert sorted_output(result["lines"]) == sorted_output(
        MapReduceJob(f"{corpus}/pg-*.txt", map_fn, reduce_fn).run_sequential()
    )


def test_exactly_once_map_execution(spark, corpus, tmp_path):
    """jobcount analogue (test-mr.sh:201-223): without failures, each
    input file's map runs exactly once (no spurious re-execution)."""
    acc = spark.sparkContext.accumulator(0)
    map_fn, reduce_fn = APPS["filecount"]

    def counting_map(filename: str, contents: str):
        acc.add(1)
        return map_fn(filename, contents)

    MapReduceJob(f"{corpus}/pg-*.txt", counting_map, reduce_fn).run(
        spark, str(tmp_path / "jobcount")
    )
    assert acc.value == 6  # one map invocation per input file


def test_parallelism_probe(spark, tmp_path):
    """mtiming analogue (test-mr.sh:147-174): with 2x as many equal-size
    input files as task slots, the map stage runs on every slot — the
    output names at least defaultParallelism distinct map tasks."""
    from pyspark import TaskContext

    slots = spark.sparkContext.defaultParallelism
    for i in range(2 * slots):
        (tmp_path / f"in-{i}.txt").write_text("x " * 100, encoding="utf-8")

    def task_map(filename: str, contents: str):
        return [(f"task-{TaskContext.get().partitionId()}", "1")]

    lines = MapReduceJob(
        f"{tmp_path}/in-*.txt", task_map, lambda k, vs: str(len(vs))
    ).run(spark, str(tmp_path / "out"))
    tasks = {line.split(" ")[0] for line in lines}
    assert len(tasks) >= slots, f"map stage ran as {len(tasks)} tasks, {slots} slots"


def test_output_keeps_blank_and_cr_lines(spark, tmp_path):
    """run() returns every "%v %v\\n" line run_sequential() does: an
    empty key and value give the line " ", a "\\r" inside a value
    does not split its line, and both paths hand map_fn a "\\r\\n"
    input's bytes unchanged (the reference's ReadFile is raw bytes)."""
    (tmp_path / "in.txt").write_text("abc", encoding="utf-8")
    (tmp_path / "crlf.txt").write_bytes(b"ab\r\ncd\r\n")
    cases = {
        "empty": ("in.txt", lambda fn, c: [("", "")], [" "]),
        "cr": ("in.txt", lambda fn, c: [("a", "x\ry"), ("b", "z")], ["a x\ry", "b z"]),
        "crlf_input": ("crlf.txt", lambda fn, c: [("n", str(len(c)))], ["n 8"]),
    }
    for name, (src, map_fn, want) in cases.items():
        job = MapReduceJob(f"{tmp_path}/{src}", map_fn, lambda k, vs: vs[0], n_reduce=3)
        assert sorted_output(job.run_sequential()) == want
        assert sorted_output(job.run(spark, str(tmp_path / name))) == want


# ---------------------------------------------------------------------------
# Hypothesis-randomized differential fuzz (r5 verdict stretch item):
# E1-E8's byte-parity claim was proven only on the reference's eight
# fixed apps; this drives RANDOM jobs from a combinator pool through
# the distributed path vs the pure-Python sequential oracle.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _make_map(kind: str):
    """Map combinators. All emit (key, value) pairs whose keys/values
    are space-free (the text sink's "k v" framing)."""
    return {
        "words": lambda fn, c: [(w, "1") for w in c.split()],
        "first_char": lambda fn, c: [(w[0], w) for w in c.split()],
        "length_class": lambda fn, c: [(str(len(w)), w) for w in c.split()],
        "prefix2": lambda fn, c: [(w[:2], str(len(w))) for w in c.split()],
        "per_file": lambda fn, c: [(fn, str(len(c.split())))],
    }[kind]


def _make_reduce(kind: str):
    """Reduce combinators. All are multiset functions of the value
    list (order-insensitive), the same contract the reference's apps
    satisfy — the engine guarantees WHICH values arrive, not their
    relative order across map tasks."""
    return {
        "count": lambda k, vs: str(len(vs)),
        "concat_sorted": lambda k, vs: "-".join(sorted(vs)),
        "max": lambda k, vs: max(vs),
        "uniq": lambda k, vs: str(len(set(vs))),
        "sumlen": lambda k, vs: str(sum(len(v) for v in vs)),
    }[kind]


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(
    texts=st.lists(
        st.text(alphabet="abcdefg \n", min_size=0, max_size=120),
        min_size=1,
        max_size=4,
    ),
    map_kind=st.sampled_from(
        ["words", "first_char", "length_class", "prefix2", "per_file"]
    ),
    reduce_kind=st.sampled_from(
        ["count", "concat_sorted", "max", "uniq", "sumlen"]
    ),
    n_reduce=st.integers(1, 7),
)
def test_random_jobs_distributed_equals_sequential(
    spark, tmp_path_factory, texts, map_kind, reduce_kind, n_reduce
):
    """>= 50 random (corpus, map_fn, reduce_fn, n_reduce) jobs: the
    distributed path's sorted output multiset must equal the
    sequential oracle's, exactly (test-mr.sh:103 semantics)."""
    d = tmp_path_factory.mktemp("fuzz_in")
    inputs = []
    for i, text in enumerate(texts):
        p = d / f"f{i}.txt"
        p.write_text(text, encoding="utf-8")
        inputs.append(str(p))
    job = MapReduceJob(
        inputs, _make_map(map_kind), _make_reduce(reduce_kind), n_reduce=n_reduce
    )
    out_dir = tmp_path_factory.mktemp("fuzz_out")
    got = sorted_output(job.run(spark, str(out_dir)))
    want = sorted_output(job.run_sequential())
    assert got == want
