"""The session's Python-worker set-up: the engine's worker daemon
(``map_reduce_spark.pydaemon``, whose stat-guarded zip reload every
task inherits) and the executor PYTHONPATH that lets workers import
the package from any cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_run_the_engine_daemon(spark):
    """Python tasks of a get_spark session fork from the engine's
    daemon, so they carry its guarded zipimporter reload."""
    got = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("zipimport").zipimporter.invalidate_caches.__module__)
        .collect()
    )
    assert got == ["map_reduce_spark.pydaemon"]


@pytest.fixture
def guarded():
    from map_reduce_spark import pydaemon

    stock = zipimport.zipimporter.invalidate_caches
    pydaemon.install()
    yield
    zipimport.zipimporter.invalidate_caches = stock


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_guard_rereads_an_archive_only_when_it_changed(guarded, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zguard_a": "X = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zguard_a").X == 1
        importlib.invalidate_caches()  # first sight: stamped by a reload
        n = reads.count(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == n  # unchanged: not re-read

        _write_zip(archive, {"zguard_a": "X = 1\n", "zguard_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
        assert importlib.import_module("zguard_b").Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zguard_a", "zguard_b"):
            sys.modules.pop(name, None)


_OUTSIDE_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from map_reduce_spark.compat.apps import APPS
from map_reduce_spark.compat.job import MapReduceJob, sorted_output
from map_reduce_spark.session import get_spark

spark = get_spark("outside_cwd", master="local[2]", shuffle_partitions=2)
map_fn, reduce_fn = APPS["wc"]
job = MapReduceJob(sys.argv[2], map_fn, reduce_fn, n_reduce=2)
got = sorted_output(job.run(spark, sys.argv[3]))
print(got == sorted_output(job.run_sequential()), len(got))
"""


def test_python_tasks_import_the_package_from_any_cwd(tmp_path):
    """A driver that finds the package only on its own sys.path, run
    from a cwd outside the repo with no PYTHONPATH, still runs its
    Python tasks: the workers (and their daemon) import
    map_reduce_spark through the executor PYTHONPATH."""
    (tmp_path / "pg-one.txt").write_text("the cat saw the dog, naïve café\n" * 50, encoding="utf-8")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_SCRIPT, ROOT, str(tmp_path / "pg-one.txt"), str(tmp_path / "out")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[0] == "True", out.stdout


_CPUS_SCRIPT = """
import os
from map_reduce_spark import session

spark = session.get_spark("cpus_unset")
print(spark.sparkContext.master, spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
os.environ["SPARK_GRAFT_CPUS"] = "2"
spark = session.get_spark("cpus_after_import")
print(spark.sparkContext.master, spark.conf.get("spark.sql.shuffle.partitions"))
"""


def test_cpus_set_after_import_size_master_and_shuffle_alike(tmp_path):
    """SPARK_GRAFT_CPUS is read once, when get_spark is called: a caller
    that sets it after importing the module gets the same width for
    ``local[N]`` and for the shuffle partitions. Unset, both are the
    number of cores the process may run on, not a fixed host size."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER")
    }
    env.update(PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CPUS_SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    n = len(os.sched_getaffinity(0))
    assert out.stdout.split() == [f"local[{n}]", str(n), "local[2]", "2"], out.stdout
