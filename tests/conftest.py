from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the package, and tools/ for the tests of tools/make_sf1.py and
# tools/check_oracle (compare, duck_views)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from map_reduce_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def _drain_transient_caches():
    """Per-test transient-cache drain (ADVICE r8): pytest is a
    non-harness consumer of the builders, so without a drain point
    transient_persist enrollments accumulate for the whole session.
    Frames enrolled BEFORE the test (none in practice — session
    fixtures don't build queries) are left alone."""
    from map_reduce_spark.plans.transient import transient_scope

    with transient_scope():
        yield


@pytest.fixture(scope="session")
def spark():
    # local[4, 2]: 4 threads, maxFailures=2 — local mode ignores
    # spark.task.maxFailures unless set in the master string; the
    # fault-tolerance tests (crash-test analogue, test-mr.sh:284-330)
    # need task re-execution enabled.
    spark = get_spark("tests", master="local[4, 2]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    import duckdb
    from check_oracle import duck_views

    con = duckdb.connect()
    duck_views(con, SF_SMOKE)
    return con
