"""SparkSession factory.

One place that pins every config the engine relies on. Designed for a
real multi-executor cluster (AQE, adaptive skew-join, partition
coalescing) while remaining testable on ``local[N]``.

Scale notes (100 TB design point):
- AQE is on: runtime partition coalescing + skew-join splitting means
  the static ``spark.sql.shuffle.partitions`` only needs to be an
  upper bound; on a cluster it should be ~2-3x total cores.
- ``spark.sql.session.timeZone=UTC`` pins timestamp semantics so
  results are host-independent (and match the DuckDB oracle).
- Arrow is enabled for every pandas interchange (Pandas UDFs,
  ``toPandas``) — the only sanctioned Python data path.

Python workers:
- ``spark.executorEnv.PYTHONPATH`` is the directory holding the
  package, so workers unpickle the compat map/reduce functions and
  UDF helpers, and start the daemon below, from any cwd, not only
  when the cwd is the repo root.
- ``spark.python.daemon.module`` is ``map_reduce_spark.pydaemon``, the
  stock ``pyspark.daemon`` behind a stat-guarded zip reload. Each
  Python task's set-up ends in ``importlib.invalidate_caches()``; on
  Python 3.11/3.12 that made every zipimporter of
  ``$SPARK_HOME/python/lib/pyspark.zip`` (one per imported pyspark
  package, 14-16 per worker) re-read the archive's 1,328-entry
  directory: 61-108 ms per task on 3.11, most of a small task's run.
  Now an archive is re-read only when its stat changed. On 4 vCPUs a
  warm 10-task ``parallelize(...).count()`` went from 0.64-0.85 to
  0.23-0.34 s, and mr_compat's reduce stage (10 small Python tasks)
  from 1.74 to 0.51 s per pass. Spark's ``spark.python.worker.module``
  cannot carry this: ``pyspark.daemon`` accepts only worker modules
  named ``pyspark*``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the ``map_reduce_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "map_reduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and submit via spark-submit.
    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_CPUS`` too, read
    in the same call, so master and width always agree. Unset, the
    variable means the cores this process may run on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 (guide §2.2/§2.4 — scale-adaptive partitioning): by
        # default AQE may not change the output partitioning of a
        # cached plan, so every InMemoryRelation freezes the static
        # shuffle-partition count into all downstream stages — the
        # graph/dedup builders' cached edge/frontier frames ran
        # 64-128 tasks per hop on MB-sized data (pure per-task
        # overhead), and at cluster scale the same freeze would pin
        # whatever constant the session started with instead of
        # sizing partitions to the data. With the flag on, AQE
        # coalesces (or splits) under the cache exactly as it does
        # for uncached plans. Paired min-of-3 at sf0.1:
        # graph_khop 8.54->3.62 s, graph_pagerank 4.71->3.32 s,
        # graph_triangle_count 2.63->1.47 s; oracle gate re-verified
        # green after the change.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # r12 (guide §1.2 step 2/§7 — per-task vs fixed work): the
        # JVM-wide generated-class cache (janino-compiled
        # WholeStageCodegen/projection units, keyed by generated
        # source) is a STATIC conf capped at 100 entries by default —
        # sized for a handful of hot queries, not a 166-query
        # manifest. A full registry pass creates ~1.5k distinct
        # codegen units, so at 100 entries every bench iteration
        # recompiles nearly every unit (janino + fresh classes →
        # C2 JIT re-warm churn: the "intermittent in-session
        # inflation" measured in session 4). 4096 holds the whole
        # manifest's units; entries are source+class pairs (tens of
        # KB each), so the ceiling is bounded by ~100-200 MB on the
        # 16 GB driver heap. A production long-running session
        # (Thrift server / serving loop) raises this for exactly the
        # same reason.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python workers import the package from any cwd; the daemon
        # module skips the per-task pyspark.zip re-read (module docstring).
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.python.daemon.module", "map_reduce_spark.pydaemon")
        # ContextCleaner reclaims broadcast/shuffle blocks only when
        # the driver GCs their references, and the default periodic-GC
        # interval (30 min) is longer than a whole registry sweep — on
        # a 16 GB single-JVM session, dozens of queries' broadcast
        # builds accumulated until a later query's (legitimately
        # small) broadcast build threw "not enough memory to build and
        # broadcast" (r11 sf10 sweep, measured). 2 min keeps long
        # multi-query sessions reclaiming; the forced GC is a no-op
        # cost at this cadence.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # GCLocker-starvation spurious OOMs (r12, measured): under a
        # loaded heap with 32 threads doing compressed shuffle/spill
        # IO (JNI critical sections pin the GC lock), tasks died with
        # "Retried waiting for GCLocker too often allocating 3 words"
        # — an OutOfMemoryError thrown after only TWO retry attempts
        # (the JDK<=21 default) while the heap still had room; the
        # same sweep prefix OOM'd deterministically at sf10 on two
        # consecutive trees at query 16, always with word-sized
        # allocations. Raising the retry budget removes the spurious
        # failure mode (the real-exhaustion OOM still fires — a task
        # that cannot allocate after 64 GC-locker waits is genuinely
        # out of memory). JDK 22+ removed the GCLocker entirely for
        # this reason; this is the supported JDK 17 mitigation.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
