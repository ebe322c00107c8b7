"""Bucketed-table layout and the maintained-index state built on it.

At the 100 TB design point the dominant recurring cost of a
fact-to-fact join (orders ⋈ customer, lineitem ⋈ orders) is the
shuffle of both sides on the join key — paid on EVERY query. Bucketed
tables pay that shuffle ONCE at write time: ``bucketBy(n, key)``
hash-partitions rows into a fixed number of per-key-range files, and
any later equi-join (or groupBy) on the bucket key reads both sides
already co-partitioned — the physical plan contains ZERO Exchange
operators (pinned by tests/test_bucketed.py).

This is the Spark analogue of the reference engine's fixed
``nReduce`` intermediate layout (/root/reference/src/mr/worker.go:
mr-X-Y files hash-partitioned by FNV-32a — a bucketed write that the
reduce phase consumes co-located): the bucket count plays the role of
nReduce, chosen once per table family so joins between them align.

Bucket-count discipline: both sides must use the SAME count (Spark
joins aligned bucket sets without a shuffle; mismatched counts fall
back to shuffling the smaller-bucketed side). At 100 TB size the
count so each bucket file stays in the 128 MB–1 GB parquet sweet
spot — e.g. 30 TB of orders at 512 MB/bucket-file per partition
needs ~2048 buckets.

``BucketedState`` is the one owner of the state-table lifecycle the
maintained ingest indexes (functions/dedup_ingest.py,
functions/sim_ingest.py) share: bucketed appends, drop, tombstones,
compaction rewrites and the ``batch_seq`` result log — the
state-reuse pattern of incremental top-k search sessions, written
once.
"""

from __future__ import annotations

import atexit
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally per-bucket sorted)
    managed parquet table.

    ``sortBy(key)`` additionally orders rows inside each bucket file,
    which lets a downstream sort-merge join skip the per-task sort as
    well (the read is already key-ordered) and makes min/max row-group
    pruning on the key exact.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


class BucketedState:
    """The managed tables of one maintained index: bucketed state
    tables, a tombstone list keyed by ``id_col`` and a ``batch_seq``
    result log (``<name>_<log>``). Subclasses name their state tables
    with ``_table`` and keep their own probe / ingest logic."""

    def __init__(
        self, spark: SparkSession, name: str, id_col: str, log: str, n_buckets: int
    ):
        self.spark = spark
        self.name = name
        self.id_col = id_col
        self.n_buckets = n_buckets
        self._tables: list[str] = []
        self.tomb_t = self._table("tomb")
        self.log_t = self._table(log)
        self._seq = 0

    def _table(self, suffix: str) -> str:
        table = f"{self.name}_{suffix}"
        self._tables.append(table)
        self._remove_at_exit(table)
        return table

    def _dir(self, table: str) -> str:
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir")
        return urlparse(f"{warehouse}/{table}").path

    def _remove_at_exit(self, table: str) -> None:
        """Remove ``table``'s warehouse directory when the interpreter
        exits (the streams._fresh_replay_dir discipline): the
        registered ingest entries name their tables after the
        applicationId, so no later bootstrap would ever drop them."""
        atexit.register(shutil.rmtree, self._dir(table), ignore_errors=True)

    def _write(self, df: DataFrame, table: str, key: str, mode: str) -> None:
        write_bucketed(df, table, key, self.n_buckets, mode=mode)

    def _reset(self) -> None:
        """Drop every table of this index — including orphaned
        warehouse directories a crashed previous session's tables left
        behind, which a fresh catalog no longer tracks but saveAsTable
        still trips over — and start an empty tombstone list."""
        for table in self._tables:
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            shutil.rmtree(self._dir(table), ignore_errors=True)
        self._seq = 0
        self._clear_tombstones()

    # -- tombstones ---------------------------------------------------------
    def _clear_tombstones(self) -> None:
        self.spark.createDataFrame([], f"{self.id_col} long").write.format(
            "parquet"
        ).mode("overwrite").saveAsTable(self.tomb_t)

    def _tombstone(self, ids: DataFrame) -> DataFrame:
        """Append the not-yet-tombstoned ``ids`` to the tombstone list
        and return them. Idempotent: re-deleting a tombstoned id is a
        no-op. localCheckpoint pins the filtered id set BEFORE the
        append (whose sink is a table this plan reads), so callers can
        reuse the returned frame across later writes."""
        new = (
            ids.select(self.id_col)
            .join(self.spark.table(self.tomb_t), self.id_col, "left_anti")
            .localCheckpoint(eager=True)
        )
        new.write.format("parquet").mode("append").saveAsTable(self.tomb_t)
        return new

    def _live(self, table: str) -> DataFrame:
        """``table`` minus tombstoned rows: deleted rows stay physical
        until compaction, so every read drops them via a broadcast
        anti-join — the tombstone set is takedown-sized by contract
        and the state side keeps its bucket layout (no Exchange)."""
        tomb = F.broadcast(self.spark.table(self.tomb_t))
        return self.spark.table(table).join(tomb, self.id_col, "left_anti")

    # -- compaction -----------------------------------------------------------
    def _rewrite(self, df: DataFrame, table: str, key: str) -> None:
        """Replace ``table`` with ``df`` under the same ``bucketBy`` —
        exchange-free when ``df`` reads ``table`` in its own bucket
        layout — via write-temp / drop / rename (Spark cannot
        overwrite a table from a plan that reads it)."""
        tmp = f"{table}_compacting"
        self._remove_at_exit(tmp)
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        self._write(df, tmp, key, "overwrite")
        self.spark.sql(f"DROP TABLE {table}")
        self.spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")

    # -- result log -----------------------------------------------------------
    def _log(self, df: DataFrame) -> int:
        """Append ``df`` to the result log under the next ``batch_seq``
        (BIGINT) and return that seq."""
        seq = self._seq
        self._seq += 1
        df.withColumn("batch_seq", F.lit(seq).cast("long")).write.format(
            "parquet"
        ).mode("append").saveAsTable(self.log_t)
        return seq

    def _read_log(self, seq: int, *order: str) -> DataFrame:
        return (
            self.spark.table(self.log_t)
            .filter(F.col("batch_seq") == seq)
            .drop("batch_seq")
            .orderBy(*order)
        )
