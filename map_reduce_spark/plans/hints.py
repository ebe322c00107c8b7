"""Size-gated join-strategy hints from source-table footer stats.

THE PROBLEM (r11, extended r12): corpus-proportional frames must
never be broadcast — but the planner cannot always see that. A
session-cached frame reports its COMPRESSED columnar ``sizeInBytes``
(r11: a 32 M-row shingle table compressed under the 64 MB broadcast
threshold once warm), and AQE prices post-shuffle stats the same
compressed way — so at exactly the scale where a broadcast hash
relation stops fitting the heap, the stats say it still fits. r11's
fix was unconditional ``hint("merge")`` at every such join. That is
always SAFE but prices small corpora wrong: at sf0.01–0.1 a genuine
broadcast of a 10 k-row per-doc frame beats a sort-merge (r11 verdict
item 4 asked for exactly this gate).

THE GATE: decide from the SOURCE TABLE's parquet footer row count —
driver-side metadata (``parquet_num_rows``: one footer read per
file, no Spark job, the same machinery the GEMM block sizing uses)
times an honest per-row IN-MEMORY cost of the frame the join would
broadcast. Footer stats are immune to the two failure modes above:
they don't change when a cache materializes, and they measure the
corpus, not a compressed encoding of it. The estimate deliberately
prices the BROADCAST HASH RELATION (UnsafeRow + BytesToBytesMap
overhead, ~4x the raw column bytes), because that allocation — not
the shuffle — is what kills a loaded heap: the r12 prefix sweep
measured a 6 M-row (doc_id, n) frame whose ~50 MB compressed stats
sat under the threshold OOM-ing a 16 GB heap mid-sweep from the
~400 MB relation build plus accumulated session state, on the
UNCHANGED r11 tree (deterministically, twice).

At 100 TB every gated site is far past any threshold, so the gate
always says merge — identical to r11's unconditional hints. The gate
only changes small-corpus plans, where it restores AQE's freedom.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

from map_reduce_spark.sources.tables import (
    parquet_num_rows,
    parquet_uncompressed_bytes,
)

# In-memory bytes per (long, long) row of a broadcast hash relation:
# 16 B of column data -> UnsafeRow framing + LongToUnsafeRowMap /
# BytesToBytesMap page overhead lands near 4x raw. Sites with wider
# rows scale this by their own width ratio.
HASH_RELATION_BYTES_PER_LONG_PAIR = 64
# Per-LONG-COLUMN variant of the same 4x arithmetic (8 B data -> ~32 B
# relation): band-explode frames carry 3-4 long columns, and pricing
# them at the 2-column constant under-estimated by 1.5-2x — enough to
# leave a 968k-row band frame "open" at sf10 where its real relation
# crosses the threshold.
BYTES_PER_LONG_COL = 32


def broadcast_threshold_bytes(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (-1 -> 0:
    broadcasts disabled means every frame counts as over-threshold,
    so gated sites always pin merge — the conservative direction)."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    val = int(raw) * mult
    return 0 if val < 0 else val


@functools.lru_cache(maxsize=256)
def _table_rows(sf_dir: str, table: str) -> int:
    return parquet_num_rows(f"{sf_dir}/{table}.parquet")


def merge_when_big(
    df: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    table: str,
    bytes_per_row: int = HASH_RELATION_BYTES_PER_LONG_PAIR,
    rows_per_table_row: float = 1.0,
) -> DataFrame:
    """Pin sort-merge on joins involving ``df`` iff its honest
    in-memory size estimate exceeds the broadcast threshold.

    ``df`` must be corpus-proportional in ``{sf_dir}/{table}``:
    estimated rows = footer rows x ``rows_per_table_row``, estimated
    relation bytes = rows x ``bytes_per_row``. Over threshold -> the
    frame can never be a sane broadcast whatever the compressed stats
    claim, so the join is pinned merge; under -> returned unhinted,
    leaving AQE free to broadcast (the small-corpus win the
    unconditional r11 hints gave up)."""
    est = _table_rows(sf_dir, table) * rows_per_table_row * bytes_per_row
    return _apply(df, spark, est)


@functools.lru_cache(maxsize=256)
def _table_bytes(sf_dir: str, table: str, columns: tuple[str, ...] | None) -> int:
    return parquet_uncompressed_bytes(
        f"{sf_dir}/{table}.parquet", list(columns) if columns else None
    )


def merge_when_big_bytes(
    df: DataFrame,
    spark: SparkSession,
    sf_dir: str,
    table: str,
    columns: tuple[str, ...] | None = None,
    factor: float = 1.0,
) -> DataFrame:
    """Byte-estimate variant for frames whose row count is NOT a
    fixed multiple of the source table's (exploded shingle/posting
    frames): gate on the source columns' UNCOMPRESSED footer bytes x
    ``factor``. A shingle inverted index materializes every trigram
    window of the text, so raw text bytes are a LOWER bound on the
    frame's in-memory size — if even the lower bound exceeds the
    broadcast threshold, no stats reading can justify a broadcast."""
    est = _table_bytes(sf_dir, table, columns) * factor
    return _apply(df, spark, est)


def _apply(df: DataFrame, spark: SparkSession, est: float) -> DataFrame:
    if est > broadcast_threshold_bytes(spark):
        return df.hint("merge")
    return df
