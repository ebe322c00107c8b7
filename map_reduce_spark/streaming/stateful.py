"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference engine's reduce phase sees the complete value list for a
key exactly once (worker.go:121-137). The streaming generalization — a
reducer whose per-key state survives across micro-batches — is not
expressible with built-in windowed aggs when the update logic is
arbitrary Python, so this is the one place the engine drops to the
Arrow-batched stateful UDF surface.

Scale notes: state lives in the state store partitioned by the group
key (one shuffle per micro-batch, same hash partitioning as a batch
groupBy); per-key state here is O(1) (two scalars), so total state is
O(distinct users) regardless of stream length — the bounded-state
requirement for a 100 TB stream. Arrow moves rows to Python in
columnar batches, never row-at-a-time, and only the two columns the
reducer reads (the key and ``value``) cross the shuffle and the
JVM-to-Python boundary: Catalyst cannot see which columns a Python
function reads, so the projection is made before the UDF.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
RUNNING_STATE_SCHEMA = "n bigint, total double"


def _running_totals_fn(
    key: tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one user into running state and
    emit the updated running totals (update-mode semantics)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum-of-value) maintained across
    micro-batches — the custom stateful reducer.

    After draining a replayed stream, the latest emission per user
    must equal the batch ``groupBy(user_id).agg(count, sum)`` — the
    parity property the tests assert.

    Only ``user_id`` and ``value`` reach Python. The UDF is opaque to
    Catalyst's column pruning: without the ``select`` every column of
    ``events`` is shuffled, converted to Arrow and pandas per group,
    and dropped unread by ``_running_totals_fn``.
    """
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_OUTPUT_SCHEMA,
            stateStructType=RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
