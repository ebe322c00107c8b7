"""Smoke coverage for the un-registered reference twins.

These builders are not in the registry; other tests compare registered
queries against them, so each must keep running on its own.
"""

from __future__ import annotations

import pytest

from map_reduce_spark.functions.dedup import dedup_embedding_cosine
from map_reduce_spark.streaming.events_batch import events_tumbling_1h

# builder -> minimum expected row count at sf0.001
UNREGISTERED = [
    (events_tumbling_1h, 1),
    (dedup_embedding_cosine, 1),
]


@pytest.mark.parametrize(
    "builder,min_rows", UNREGISTERED, ids=[b.__name__ for b, _ in UNREGISTERED]
)
def test_unregistered_builder_runs(spark, sf_dir, builder, min_rows):
    df = builder(spark, sf_dir)
    assert df.count() >= min_rows
    assert len(df.columns) >= 2
