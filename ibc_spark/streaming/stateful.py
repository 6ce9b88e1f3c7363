"""Custom stateful streaming operator via ``applyInPandasWithState``.

A streaming KMV distinct-count sketch: the stateful-streaming face of the
portable KMV family (``approx_sketch_stats`` / ``sketch_kmv_rollup_merge``),
run by the ``streaming_sketch_kmv`` entry. State is partitioned by key
across executors and each key holds O(k) longs, so state size is bounded
regardless of event volume.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def kmv_stream_schemas():
    from pyspark.sql.types import ArrayType, StringType

    state = StructType([StructField("hashes", ArrayType(LongType()))])
    output = StructType(
        [
            StructField("event_type", StringType()),
            StructField("n_in_state", LongType()),
            StructField("approx_users", DoubleType()),
        ]
    )
    return state, output


def kmv_state_update(k: int):
    """Per-key KMV updater for ``applyInPandasWithState``: state is the k
    smallest distinct 60-bit hashes seen so far — O(k) longs per key
    FOREVER, the whole point of the sketch (an exact streaming distinct
    would hold every id in state). Merging is a set union + re-take of
    the k smallest, so the final state after any batch split equals the
    batch-computed global k-min EXACTLY — which is what lets the batch
    oracle attest the streaming run. The estimate is emitted unrounded;
    the entry applies F.round so the rounding spelling is the engines'
    shared HALF_UP, not Python's banker's round."""

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cur = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            cur.update(int(h) for h in pdf["uh"].dropna())
        merged = sorted(cur)[:k]
        state.update((merged,))
        from ibc_spark.ext.foldspec import kmv_estimate_py

        n = len(merged)
        est = kmv_estimate_py(n, merged[-1] if merged else 0, k)
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_in_state": [n],
                "approx_users": [est],
            }
        )

    return _update
