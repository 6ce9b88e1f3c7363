"""Structured Streaming surface (SURVEY §7.6 — additive; no reference parity).

The reference has zero streaming code (SURVEY §2.7). This package re-expresses
the engine's operator library under Structured Streaming over the ``events``
and ``documents`` testdata tables: ``readStream`` sources with the batch
schema, watermarked streaming dedup, ``foreachBatch`` MERGE and DB upsert
sinks, and an ``applyInPandasWithState`` KMV sketch. The windowed, joined
and stateful ``streaming_*`` registry entries build their plans inline over
these sources.

Scale posture: file-source streams discover new files incrementally (no
re-listing cost per batch at 100 TB when ``maxFilesPerTrigger`` bounds batch
size); every aggregation is keyed so state is partitioned across executors;
watermarks bound state size — nothing here accumulates unbounded driver state.
"""

from ibc_spark.streaming.sources import read_events_stream
from ibc_spark.streaming.dedup import dedup_events_stream
from ibc_spark.streaming.merge_sink import foreach_batch_merge, run_merge_stream

__all__ = [
    "read_events_stream",
    "dedup_events_stream",
    "foreach_batch_merge",
    "run_merge_stream",
]
