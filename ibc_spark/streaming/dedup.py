"""Streaming deduplication on event id.

Batch dedup is ``dropDuplicates(key)``; in a stream the same call keeps a
state store of seen keys. ``dropDuplicatesWithinWatermark`` bounds that state
to the watermark horizon — the only scalable form for an unbounded id space
(exactly-once ingest of an at-least-once transport, the streaming analogue of
the reference's unique-key conflict handling,
``staffing-roster-pipeline.py:146-151``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_events_stream(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Keep the first occurrence of each event_id within the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
