"""Streaming surface tests (SURVEY §7.6).

Each stream runs with ``trigger(availableNow=True)`` over the bounded events
table, so results are deterministic and checkable against the equivalent
batch plan — the standard way to unit-test Structured Streaming logic.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ibc_spark.io_.sources import read_table
from ibc_spark.registry_extras import _run_stream_to_memory
from ibc_spark.streaming import dedup_events_stream, run_merge_stream
from ibc_spark.streaming.sources import read_events_stream

from .conftest import SF_SMOKE


@pytest.fixture()
def events_stream(spark):
    return read_events_stream(spark, SF_SMOKE)


def test_stream_schema_matches_batch(spark, events_stream):
    assert events_stream.isStreaming
    assert events_stream.schema == read_table(spark, SF_SMOKE, "events").schema


def test_dedup_stream(spark, events_stream):
    out = _run_stream_to_memory(
        spark, dedup_events_stream(events_stream), "append", "test_dedup_stream"
    )
    n_distinct = read_table(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    assert out.count() == n_distinct
    assert out.select("event_id").distinct().count() == n_distinct


def test_foreach_batch_merge_stream(spark, events_stream, tmp_path):
    target = str(tmp_path / "target")
    run_merge_stream(
        spark,
        events_stream.select("event_id", "user_id", "event_type", "ts", "value"),
        target,
        str(tmp_path / "ckpt_merge"),
    )
    out = spark.read.parquet(target)
    n_distinct = read_table(spark, SF_SMOKE, "events").select("event_id").distinct().count()
    assert out.count() == n_distinct
    # MERGE is idempotent: running the same stream again (fresh checkpoint →
    # full replay) must not change the target.
    run_merge_stream(
        spark,
        read_events_stream(spark, SF_SMOKE).select(
            "event_id", "user_id", "event_type", "ts", "value"
        ),
        target,
        str(tmp_path / "ckpt_merge2"),
    )
    assert spark.read.parquet(target).count() == n_distinct


def test_streaming_kmv_batch_split_insensitive(spark, tmp_path):
    """The KMV state merge (set union + re-take k) must make the final
    estimate independent of micro-batch boundaries: replaying the same
    events as 3 single-file batches must equal the one-batch run and the
    batch-computed global k-min exactly."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ibc_spark.registry import QUERIES
    from ibc_spark.registry_ext_sketch import _KMV_K
    from ibc_spark.streaming.stateful import kmv_state_update, kmv_stream_schemas
    from tests.conftest import SF_ORACLE

    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    read_table(spark, str(SF_ORACLE), "events").repartition(3).write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "events.parquet"))

    single = {
        r["event_type"]: (r["n_in_state"], r["approx_users"])
        for r in QUERIES["streaming_sketch_kmv"](spark, sf).collect()
    }
    # guard against the vacuous-pass failure mode (review r8): the stream
    # must actually see the directory-layout events table
    assert single, "stream read zero rows — source path/glob regression"

    state_schema, out_schema = kmv_stream_schemas()
    ev = read_events_stream(spark, sf, max_files_per_trigger=1)
    h = ev.where(F.col("user_id").isNotNull()).select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("uh"),
    ).where(F.col("uh").isNotNull())
    upd = h.groupBy("event_type").applyInPandasWithState(
        kmv_state_update(_KMV_K),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    tbl = _run_stream_to_memory(spark, upd, "update", "streaming_sketch_kmv_split")
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_in_state").desc(), F.col("approx_users").desc()
    )
    multi = {
        r["event_type"]: (r["n_in_state"], r["approx_users"])
        for r in tbl.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type", "n_in_state", F.round("approx_users", 4).alias("approx_users")
        )
        .collect()
    }
    assert multi and multi == single


def test_watermarked_dedup_absorbs_cross_batch_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark must absorb a re-delivery arriving in
    a LATER micro-batch while its key is still inside the watermark
    horizon: 10 docs in batch 1, the same 10 docs (+5 new) re-delivered
    5 min later in batch 2 under a 10-min watermark -> exactly 15
    emissions, never 25."""
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    src = str(tmp_path / "feed")
    os.makedirs(src, exist_ok=True)
    base = 1_700_000_000
    batch1 = [(i, f"text {i}", base + i) for i in range(10)]
    batch2 = [(i, f"text {i}", base + 300 + i) for i in range(10)] + [
        (i, f"text {i}", base + 300 + i) for i in range(10, 15)
    ]
    schema_in = "doc_id long, text string, ts_sec long"
    spark.createDataFrame(batch1, schema_in).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/f1")
    spark.createDataFrame(batch2, schema_in).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/f2")

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("ts_sec", LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
        .withColumn("ingest_ts", F.timestamp_seconds(F.col("ts_sec")))
        .select(F.sha2(F.col("text"), 256).alias("sha"), "ingest_ts")
        .withWatermark("ingest_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["sha"])
        .select("sha")
    )
    out = _run_stream_to_memory(
        spark, stream, "append", "test_watermarked_dedup"
    ).collect()
    assert len(out) == 15
    assert len({r["sha"] for r in out}) == 15
