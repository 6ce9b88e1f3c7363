"""Streaming surface tests (SURVEY §7.6).

Each stream runs with ``trigger(availableNow=True)`` over the bounded events
table, so results are deterministic and checkable against the equivalent
batch plan — the standard way to unit-test Structured Streaming logic.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from ibc_spark.streaming import (
    dedup_events_stream,
    hourly_rollup_stream,
    run_merge_stream,
    running_user_totals,
    session_window_stream,
    sliding_window_stream,
)
from ibc_spark.streaming.sources import batch_events, read_events_stream

from .conftest import SF_SMOKE


def _run_to_memory(spark, df, name: str, output_mode: str, tmpdir) -> None:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", f"{tmpdir}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@pytest.fixture()
def events_stream(spark):
    return read_events_stream(spark, SF_SMOKE)


def test_stream_schema_matches_batch(spark, events_stream):
    assert events_stream.isStreaming
    assert events_stream.schema == batch_events(spark, SF_SMOKE).schema


def test_hourly_rollup_stream_matches_batch(spark, events_stream, tmp_path):
    name = f"roll_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        spark, hourly_rollup_stream(events_stream), name, "append", tmp_path
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table(name).collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch_events(spark, SF_SMOKE)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(10,2)")).cast("double").alias("total_value"),
        )
        .collect()
    }
    # The watermark may hold back the final (open) hour in append mode; all
    # emitted windows must match the batch plan exactly.
    assert len(got) >= len(expected) - len(
        {k[1] for k in expected}
    ), "stream emitted too few windows"
    for k, v in got.items():
        assert expected[k] == v


def test_sliding_window_emits_multiple_windows_per_row(spark, events_stream, tmp_path):
    name = f"slide_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        spark,
        sliding_window_stream(events_stream, length="1 hour", slide="30 minutes"),
        name,
        "append",
        tmp_path,
    )
    out = spark.table(name)
    n_events_batch = batch_events(spark, SF_SMOKE).count()
    # each event belongs to 2 sliding windows; emitted (closed) windows only
    assert out.agg(F.sum("n_events")).first()[0] > n_events_batch


def test_session_window_stream(spark, events_stream, tmp_path):
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        spark, session_window_stream(events_stream, gap="30 minutes"), name, "append", tmp_path
    )
    out = spark.table(name)
    assert out.count() > 0
    bad = out.where(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0
    # sessions per user don't overlap
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("session_start")
    overlaps = (
        out.withColumn("prev_end", F.lag("session_end").over(w))
        .where(F.col("prev_end") > F.col("session_start"))
        .count()
    )
    assert overlaps == 0


def test_dedup_stream(spark, events_stream, tmp_path):
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(spark, dedup_events_stream(events_stream), name, "append", tmp_path)
    out = spark.table(name)
    n_distinct = batch_events(spark, SF_SMOKE).select("event_id").distinct().count()
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
    n_distinct = batch_events(spark, SF_SMOKE).select("event_id").distinct().count()
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


def test_running_user_totals_stateful(spark, events_stream, tmp_path):
    name = f"state_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        spark,
        running_user_totals(events_stream.select("user_id", "value")),
        name,
        "update",
        tmp_path,
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in spark.table(name).collect()}
    expected = {
        r["user_id"]: (r["n"], r["t"])
        for r in batch_events(spark, SF_SMOKE)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("t"),
        )
        .collect()
    }
    assert set(got) == set(expected)
    for uid, (n, total) in expected.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(total, abs=0.05)


def test_stream_stream_interval_join(spark, events_stream, tmp_path):
    from ibc_spark.streaming.joins import clicks_to_purchases_stream

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        spark,
        clicks_to_purchases_stream(events_stream, within="1 hour"),
        name,
        "append",
        tmp_path,
    )
    got = spark.table(name)
    # batch reference: identical interval join on the bounded frame
    ev = batch_events(spark, SF_SMOKE)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    expected = (
        clicks.join(
            purchases,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") > F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 hour")),
        )
        .select("click_id", "purchase_id")
        .collect()
    )
    expected_pairs = {(r["click_id"], r["purchase_id"]) for r in expected}
    got_pairs = {(r["click_id"], r["purchase_id"]) for r in got.collect()}
    # watermark may hold back pairs near the stream tail in append mode;
    # everything emitted must be correct and coverage must be substantial
    assert got_pairs <= expected_pairs
    assert len(got_pairs) >= 0.8 * len(expected_pairs)


def test_content_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming content dedup keeps exactly one row per distinct SHA-256
    digest — the same group count the batch content-address pass
    (dedup_exact_content_sha) produces."""
    from ibc_spark.io_.sources import read_table
    from ibc_spark.streaming.dedup import dedup_content_stream
    from ibc_spark.streaming.sources import read_documents_stream

    stream = read_documents_stream(spark, SF_SMOKE)
    assert stream.isStreaming
    name = f"sha_dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(spark, dedup_content_stream(stream), name, "append", tmp_path)
    out = spark.table(name)
    batch = read_table(spark, SF_SMOKE, "documents").select(
        F.sha2(F.col("text"), 256).alias("sha")
    )
    n_distinct = batch.distinct().count()
    assert out.count() == n_distinct
    assert out.select("content_sha").distinct().count() == n_distinct


def test_running_user_peaks_transform_with_state(spark, events_stream, tmp_path):
    """transformWithStateInPandas twin: running per-user count + peak must
    equal the batch aggregate after the availableNow drain. The API needs
    the python protobuf runtime (state-server protocol) and RocksDB state
    store — skipped where protobuf is unavailable (this sandbox)."""
    pytest.importorskip("google.protobuf.descriptor")
    from ibc_spark.streaming.stateful import running_user_peaks

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    name = f"tws_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        spark,
        running_user_peaks(events_stream.select("user_id", "value")),
        name,
        "update",
        tmp_path,
    )
    got = {
        r["user_id"]: (r["n_events"], r["max_value"])
        for r in spark.table(name).collect()
    }
    expected = {
        r["user_id"]: (r["n"], r["m"])
        for r in batch_events(spark, SF_SMOKE)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("m"))
        .collect()
    }
    assert set(got) == set(expected)
    for uid, (n, m) in expected.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(m, abs=1e-9)


def test_streaming_kmv_batch_split_insensitive(spark, tmp_path):
    """The KMV state merge (set union + re-take k) must make the final
    estimate independent of micro-batch boundaries: replaying the same
    events as 3 single-file batches must equal the one-batch run and the
    batch-computed global k-min exactly."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ibc_spark.io_.sources import read_table
    from ibc_spark.registry import QUERIES
    from ibc_spark.registry_ext_sketch import _KMV_K
    from ibc_spark.registry_extras import _run_stream_to_memory
    from ibc_spark.streaming.sources import read_events_stream
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
    name = f"wm_dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(spark, stream, name, "append", tmp_path)
    out = spark.table(name).collect()
    assert len(out) == 15
    assert len({r["sha"] for r in out}) == 15
