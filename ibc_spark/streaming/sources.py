"""Streaming sources over the events testdata.

The batch face is ``ibc_spark.io_.sources.read_table(spark, sf, "events")``;
this module exposes the identical frame as an unbounded stream via the file
source. A file-source stream needs an explicit schema (no inference mid-
stream), so the batch reader's schema is reused — guaranteeing the streaming
and batch plans see the same columns/types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _stream_table(reader, sf_dir: str, table: str) -> DataFrame:
    """Open ``{sf_dir}/{table}.parquet`` as a file-source stream whether it
    is a single FILE (the driver testdata layout) or a DIRECTORY of part
    files (what `df.write.parquet` produces — the layout real pipelines
    ship). The old unconditional `pathGlobFilter=<table>.parquet` over
    sf_dir matched leaf file names only, so a directory-layout table
    streamed ZERO files and a split-batch test passed vacuously (review
    r8); the single-file layout conversely rejects a direct path
    ("Option 'basePath' must be a directory"), so each layout needs its
    own spelling. The directory arm lets ``maxFilesPerTrigger`` genuinely
    split part files into micro-batches."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(p):
        return reader.parquet(p)
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over the events parquet with the batch schema.

    ``events.ts`` arrives as parquet TIMESTAMP(NANOS) which Spark reads as
    ``bigint`` under ``nanosAsLong`` (see ``io_.sources.read_table``); the
    same micros truncation is applied here so event-time semantics match the
    batch face exactly.

    At scale: ``max_files_per_trigger`` bounds per-microbatch input so a
    backlog replay doesn't produce one giant batch.
    """
    # Batch read once to pin the on-disk schema (also sets nanosAsLong).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    disk_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    reader = spark.readStream.schema(disk_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = _stream_table(reader, sf_dir, "events")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks reject NTZ event time; session TZ is UTC so the cast
        # preserves the instant and matches the batch face (read_table)
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents parquet with the batch schema,
    plus a deterministic ``ingest_ts`` event-time column (derived from the
    doc id) so watermark-bounded operators have an arrival clock — the
    column a real ingest feed carries natively."""
    disk_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    df = _stream_table(spark.readStream.schema(disk_schema), sf_dir, "documents")
    # base offset keeps the synthetic clock clear of epoch 0: Spark's
    # initial watermark is 0 ms, and an event time equal to it is filtered
    # as late data (doc 0 would silently vanish)
    return df.withColumn(
        "ingest_ts", F.timestamp_seconds(F.col("doc_id") + F.lit(86_400))
    )
