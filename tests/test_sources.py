"""Source tests: schema-tolerant sheet-row ingest, the custom ``sheet``
DataSource (batch and streaming), and the events read on a fresh session."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from ibc_spark.io_.sources import dataframe_from_rows


def test_dataframe_from_rows_union_schema(spark):
    df = dataframe_from_rows(
        spark, [{"a": 1, "b": "x"}, {"b": "y", "c": 3.5}]
    )
    assert set(df.columns) == {"a", "b", "c"}
    got = {r["b"]: (r["a"], r["c"]) for r in df.collect()}
    assert got == {"x": ("1", None), "y": (None, "3.5")}


def test_dataframe_from_rows_typed_schema_and_empty_sheet(spark):
    import pyarrow as pa

    schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("s", T.StringType())]
    )
    df = dataframe_from_rows(spark, [{"n": 7, "s": 1}, {"s": None}], schema)
    assert [tuple(r) for r in df.collect()] == [(7, "1"), (None, None)]
    # typed fields are not coerced: a wrong value fails at ingest
    with pytest.raises(pa.ArrowInvalid):
        dataframe_from_rows(spark, [{"n": "seven"}], schema)
    # an empty sheet is an empty frame (the pipelines' no-op batch)
    assert dataframe_from_rows(spark, []).isEmpty()
    assert dataframe_from_rows(spark, [], schema).columns == ["n", "s"]


# ---------------------------------------------------------------------------
# Custom Python DataSource (PySpark 4 SPARK-44076): spark.read.format("sheet")
# ---------------------------------------------------------------------------


def _sheet_file(tmp_path, payload: str) -> str:
    p = tmp_path / "sheet.json"
    p.write_text(payload)
    return p.as_uri()  # file:// — the stdlib transport reads it, no sockets


def test_sheet_datasource_reads_and_infers_schema(spark, tmp_path):
    import json

    from ibc_spark.io_.sheet_datasource import SheetDataSource

    rows = [
        {"netid": "ab123", "name": "Alice", "hours": 4},
        {"netid": "cd456", "name": "Bob", "email": "b@x.edu"},
    ]
    url = _sheet_file(tmp_path, json.dumps(rows))
    spark.dataSource.register(SheetDataSource)
    df = spark.read.format("sheet").option("url", url).load()
    # union of keys in first-seen order, all STRING (sheet parity)
    assert [f.name for f in df.schema.fields] == ["netid", "name", "hours", "email"]
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)
    got = {r["netid"]: r for r in df.collect()}
    assert got["ab123"]["hours"] == "4"  # stringified like a sheet export
    assert got["ab123"]["email"] is None  # missing key -> NULL
    assert got["cd456"]["email"] == "b@x.edu"


def test_sheet_datasource_explicit_schema_and_projection(spark, tmp_path):
    import json

    from ibc_spark.io_.sheet_datasource import SheetDataSource

    rows = [{"netid": "ab123", "name": "Alice"}]
    url = _sheet_file(tmp_path, json.dumps(rows))
    spark.dataSource.register(SheetDataSource)
    df = (
        spark.read.format("sheet")
        .schema("netid string, name string")
        .option("url", url)
        .load()
        .select("netid")
    )
    assert df.collect() == [Row(netid="ab123")]


def test_sheet_datasource_bad_payload_is_e003(spark, tmp_path):
    """The E003 taxonomy crosses the DataSource boundary: Spark wraps the
    driver-side schema() failure in AnalysisException, but the [E003]
    marker and message survive for job-boundary handlers to match on."""
    from ibc_spark.io_.sheet_datasource import SheetDataSource

    url = _sheet_file(tmp_path, '{"not": "an array"}')
    spark.dataSource.register(SheetDataSource)
    with pytest.raises(Exception, match=r"E003.*JSON array of row objects"):
        spark.read.format("sheet").option("url", url).load()  # schema() fetch


def test_sheet_streaming_source_incremental(spark, tmp_path):
    """spark.readStream.format("sheet"): the streaming face of the sheet
    boundary polls the same URL and emits ONLY rows past the committed
    offset — run 1 lands the initial 5 rows, appending 3 to the sheet and
    re-running on the same checkpoint lands exactly the 3 new ones (no
    re-reads, no duplicates)."""
    import json

    from ibc_spark.io_.sheet_datasource import SheetDataSource

    spark.dataSource.register(SheetDataSource)
    sheet = tmp_path / "sheet.json"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows1 = [{"Name": f"u{i}", "Email": f"u{i}@x.edu"} for i in range(5)]
    sheet.write_text(json.dumps(rows1))
    url = f"file://{sheet}"

    def run_once():
        q = (
            spark.readStream.format("sheet")
            .schema("Name string, Email string")
            .option("url", url)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 5

    rows2 = [{"Name": f"n{i}", "Email": f"n{i}@x.edu"} for i in range(3)]
    sheet.write_text(json.dumps(rows1 + rows2))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 8
    assert got.select("Email").distinct().count() == 8  # no double-reads


def test_sheet_streaming_source_typed_schema(spark, tmp_path):
    """A typed schema streams like it reads in batch: STRING fields are
    stringified, typed fields pass through (a stringified ``long`` used to
    fail the query with an Arrow conversion error)."""
    import json

    from ibc_spark.io_.sheet_datasource import SheetDataSource

    spark.dataSource.register(SheetDataSource)
    url = _sheet_file(tmp_path, json.dumps([{"n": 1, "name": "a"}, {"n": 2}]))
    want = [Row(n=1, name="a"), Row(n=2, name=None)]
    batch = spark.read.format("sheet").schema("n long, name string").option("url", url)
    assert sorted(batch.load().collect()) == want

    q = (
        spark.readStream.format("sheet")
        .schema("n long, name string")
        .option("url", url)
        .load()
        .writeStream.format("memory")
        .queryName("sheet_typed_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        assert sorted(spark.table("sheet_typed_stream").collect()) == want
    finally:
        spark.catalog.dropTempView("sheet_typed_stream")


def test_events_read_on_unconfigured_session(spark):
    """The driver runs a PLAIN SparkSession (none of ibc_spark.session's
    confs pre-set); events.parquet carries TIMESTAMP(NANOS), which Spark
    only reads with the nanosAsLong legacy conf read_table sets lazily.
    A fresh newSession() has its own SQLConf — the closest in-process
    stand-in for the driver's fresh-session regression trap."""
    from ibc_spark.io_.sources import read_table

    from .conftest import SF_SMOKE

    ns = spark.newSession()
    ev = read_table(ns, SF_SMOKE, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0
