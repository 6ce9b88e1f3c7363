"""Source-reader tests: explicit-schema permissive reads with corrupt-record
quarantine, binaryFile ingest, and JDBC reader configuration."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ibc_spark.io_.sources import (
    dataframe_from_rows,
    jdbc_reader,
    read_binary_files,
    read_csv,
    read_json_rows,
)

SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("score", T.LongType()),
    ]
)


def test_read_json_rows_quarantines_bad_records(spark, tmp_path):
    p = tmp_path / "rows.jsonl"
    p.write_text(
        '{"name": "alice", "score": 10}\n'
        'this is not json\n'
        '{"name": "bob", "score": "NaNish"}\n'
    )
    df = read_json_rows(spark, str(p), SCHEMA)
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert [(r["name"], r["score"]) for r in good] == [("alice", 10)]
    assert len(bad) == 2  # malformed line + type-mismatched score


def test_read_csv_quarantines_bad_records(spark, tmp_path):
    p = tmp_path / "rows.csv"
    p.write_text("name,score\nalice,10\nbob,notanumber\n")
    df = read_csv(spark, str(p), SCHEMA)
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert [(r["name"], r["score"]) for r in good] == [("alice", 10)]
    assert len(bad) == 1 and "notanumber" in bad[0]["_corrupt_record"]


def test_read_binary_files(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "b.txt").write_bytes(b"hello")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 1
    assert rows[0]["length"] == 3 and bytes(rows[0]["content"]) == b"\x00\x01\x02"


def test_jdbc_reader_requires_bounds(spark):
    import pytest

    with pytest.raises(ValueError):
        jdbc_reader(spark, "jdbc:postgresql://x/db", "users", partition_column="id")
    # configured reader builds without touching a database
    r = jdbc_reader(
        spark,
        "jdbc:postgresql://x/db",
        "users",
        partition_column="id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=4,
    )
    assert r is not None


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


def test_orc_roundtrip_pushdown(spark, tmp_path):
    from ibc_spark.io_.sinks import write_orc
    from ibc_spark.io_.sources import read_orc, read_table
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "orders_orc")
    orders = read_table(spark, SF_SMOKE, "orders")
    write_orc(orders, path, partition_by=["o_orderstatus"])
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    # partition pruning: only one status directory is scanned
    pruned = back.where(F.col("o_orderstatus") == "O")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "o_orderstatus" in plan


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


def test_xml_source_sink_round_trip(spark, tmp_path):
    """Native Spark-4 XML: write one element per row, read back with a
    pinned schema — types and NULLs preserved (empty-string column comes
    back NULL in XML, matching the sheet-era blank semantics the
    validators normalize anyway)."""
    from ibc_spark.io_.sinks import write_xml
    from ibc_spark.io_.sources import read_xml

    rows = [(1, "Alice", 7.5, True), (2, "it's <xml> & stuff", 0.0, False), (3, None, None, None)]
    df = spark.createDataFrame(rows, "id long, name string, score double, ok boolean")
    path = str(tmp_path / "x")
    write_xml(df, path, row_tag="person", root_tag="people")
    back = read_xml(
        spark, path, row_tag="person", schema="id long, name string, score double, ok boolean"
    )
    got = sorted(
        (r["id"], r["name"], r["score"], r["ok"]) for r in back.collect()
    )
    assert got == sorted(rows)


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
