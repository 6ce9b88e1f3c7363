"""Custom PySpark DataSource for the sheet-ingest boundary.

Makes the reference's HTTP sheet source (`staffing-roster-pipeline.py:75-87`
— GET → JSON array of row objects) a first-class Spark format::

    spark.dataSource.register(SheetDataSource)
    df = (spark.read.format("sheet")
          .option("url", "https://.../exec?sheet=Roster")
          .option("timeout", "10")
          .load())

This is the PySpark-4 Python Data Source API (SPARK-44076) face of the
same boundary :func:`ibc_spark.io_.sources.fetch_sheet_rows` +
``dataframe_from_rows`` expose functionally; both fetch through
``fetch_sheet_rows``, so the E005/E003 error taxonomy and the 10 s default
timeout hold in either spelling.

Design notes:

- **Schema**: if the caller supplies none, ``schema()`` performs ONE
  driver-side fetch and derives an all-STRING schema from the union of
  row keys in first-seen order — sheet parity (a sheet export is typed
  downstream by the normalize/validate operators, never at ingest).
- **Partitions**: a sheet is a driver-scale control-plane payload, so the
  reader presents a single partition; bulk data belongs in the scan
  sources (parquet/ORC/CSV/JSON-lines). This mirrors the reference,
  whose sheet fetch is one GET into memory.
- **Transport**: executors re-fetch through the stdlib transport;
  ``file://`` URLs work (tests use them — no sockets). The injectable
  in-process transport of ``fetch_sheet_rows`` cannot cross the pickle
  boundary, which is exactly why both spellings exist.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

_DEFAULT_TIMEOUT = 10.0


def _fetch_tuples(schema: T.StructType, url: str, timeout: float) -> list[tuple]:
    """Fetch the sheet and project each row object onto ``schema``, for
    the batch and the streaming reader alike: a missing key is NULL, a
    value of a STRING field is stringified like a sheet export, and a
    value of a typed field passes through for Spark to convert."""
    from ibc_spark.io_.sources import fetch_sheet_rows

    fields = [(f.name, isinstance(f.dataType, T.StringType)) for f in schema.fields]
    return [
        tuple(str(r[n]) if s and r.get(n) is not None else r.get(n) for n, s in fields)
        for r in fetch_sheet_rows(url, timeout=timeout)
    ]


class SheetDataSource(DataSource):
    """``spark.read.format("sheet")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "sheet"

    def _url(self) -> str:
        url = self.options.get("url") or self.options.get("path")
        if not url:
            from ibc_spark.errors import InvalidFormatError

            raise InvalidFormatError("sheet source requires .option('url', ...)")
        return url

    def _timeout(self) -> float:
        return float(self.options.get("timeout", _DEFAULT_TIMEOUT))

    def schema(self) -> T.StructType:
        from ibc_spark.io_.sources import fetch_sheet_rows, union_schema

        return union_schema(fetch_sheet_rows(self._url(), timeout=self._timeout()))

    def reader(self, schema: T.StructType) -> "SheetReader":
        return SheetReader(schema, self._url(), self._timeout())

    def simpleStreamReader(self, schema: T.StructType) -> "SheetStreamReader":
        """``spark.readStream.format("sheet")`` — incremental sheet
        polling. Each micro-batch re-fetches the sheet and emits only the
        rows PAST the committed offset (sheets are append-mostly; edits of
        already-consumed rows are the upsert sink's job downstream). The
        offset is the consumed row count — trivially monotone, checkpoint-
        replayable via ``readBetweenOffsets``."""
        return SheetStreamReader(schema, self._url(), self._timeout())


class SheetReader(DataSourceReader):
    def __init__(self, schema: T.StructType, url: str, timeout: float) -> None:
        self._schema = schema
        self._url = url
        self._timeout = timeout

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(0)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        return iter(_fetch_tuples(self._schema, self._url, self._timeout))


class SheetStreamReader(SimpleDataSourceStreamReader):
    """Offset = {"n": rows consumed}. ``read`` fetches the whole sheet
    (driver-scale payload, same contract as the batch face) and emits the
    tail past the start offset; ``readBetweenOffsets`` replays an exact
    [start, end) slice after a checkpoint recovery. A sheet that SHRANK
    below the committed offset emits nothing rather than guessing at a
    rewind (loud in the logs downstream when counts stall)."""

    def __init__(self, schema: T.StructType, url: str, timeout: float) -> None:
        self._schema = schema
        self._url = url
        self._timeout = timeout

    def initialOffset(self) -> dict:
        return {"n": 0}

    def read(self, start: dict) -> tuple:
        rows = _fetch_tuples(self._schema, self._url, self._timeout)
        lo = int(start.get("n", 0))
        return iter(rows[lo:]), {"n": max(len(rows), lo)}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        rows = _fetch_tuples(self._schema, self._url, self._timeout)
        return iter(rows[int(start.get("n", 0)) : int(end.get("n", 0))])
