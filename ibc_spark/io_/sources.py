"""Sources: Parquet testdata tables + schema-tolerant JSON-rows ingest.

The reference ingests a JSON array of row-objects over HTTP
(``staffing-roster-pipeline.py:75-87``, ``projects-pipeline.py:39-50``) with
dynamic, human-readable headers. The engine's equivalent is
:func:`dataframe_from_rows`: an Arrow-backed, explicit-schema
createDataFrame over already fetched rows (any transport), permissive about
missing keys — schema-on-read without the single-threaded HTTP coupling.
Parquet is the native analytics format (``spark.read.parquet``);
filters/column pruning push into the scan.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Tables generated by the driver at /root/testdata/sf* (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Columnar scan; Catalyst prunes columns and
    pushes predicates into the Parquet reader (verify via
    ``df.explain('formatted')`` → ``PushedFilters``/``ReadSchema``).

    ``events.ts`` varies by testdata generation: parquet TIMESTAMP(NANOS)
    (read as nanos-since-epoch via the ``nanosAsLong`` legacy conf and
    truncated to a microsecond timestamp — the same micros DuckDB's
    TIMESTAMP_NS → datetime conversion yields) or TIMESTAMP_NTZ (cast to
    TIMESTAMP; session timezone is pinned to UTC so the instant is
    unchanged). Either way every consumer — including streaming
    watermarks, which reject NTZ event time — sees one ``ts`` type.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES) -> None:
    """Register testdata tables as temp views for the SQL API."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def union_schema(rows: Iterable[Mapping[str, object]]) -> T.StructType:
    """Union-of-keys string schema for sheet-like rows (all values arrive as
    strings). Replaces the reference's first-row schema authority
    (``staffing-roster-pipeline.py:90``), which silently breaks on ragged
    input — the union schema is sound for any row subset."""
    keys: dict[str, None] = {}
    for row in rows:
        for k in row:
            keys.setdefault(k)
    return T.StructType([T.StructField(k, T.StringType(), True) for k in keys])


def dataframe_from_rows(
    spark: SparkSession,
    rows: list[dict[str, object]],
    schema: T.StructType | None = None,
) -> DataFrame:
    """Schema-tolerant ingest of sheet-like row dicts (engine analogue of the
    reference HTTP source S1/S2). Missing keys become NULL; unknown keys are
    preserved (union schema). Values are stringified like a sheet export.

    The rows are converted in this process into one ``pyarrow.Table`` in the
    schema's Arrow layout, so the plan starts from an in-memory
    ``LocalTableScan`` rather than a pickled Python RDD (``Scan
    ExistingRDD``), which every action would re-deserialize in Python
    workers. Typed fields of an explicit schema pass through unconverted; a
    value of the wrong type raises pyarrow's ``ArrowInvalid`` (or
    ``ArrowTypeError``) here, at ingest, rather than a ``PySparkTypeError``.

    At scale the same contract is served by ``spark.read.schema(s).json(path)``
    with ``mode=PERMISSIVE`` + ``columnNameOfCorruptRecord`` — this helper is
    the in-memory path used by tests and small batch ingests.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = schema or union_schema(rows)
    arrow_schema = to_arrow_schema(schema)

    def column(field: T.StructField) -> list[object]:
        values = [row.get(field.name) for row in rows]
        # sheet parity: STRING fields stringify like a sheet export
        if isinstance(field.dataType, T.StringType):
            return [None if v is None else str(v) for v in values]
        return values

    table = pa.Table.from_arrays(
        [pa.array(column(f), type=t) for f, t in zip(schema, arrow_schema.types)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _default_transport(url: str, timeout: float) -> bytes:
    """stdlib HTTP GET. Kept tiny and swappable: tests inject a fake
    transport, and a deployment can inject one with auth/retry."""
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
        # file:// responses carry status=None — only HTTP sets a code
        status = getattr(resp, "status", None) or 200
        if status >= 400:
            raise OSError(f"HTTP {status}")
        return resp.read()


def fetch_sheet_rows(
    url: str,
    *,
    params: Mapping[str, str] | None = None,
    timeout: float = 10.0,
    transport=None,
) -> list[dict]:
    """Fetch a JSON array of row-objects over HTTP — the reference's sheet
    source boundary (``staffing-roster-pipeline.py:75-87``,
    ``projects-pipeline.py:39-50``): GET with a 10 s default timeout,
    transport failures → ``SheetReadError`` (E005), malformed payloads →
    ``InvalidFormatError`` (E003).

    ``transport`` is ``Callable[[url, timeout], bytes]`` (default: stdlib
    urllib) so tests and restricted environments never open sockets. This is
    a driver-side control-plane fetch for small sheet batches; bulk data
    enters through the parquet/JSON-lines/CSV scan sources.
    """
    import json
    import urllib.parse

    from ibc_spark.errors import InvalidFormatError, SheetReadError

    transport = transport or _default_transport
    full_url = url
    if params:
        sep = "&" if "?" in url else "?"
        full_url = f"{url}{sep}{urllib.parse.urlencode(dict(params))}"
    try:
        payload = transport(full_url, timeout)
    except Exception as e:  # timeout, DNS, HTTP status, connection reset …
        raise SheetReadError(f"HTTP request failed: {e}") from e
    try:
        data = json.loads(payload)
    except (ValueError, UnicodeDecodeError) as e:
        raise InvalidFormatError("Sheet returned invalid JSON format") from e
    if not isinstance(data, list) or not all(isinstance(r, dict) for r in data):
        raise InvalidFormatError("Sheet payload is not a JSON array of row objects")
    return data


def pgwire_parallel_read(
    spark: SparkSession,
    *,
    table: str,
    schema: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int = 4,
    port: int = 5432,
    host: str = "127.0.0.1",
    user: str = "postgres",
    database: str = "postgres",
    where: str | None = None,
) -> DataFrame:
    """Range-partitioned PARALLEL read from Postgres over the pure-Python
    wire client — the same plan shape as Spark's partitioned JDBC scan
    (SURVEY S3: dim snapshot source), runnable in environments with no
    JDBC driver jar: the [lower, upper] range of ``partition_column``
    splits into ``num_partitions`` slices, one slice row per task, and
    each EXECUTOR task opens its own connection and fetches
    ``WHERE pc >= lo AND pc < hi`` (upper bound inclusive on the last
    slice, exactly like JDBC's partitioner).

    ``schema`` is the output DDL (e.g. ``"id long, name string, val
    double"``); wire results arrive as text and are cast per column
    (long/int, double/float, boolean, date, timestamp, string,
    decimal(p,s)). Like the JDBC source, the database is the parallelism
    bottleneck — size ``num_partitions`` to its connection headroom."""
    import pandas as pd

    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    cols = [f.name for f in struct.fields]
    simple = {f.name: f.dataType.simpleString() for f in struct.fields}

    span = upper_bound - lower_bound + 1
    step = max(1, span // num_partitions)
    bounds = []
    for i in range(num_partitions):
        lo = lower_bound + i * step
        hi = lower_bound + (i + 1) * step
        if i == num_partitions - 1:
            hi = upper_bound + 1
        if lo <= upper_bound:
            bounds.append((lo, hi))
    slices = spark.createDataFrame(bounds, "lo long, hi long").repartition(
        len(bounds), "lo"
    )
    col_sql = ", ".join(f'"{c}"' for c in cols)
    base_pred = f'"{partition_column}" >= {{lo}} AND "{partition_column}" < {{hi}}'
    extra = f" AND ({where})" if where else ""

    def _cast(series: pd.Series, t: str) -> pd.Series:
        if t in ("bigint", "int", "smallint", "tinyint"):
            width = {"bigint": "Int64", "int": "Int32", "smallint": "Int16", "tinyint": "Int8"}
            return pd.to_numeric(series, errors="raise").astype(width[t])
        if t in ("double", "float") or t.startswith("decimal"):
            return pd.to_numeric(series, errors="raise")
        if t == "boolean":
            return series.map({"t": True, "f": False, None: None})
        if t in ("date", "timestamp"):
            return pd.to_datetime(series, errors="raise")
        return series

    def _fetch(pdf_iter):
        from ibc_spark.io_.pgwire import connect

        for pdf in pdf_iter:
            frames = []
            for row in pdf.itertuples(index=False):
                conn = connect(host=host, port=port, user=user, database=database)
                try:
                    cur = conn.cursor()
                    cur.execute(
                        f'SELECT {col_sql} FROM "{table}" WHERE '
                        + base_pred.format(lo=int(row.lo), hi=int(row.hi))
                        + extra
                    )
                    data = cur.fetchall()
                finally:
                    conn.close()
                out = pd.DataFrame(data, columns=cols) if data else pd.DataFrame(
                    {c: pd.Series(dtype="object") for c in cols}
                )
                for c in cols:
                    out[c] = _cast(out[c], simple[c])
                frames.append(out)
            yield pd.concat(frames) if frames else pd.DataFrame(columns=cols)

    return slices.mapInPandas(_fetch, schema)
