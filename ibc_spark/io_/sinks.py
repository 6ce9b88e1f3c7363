"""Sinks K1–K9: upsert/merge semantics, appends, overwrites, quarantine.

The reference writes row-at-a-time INSERT/UPDATE with RETURNING keys and a
pg unique-violation handler (``staffing-roster-pipeline.py:128-224``,
``projects-pipeline.py:271-335``). The engine expresses every upsert as a
set-based MERGE. Two layers:

- :func:`merge_upsert` — the *dataset semantics* of MERGE (new-over-old by
  key) as a pure DataFrame expression. Oracle-able as SQL; also the
  ``foreachBatch`` body for streaming sinks. On a lakehouse deployment the
  same dataset op becomes ``MERGE INTO`` (Delta/Iceberg).
- :func:`dbapi_upsert` — the same semantics landed in a DB-API database as
  an executor-parallel keyed ``INSERT … ON CONFLICT`` batch upsert.
  Constraint violations are quarantine rows (E001), never exceptions
  (``23505 → DataConflictError`` at ``staffing-roster-pipeline.py:146-151``).

Plain materialization needs no helper here: Spark's own
``df.write.partitionBy(...).parquet``/``.orc``/``.format("xml")`` writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ibc_spark.ops.validate import E_DATA_CONFLICT


def merge_upsert(
    old: DataFrame,
    new: DataFrame,
    *,
    key: str | list[str],
    update_cols: list[str] | None = None,
) -> DataFrame:
    """K1/K3/K4/K5 — MERGE result state: matched old rows take ``new``'s
    values for ``update_cols`` (all non-key columns by default); unmatched
    new rows are inserted; unmatched old rows pass through.

    One shuffle on the key (or zero if ``new`` is broadcast-small — Catalyst
    decides). The reference's exclude-the-match-key rule
    (``staffing-roster-pipeline.py:170-174``) falls out naturally: the key
    is the join column.
    """
    keys = [key] if isinstance(key, str) else list(key)
    update_cols = update_cols or [c for c in new.columns if c not in keys]
    passthrough = [c for c in old.columns if c not in keys]

    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__new_{c}") for c in update_cols],
    )
    merged = old.join(n, on=keys, how="full_outer")
    out_cols = [F.col(k) for k in keys]
    for c in passthrough:
        if c in update_cols:
            out_cols.append(F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return merged.select(*out_cols)


def _quote_ident(name: str) -> str:
    """ANSI double-quoted identifier (SQLite/Postgres), embedded quotes
    doubled — sheet-derived column names are routinely reserved words
    (``order``, ``user``) or mixed-case."""
    return '"' + name.replace('"', '""') + '"'


def upsert_sql(
    table: str,
    cols: list[str],
    key_cols: list[str],
    *,
    paramstyle: str = "qmark",
) -> str:
    """Dialect-portable keyed upsert statement:
    ``INSERT … ON CONFLICT (key) DO UPDATE SET c = excluded.c`` — the
    SQLite/Postgres form of the reference's insert-else-update pair
    (``staffing-roster-pipeline.py:128-224``), but set-based per batch.
    ``paramstyle``: ``qmark`` (sqlite3) or ``format`` (pg8000/psycopg).
    All identifiers are ANSI-quoted."""
    ph = "?" if paramstyle == "qmark" else "%s"
    update_cols = [c for c in cols if c not in key_cols]
    q = _quote_ident
    sql = (
        f"INSERT INTO {q(table)} ({', '.join(q(c) for c in cols)}) "
        f"VALUES ({', '.join([ph] * len(cols))}) "
        f"ON CONFLICT ({', '.join(q(c) for c in key_cols)})"
    )
    if update_cols:
        sets = ", ".join(f"{q(c)} = excluded.{q(c)}" for c in update_cols)
        return f"{sql} DO UPDATE SET {sets}"
    return f"{sql} DO NOTHING"


def dbapi_upsert(
    df: DataFrame,
    *,
    table: str,
    key_cols: str | list[str],
    connection_factory,
    batch_size: int = 500,
    paramstyle: str = "qmark",
    quarantine_table: str | None = None,
    savepoints: bool = True,
) -> None:
    """Executor-parallel keyed upsert into any DB-API database — the engine's
    WRITE face of the reference's Postgres sink (K1–K5,
    ``staffing-roster-pipeline.py:128-224``, ``projects-pipeline.py:271-335``),
    replacing its per-row driver loop with one connection per PARTITION and
    ``executemany`` batches of ``batch_size``.

    ``connection_factory`` is a zero-arg picklable callable returning a DB-API
    connection — it runs on the EXECUTOR, so credentials/config must be
    baked into it (same contract as ``foreachBatch`` JDBC writers). Rows that
    still violate a constraint inside a batch (NOT NULL, CHECK, FK …) are
    retried row-at-a-time; persistent offenders are written to
    ``quarantine_table`` ``(error_code, reason, source_row)`` as E001 —
    quarantine-as-data, never a failed job — or re-raised as
    ``DataConflictError`` when no quarantine table is configured.

    Scale posture: parallelism = partition count (``df.repartition(n)`` to
    match the database's write headroom); each task holds one transaction,
    committing at partition end. A task retry replays its whole partition:
    the keyed upsert rows are idempotent under replay, but quarantine rows
    are plain un-keyed INSERTs and therefore **at-least-once** — a retry
    after commit (or speculative execution) can duplicate them. Dedupe
    downstream on a hash of ``source_row`` if exactly-once quarantine
    accounting matters, or add a unique index on the quarantine table.

    ``savepoints`` guards the batch and each row-retry with
    SAVEPOINT/ROLLBACK TO — required on engines (Postgres) where any
    statement error aborts the enclosing transaction, making a plain
    row-at-a-time retry impossible; SQLite accepts the same syntax. Disable
    only for DB-API targets without savepoint support.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    cols = list(df.columns)
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"key columns {missing} not in frame columns {cols}")
    sql = upsert_sql(table, cols, keys, paramstyle=paramstyle)
    q_ph = "?" if paramstyle == "qmark" else "%s"
    q_sql = (
        f"INSERT INTO {_quote_ident(quarantine_table)} "
        f"(error_code, reason, source_row) VALUES ({q_ph}, {q_ph}, {q_ph})"
        if quarantine_table
        else None
    )

    def write_partition(rows) -> None:
        import json

        from ibc_spark.errors import DataConflictError, DatabaseConnectionError

        it = iter(rows)
        first = next(it, None)
        if first is None:
            return
        try:
            conn = connection_factory()
        except Exception as e:
            raise DatabaseConnectionError(f"Database connection failed: {e}") from e
        try:
            cur = conn.cursor()
            batch: list[tuple] = []

            def flush() -> None:
                if not batch:
                    return
                if savepoints:
                    cur.execute("SAVEPOINT ibc_flush")
                try:
                    cur.executemany(sql, batch)
                    if savepoints:
                        cur.execute("RELEASE SAVEPOINT ibc_flush")
                except Exception:
                    # isolate offenders without losing the good rows; on
                    # engines that abort the transaction on error (Postgres)
                    # the savepoint rollback is what makes the retry legal
                    if savepoints:
                        cur.execute("ROLLBACK TO SAVEPOINT ibc_flush")
                    for params in batch:
                        if savepoints:
                            cur.execute("SAVEPOINT ibc_row")
                        try:
                            cur.execute(sql, params)
                            if savepoints:
                                cur.execute("RELEASE SAVEPOINT ibc_row")
                        except Exception as row_err:
                            if savepoints:
                                cur.execute("ROLLBACK TO SAVEPOINT ibc_row")
                            payload = json.dumps(dict(zip(cols, params)), default=str)
                            if q_sql is None:
                                raise DataConflictError(
                                    f"constraint violation writing {table}: {row_err}"
                                ) from row_err
                            cur.execute(q_sql, (E_DATA_CONFLICT, str(row_err), payload))
                batch.clear()

            import itertools

            for row in itertools.chain([first], it):
                batch.append(tuple(row[c] for c in cols))
                if len(batch) >= batch_size:
                    flush()
            flush()
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    df.foreachPartition(write_partition)
