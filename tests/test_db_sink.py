"""Executor-side DB-API upsert sink (K1-K5 write face) round-tripped against
SQLite: insert, keyed upsert, constraint violation -> E001 quarantine rows."""

from __future__ import annotations

import functools
import sqlite3

import pytest

from ibc_spark.io_.sinks import dbapi_upsert, upsert_sql

DDL = """
CREATE TABLE users (
  user_id INTEGER PRIMARY KEY,
  email TEXT NOT NULL UNIQUE,
  name TEXT NOT NULL
);
CREATE TABLE users__quarantine (
  error_code TEXT, reason TEXT, source_row TEXT
);
"""


def connect(path: str):
    conn = sqlite3.connect(path, timeout=30)
    conn.execute("PRAGMA busy_timeout = 30000")
    return conn


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "sink.db")
    conn = sqlite3.connect(path)
    conn.executescript(DDL)
    conn.commit()
    conn.close()
    return path


def fetchall(path, sql):
    conn = sqlite3.connect(path)
    try:
        return conn.execute(sql).fetchall()
    finally:
        conn.close()


def test_upsert_sql_shape():
    sql = upsert_sql("t", ["k", "a", "b"], ["k"])
    assert sql == (
        'INSERT INTO "t" ("k", "a", "b") VALUES (?, ?, ?) '
        'ON CONFLICT ("k") DO UPDATE SET "a" = excluded."a", "b" = excluded."b"'
    )
    assert "%s" in upsert_sql("t", ["k"], ["k"], paramstyle="format")
    assert upsert_sql("t", ["k"], ["k"]).endswith("DO NOTHING")


def test_upsert_reserved_word_columns(spark, tmp_path):
    """Reserved-word column names ('order') must work via identifier quoting."""
    path = str(tmp_path / "rw.db")
    conn = sqlite3.connect(path)
    conn.execute('CREATE TABLE t (k INTEGER PRIMARY KEY, "order" TEXT)')
    conn.commit()
    conn.close()
    df = spark.createDataFrame([(1, "first")], "k long, order string")
    dbapi_upsert(
        df, table="t", key_cols="k", connection_factory=functools.partial(connect, path)
    )
    assert fetchall(path, "SELECT * FROM t") == [(1, "first")]


def test_insert_then_upsert(spark, db):
    factory = functools.partial(connect, db)
    first = spark.createDataFrame(
        [(1, "a@x.edu", "Alice"), (2, "b@x.edu", "Bob")],
        "user_id long, email string, name string",
    )
    dbapi_upsert(first, table="users", key_cols="user_id", connection_factory=factory)
    assert sorted(fetchall(db, "SELECT * FROM users")) == [
        (1, "a@x.edu", "Alice"),
        (2, "b@x.edu", "Bob"),
    ]

    # upsert: row 1 updated in place, row 3 inserted; parallel partitions
    second = spark.createDataFrame(
        [(1, "a@x.edu", "Alice Updated"), (3, "c@x.edu", "Cara")],
        "user_id long, email string, name string",
    ).repartition(2)
    dbapi_upsert(second, table="users", key_cols="user_id", connection_factory=factory)
    assert sorted(fetchall(db, "SELECT * FROM users")) == [
        (1, "a@x.edu", "Alice Updated"),
        (2, "b@x.edu", "Bob"),
        (3, "c@x.edu", "Cara"),
    ]


def test_constraint_violation_quarantines_e001(spark, db):
    factory = functools.partial(connect, db)
    df = spark.createDataFrame(
        [(1, "a@x.edu", "Alice"), (2, "b@x.edu", None), (3, "c@x.edu", "Cara")],
        "user_id long, email string, name string",
    ).coalesce(1)
    dbapi_upsert(
        df,
        table="users",
        key_cols="user_id",
        connection_factory=factory,
        quarantine_table="users__quarantine",
    )
    # good rows landed; the NOT NULL violation became an E001 quarantine row
    assert len(fetchall(db, "SELECT * FROM users")) == 2
    [(code, reason, payload)] = fetchall(db, "SELECT * FROM users__quarantine")
    assert code == "E001"
    assert "NOT NULL" in reason.upper() or "null" in reason.lower()
    assert '"user_id": 2' in payload


def test_constraint_violation_without_quarantine_fails_job(spark, db):
    factory = functools.partial(connect, db)
    df = spark.createDataFrame(
        [(1, "a@x.edu", None)], "user_id long, email string, name string"
    )
    with pytest.raises(Exception, match="E001|DataConflict"):
        dbapi_upsert(df, table="users", key_cols="user_id", connection_factory=factory)


def test_key_column_validation(spark, db):
    df = spark.createDataFrame([(1,)], "a long")
    with pytest.raises(ValueError, match="key columns"):
        dbapi_upsert(
            df, table="users", key_cols="nope", connection_factory=lambda: None
        )


# ---------------------------------------------------------------------------
# Postgres-discipline emulation: the sandbox has no Postgres, so fake the
# TWO behaviors that distinguish it from SQLite and that dbapi_upsert's
# savepoint structure exists for (staffing-roster-pipeline.py:256-263 is
# the reference's pg8000 sink):
#   1. any statement error ABORTS the transaction — every later statement
#      fails with "current transaction is aborted" until ROLLBACK [TO
#      SAVEPOINT] — so row-at-a-time retry is only legal via savepoints;
#   2. errors carry a pg8000-style sqlstate payload ('C': '23505'/'23502'),
#      not a sqlite3 message.
# ---------------------------------------------------------------------------


class FakePgError(Exception):
    """pg8000-shaped error: args[0] is the server error dict with sqlstate
    under 'C' (pg8000.exceptions.DatabaseError contract)."""


class FakePgAbortedError(Exception):
    pass


def _sqlstate_for(err: sqlite3.Error) -> str:
    msg = str(err).upper()
    if "UNIQUE" in msg:
        return "23505"  # unique_violation — the reference's handled case
    if "NOT NULL" in msg:
        return "23502"  # not_null_violation
    return "XX000"


class _FakePgCursor:
    def __init__(self, cur: sqlite3.Cursor, state: dict):
        self._cur = cur
        self._state = state

    def _gate(self, sql: str) -> None:
        if self._state["aborted"] and not sql.lstrip().upper().startswith("ROLLBACK"):
            raise FakePgAbortedError(
                "current transaction is aborted, commands ignored until "
                "end of transaction block"
            )

    def _run(self, fn, sql, *args):
        self._gate(sql)
        try:
            fn(sql, *args)
        except sqlite3.Error as e:
            self._state["aborted"] = True
            code = _sqlstate_for(e)
            raise FakePgError({"S": "ERROR", "C": code, "M": str(e)}) from e
        if sql.lstrip().upper().startswith("ROLLBACK"):
            self._state["aborted"] = False

    def execute(self, sql, params=()):
        self._run(self._cur.execute, sql, params)

    def executemany(self, sql, seq):
        self._run(self._cur.executemany, sql, seq)


class _FakePgConnection:
    def __init__(self, path: str):
        self._conn = sqlite3.connect(path, timeout=30)
        self._conn.execute("PRAGMA busy_timeout = 30000")
        self._state = {"aborted": False}

    def cursor(self):
        return _FakePgCursor(self._conn.cursor(), self._state)

    def commit(self):
        if self._state["aborted"]:
            # pg COMMIT in an aborted txn is a ROLLBACK
            self._conn.rollback()
            self._state["aborted"] = False
        else:
            self._conn.commit()

    def rollback(self):
        self._conn.rollback()
        self._state["aborted"] = False

    def close(self):
        self._conn.close()


def test_pg_discipline_savepoints_quarantine_sqlstate(spark, db):
    """Under Postgres abort discipline the batch error -> savepoint rollback
    -> row retry -> quarantine path must still land every good row, and the
    quarantine reason must carry the pg sqlstate (23502 here: NOT NULL)."""
    factory = functools.partial(_FakePgConnection, db)
    df = spark.createDataFrame(
        [(1, "a@x.edu", "Alice"), (2, "b@x.edu", None), (3, "c@x.edu", "Cara")],
        "user_id long, email string, name string",
    ).coalesce(1)
    dbapi_upsert(
        df,
        table="users",
        key_cols="user_id",
        connection_factory=factory,
        quarantine_table="users__quarantine",
    )
    assert len(fetchall(db, "SELECT * FROM users")) == 2
    [(code, reason, payload)] = fetchall(db, "SELECT * FROM users__quarantine")
    assert code == "E001"
    assert "23502" in reason
    assert '"user_id": 2' in payload


def test_pg_discipline_unique_violation_is_23505(spark, db):
    """The reference's handled case: duplicate email (UNIQUE, not the upsert
    key) -> 23505 -> E001 quarantine row, remaining rows committed."""
    factory = functools.partial(_FakePgConnection, db)
    df = spark.createDataFrame(
        [(1, "dup@x.edu", "Alice"), (2, "dup@x.edu", "Bob"), (3, "c@x.edu", "Cara")],
        "user_id long, email string, name string",
    ).coalesce(1)
    dbapi_upsert(
        df,
        table="users",
        key_cols="user_id",
        connection_factory=factory,
        quarantine_table="users__quarantine",
    )
    kept = fetchall(db, "SELECT user_id FROM users ORDER BY user_id")
    assert len(kept) == 2  # one of the dup pair + Cara
    [(code, reason, _)] = fetchall(db, "SELECT * FROM users__quarantine")
    assert code == "E001" and "23505" in reason


def test_pg_discipline_requires_savepoints(spark, db):
    """Negative control: with savepoints disabled, the aborted transaction
    makes the row-retry path ILLEGAL (every follow-up statement raises) —
    proving the savepoint structure is what makes quarantine possible on
    Postgres. SQLite alone would pass without savepoints, which is exactly
    why this fake exists."""
    factory = functools.partial(_FakePgConnection, db)
    df = spark.createDataFrame(
        [(1, "a@x.edu", "Alice"), (2, "b@x.edu", None)],
        "user_id long, email string, name string",
    ).coalesce(1)
    with pytest.raises(Exception, match="aborted|Py4J"):
        dbapi_upsert(
            df,
            table="users",
            key_cols="user_id",
            connection_factory=factory,
            quarantine_table="users__quarantine",
            savepoints=False,
        )
