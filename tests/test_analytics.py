"""Unit tests for ops.analytics (windows, as-of join, range buckets,
interval overlap) on handcrafted frames where the expected result is
computable by eye.
Registry-level oracle parity for the same operators is covered by
test_oracle_parity via the driver contract."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ibc_spark.ops.analytics import (
    asof_join,
    bucketize,
    lag_lead_delta,
    rank_in_groups,
    running_total,
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def clicks(spark):
    return spark.createDataFrame(
        [
            (1, 10, ts("2024-01-01T10:00:00")),
            (2, 10, ts("2024-01-01T12:00:00")),
            (3, 10, ts("2024-01-01T09:00:00")),  # before any purchase
            (4, 20, ts("2024-01-01T10:00:00")),  # user with no purchases
            (5, 30, ts("2024-01-01T10:00:00")),  # exactly at purchase ts
        ],
        "click_id long, user_id long, ts timestamp",
    )


@pytest.fixture()
def purchases(spark):
    return spark.createDataFrame(
        [
            (100, 10, ts("2024-01-01T09:30:00"), 5.0),
            (101, 10, ts("2024-01-01T11:00:00"), 7.0),
            (102, 30, ts("2024-01-01T10:00:00"), 9.0),
            (103, 30, ts("2024-01-01T10:00:00"), 11.0),  # same-ts tie → max event_id
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )


def test_asof_join_semantics(clicks, purchases):
    out = {
        r["click_id"]: (r["last_ts"], r["last_value"])
        for r in asof_join(
            clicks,
            purchases,
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            payload={"ts": "last_ts", "value": "last_value"},
            tiebreak_col="event_id",
        ).collect()
    }
    assert len(out) == 5
    assert out[1] == (ts("2024-01-01T09:30:00"), 5.0)  # latest <= 10:00
    assert out[2] == (ts("2024-01-01T11:00:00"), 7.0)  # latest <= 12:00
    assert out[3] == (None, None)  # click precedes all purchases
    assert out[4] == (None, None)  # user never purchased
    assert out[5] == (ts("2024-01-01T10:00:00"), 11.0)  # inclusive boundary, tie → id 103


def test_asof_join_payload_is_whole_row(spark):
    """A matched right row with a NULL payload field must NOT back-fill that
    field from an older right row — all payload fields come from the same
    as-of row (DuckDB ASOF whole-row semantics)."""
    left = spark.createDataFrame(
        [(1, 10, ts("2024-01-01T12:00:00"))],
        "click_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, 10, ts("2024-01-01T09:00:00"), 5.0, "old"),
            (101, 10, ts("2024-01-01T11:00:00"), None, "new"),  # matched row
        ],
        "event_id long, user_id long, ts timestamp, value double, tag string",
    )
    [row] = asof_join(
        left,
        right,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"value": "last_value", "tag": "last_tag"},
        tiebreak_col="event_id",
    ).collect()
    assert row["last_tag"] == "new"
    assert row["last_value"] is None, "NULL field must not mix in an older row"


def test_salted_join_rejects_dim_preserving_sides(spark):
    from ibc_spark.ops.skew import salted_join

    f = spark.createDataFrame([(1, "x")], "k long, a string")
    d = spark.createDataFrame([(1, "y")], "k long, b string")
    for how in ("right", "full", "fullouter", "right_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(f, d, on="k", n_salts=4, how=how)
    # fact-preserving sides stay allowed
    assert salted_join(f, d, on="k", n_salts=4, how="left").count() == 1


def test_rank_in_groups_determinism(spark):
    df = spark.createDataFrame(
        [("a", 5.0, 1), ("a", 5.0, 2), ("a", 3.0, 3), ("b", 9.0, 4)],
        "grp string, v double, id long",
    )
    rows = {
        r["id"]: (r["rn"], r["rnk"], r["drnk"])
        for r in rank_in_groups(
            df, partition_by="grp", order_by=[F.col("v").desc()]
        ).collect()
    }
    # ties on v=5.0: rank/dense_rank agree, row_number splits arbitrarily
    assert {rows[1][0], rows[2][0]} == {1, 2}
    assert rows[1][1:] == (1, 1) and rows[2][1:] == (1, 1)
    assert rows[3] == (3, 3, 2)  # rank skips past the tie, dense_rank doesn't
    assert rows[4] == (1, 1, 1)


def test_lag_lead_and_running_total(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 20.0), (1, 3, 5.0), (2, 4, 7.0)],
        "k long, seq long, v double",
    )
    ll = {
        r["seq"]: (r["prev_value"], r["next_value"], r["delta"])
        for r in lag_lead_delta(
            df, partition_by="k", order_by="seq", value_col="v"
        ).collect()
    }
    assert ll[1] == (None, 20.0, None)
    assert ll[2] == (10.0, 5.0, 10.0)
    assert ll[3] == (20.0, None, -15.0)
    assert ll[4] == (None, None, None)

    rt = {
        r["seq"]: r["running_total"]
        for r in running_total(
            df, partition_by="k", order_by="seq", value_col="v"
        ).collect()
    }
    assert rt == {1: 10.0, 2: 30.0, 3: 35.0, 4: 7.0}


def test_bucketize_edges(spark):
    """Static ``[lo, hi)`` buckets: lo inclusive, hi exclusive, a value
    outside every bucket maps to NULL, and no buckets at all is a NULL
    string column."""
    facts = spark.createDataFrame(
        [(0.0,), (9.99,), (10.0,), (49.0,), (99.0,)], "v double"
    )
    buckets = [(0.0, 10.0, "low"), (10.0, 50.0, "high")]
    out = {
        r["v"]: r["bucket"]
        for r in facts.select("v", bucketize("v", buckets).alias("bucket")).collect()
    }
    assert out == {0.0: "low", 9.99: "low", 10.0: "high", 49.0: "high", 99.0: None}
    none = facts.select(bucketize("v", []).alias("b"))
    assert none.schema["b"].dataType.simpleString() == "string"
    assert {r["b"] for r in none.collect()} == {None}


def test_scd2_apply_semantics(spark):
    import datetime as dtm

    from ibc_spark.ops.mutate import scd2_apply

    d = dtm.date
    current = spark.createDataFrame(
        [
            # closed history row for key 1
            (1, 10.0, "A", d(2019, 1, 1), d(2020, 1, 1), False),
            # open rows
            (1, 20.0, "A", d(2020, 1, 1), None, True),   # will change
            (2, 30.0, "B", d(2020, 1, 1), None, True),   # unchanged
            (3, 40.0, "C", d(2020, 1, 1), None, True),   # not in updates
        ],
        "k long, v double, seg string, valid_from date, valid_to date, is_current boolean",
    )
    updates = spark.createDataFrame(
        [
            (1, 25.0, "A"),   # changed value
            (2, 30.0, "B"),   # identical → no-op
            (9, 99.0, "Z"),   # brand-new key
        ],
        "k long, v double, seg string",
    )
    out = scd2_apply(
        current, updates, key="k", compare=["v", "seg"], effective_date="2026-01-01"
    ).collect()
    rows = {(r["k"], r["valid_from"]): r for r in out}
    assert len(out) == 6
    # history passthrough
    assert rows[(1, d(2019, 1, 1))]["is_current"] is False
    # changed row closed at effective date
    closed = rows[(1, d(2020, 1, 1))]
    assert closed["valid_to"] == d(2026, 1, 1) and closed["is_current"] is False
    assert closed["v"] == 20.0  # closed version keeps OLD values
    # new version opened
    new = rows[(1, d(2026, 1, 1))]
    assert new["v"] == 25.0 and new["valid_to"] is None and new["is_current"] is True
    # unchanged + untouched rows stay open
    assert rows[(2, d(2020, 1, 1))]["is_current"] is True
    assert rows[(3, d(2020, 1, 1))]["is_current"] is True
    # brand-new key inserted open at effective date
    nk = rows[(9, d(2026, 1, 1))]
    assert nk["v"] == 99.0 and nk["is_current"] is True


def test_recursive_cte_matches_duckdb(spark, duck):
    """Spark 4.1 WITH RECURSIVE (UNION ALL form): a bounded recursion must
    produce the same rows as DuckDB's. Spark does not yet support the
    UNION-dedup recursive form (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so
    cyclic-graph closure stays on the iterative contraction operator
    (ext.graph) — this pins the ACYCLIC recursion face of the SQL API."""
    sql = """
    WITH RECURSIVE fib(n, a, b) AS (
      SELECT 1, CAST(0 AS BIGINT), CAST(1 AS BIGINT)
      UNION ALL
      SELECT n + 1, b, a + b FROM fib WHERE n < 30
    )
    SELECT n, a AS fib_n FROM fib
    """
    got = sorted((r["n"], r["fib_n"]) for r in spark.sql(sql).collect())
    want = sorted(tuple(r) for r in duck.execute(sql).fetchall())
    assert got == [(n, int(v)) for n, v in want]
    assert got[29] == (30, 514229)


def test_interval_overlap_totals_equals_pair_enumeration(spark):
    """The sweep-line aggregate (`interval_overlap_totals`, the r8 rewrite
    that removed the Ω(density²) pair enumeration) must return EXACTLY the
    naive pair plan's per-left counts and summed overlaps on a seeded
    fixture with zero-length intervals, touching endpoints (overlap 0 but
    counted), duplicate endpoints, and left rows with no overlaps (must
    be omitted, inner-join semantics)."""
    import random

    from pyspark.sql import functions as F

    from ibc_spark.ops.analytics import interval_overlap_totals

    rng = random.Random(11)

    def mk(n, prefix, lo, hi):
        rows = []
        for i in range(n):
            s = rng.randrange(lo, hi)
            rows.append((f"{prefix}{i}", s, s + rng.choice([0, 1, 5, 40, 300])))
        # planted edge cases: exact-touch pair and an isolated far-away row
        rows.append((f"{prefix}touch", 10_000, 10_050))
        rows.append((f"{prefix}far", 9_000_000 + (0 if prefix == "L" else 500), 9_000_000 + (0 if prefix == "L" else 501)))
        return rows

    l = spark.createDataFrame(mk(120, "L", 0, 2000), "lid string, ls long, le long")
    r = spark.createDataFrame(mk(120, "R", 0, 2000), "rid string, rs long, re long")
    # exact-touch partner: starts exactly where Ltouch ends
    r = r.unionByName(spark.createDataFrame([("Rtouch", 10_050, 10_060)], r.schema))

    got = {
        (x["lid"], x["n_overlaps"], x["total_overlap"])
        for x in interval_overlap_totals(
            l, r, left_keys=["lid"],
            left_start="ls", left_end="le", right_start="rs", right_end="re",
        ).collect()
    }
    naive = {
        (x["lid"], x["n"], x["tot"])
        for x in l.crossJoin(r)
        .where((F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le")))
        .groupBy("lid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.least("le", "re") - F.greatest("ls", "rs")
            ).alias("tot"),
        )
        .collect()
    }
    assert naive and got == naive
    by_id = {t[0]: t for t in got}
    assert by_id["Ltouch"][1] >= 1 and by_id["Ltouch"] is not None  # touch counted
    assert "Lfar" not in by_id  # zero-overlap left rows omitted
