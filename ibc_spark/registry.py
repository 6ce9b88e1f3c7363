"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 (and the §7.7 extensions) gets a
named entry: a PySpark implementation ``(spark, sf_dir) -> DataFrame`` built
on the ``ibc_spark.ops`` library, plus (where SQL-expressible) an ANSI-SQL
oracle that DuckDB runs over the same parquet tables. The driver hash-compares
the two at sf0.01.

Cross-engine determinism rules used throughout (so value hashes match):

- Float aggregations are NEVER summed as doubles (summation order differs
  across engines). Inputs are cast to pinned-scale DECIMALs, summed exactly,
  and the final result cast to DOUBLE — bit-identical on both engines.
- Averages are ``CAST(exact_sum AS DOUBLE) / count`` — one deterministic
  double division.
- Weekday numbering: Spark ``dayofweek`` is 1=Sunday; DuckDB's is 0=Sunday —
  oracles use ``dayofweek(x)+1``.
- Every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ibc_spark.io_.sinks import merge_upsert
from ibc_spark.io_.sources import read_table
from ibc_spark.ops import mutate, normalize, scalars
from ibc_spark.ops.joins import (
    changed_rows,
    dangling_keys,
    exists_in,
    resolve_fk,
    resolve_roles,
)
from ibc_spark.ops.mutate import bulk_mutate, last_write_wins
from ibc_spark.ops.reshape import unpivot_columns
from ibc_spark.ops.validate import validate_split

# The dicts + decorator live in the LEAF module registry_core so entry
# modules can be imported directly without re-entering this module's
# bottom aggregation imports (circular-import crash). Re-exported here so
# `from ibc_spark.registry import QUERIES, ORACLES, query, dec` keeps
# working everywhere.
from ibc_spark.registry_core import ORACLES, QUERIES, dec, query  # noqa: F401


# ---------------------------------------------------------------------------
# Flagship + headline analytical queries (E1-shape: scan → join → agg → top-k)
# ---------------------------------------------------------------------------


@query(
    "flagship_revenue_by_nation",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))
                    * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_items,
           COUNT(DISTINCT c_custkey) AS n_customers
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation: lineitem ⋈ orders ⋈ customer ⋈ nation.

    Scale posture: facts (lineitem, orders) are shuffled on their join keys
    by Catalyst/AQE; `nation` (25 rows) is broadcast explicitly. The date
    filter is pushed into the orders parquet scan; only the five referenced
    lineitem columns are read.
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")

    revenue = dec("l_extendedprice", 10, 2) * (
        F.lit(1) - dec("l_discount", 4, 2)
    ).cast("decimal(4,2)")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


# ---------------------------------------------------------------------------
# Scalars X1–X6 (SURVEY §2.3)
# ---------------------------------------------------------------------------

_BOOLISH = "CASE event_id % 10 WHEN 0 THEN 'Yes' WHEN 1 THEN 'no' WHEN 2 THEN 'TRUE' WHEN 3 THEN 'false' WHEN 4 THEN '1' WHEN 5 THEN '0' WHEN 6 THEN 'maybe' WHEN 7 THEN '' WHEN 8 THEN ' yes ' ELSE NULL END"


@query(
    "scalar_parse_boolean",
    oracle=f"""
    WITH t AS (SELECT event_id, {_BOOLISH} AS tok FROM events)
    SELECT event_id, tok,
           CASE WHEN lower(trim(tok)) IN ('yes','true','1') THEN TRUE
                WHEN lower(trim(tok)) IN ('no','false','0') THEN FALSE
                ELSE FALSE END AS parsed
    FROM t
    """,
)
def scalar_parse_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — full truth table of parse_boolean (junk and NULL → false) over a
    deterministically synthesized boolean-ish column."""
    ev = read_table(spark, sf_dir, "events")
    tok = (
        F.when(F.col("event_id") % 10 == 0, "Yes")
        .when(F.col("event_id") % 10 == 1, "no")
        .when(F.col("event_id") % 10 == 2, "TRUE")
        .when(F.col("event_id") % 10 == 3, "false")
        .when(F.col("event_id") % 10 == 4, "1")
        .when(F.col("event_id") % 10 == 5, "0")
        .when(F.col("event_id") % 10 == 6, "maybe")
        .when(F.col("event_id") % 10 == 7, "")
        .when(F.col("event_id") % 10 == 8, " yes ")
        .otherwise(F.lit(None).cast("string"))
    )
    return ev.select(
        "event_id",
        tok.alias("tok"),
        scalars.parse_boolean(tok).alias("parsed"),
    )


@query(
    "scalar_nullif_blank_safe_long",
    oracle="""
    SELECT event_id,
           CASE WHEN trim(regexp_extract(props, '"k":\\s*(\\d+)', 1)) = '' THEN NULL
                ELSE regexp_extract(props, '"k":\\s*(\\d+)', 1) END AS k_raw,
           TRY_CAST(trim(regexp_extract(props, '"k":\\s*(\\d+)', 1)) AS BIGINT) AS k_num
    FROM events
    """,
)
def scalar_nullif_blank_safe_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 + X5 — blank→NULL normalization and junk-safe numeric cast over a
    regexp-extracted field (property parsing without a JSON extension
    dependency on the oracle side)."""
    ev = read_table(spark, sf_dir, "events")
    raw = F.regexp_extract(F.col("props"), '"k":\\s*(\\d+)', 1)
    return ev.select(
        "event_id",
        scalars.nullif_blank(raw).alias("k_raw"),
        scalars.safe_long(raw).alias("k_num"),
    )


@query(
    "scalar_split_trim_lower",
    oracle="""
    SELECT p_partkey,
           array_to_string(
             list_filter(list_transform(string_split(p_name, ' '), x -> lower(trim(x))),
                         x -> x <> ''),
             ',') AS tokens
    FROM part
    """,
)
def scalar_split_trim_lower(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 — tokenize a delimited cell (trim+lower, drop empties), emitted as
    a joined string so the hash is array-representation-agnostic."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.array_join(scalars.split_trim_lower(F.col("p_name"), " "), ",").alias("tokens"),
    )


# ---------------------------------------------------------------------------
# Validation F1–F3 with quarantine (SURVEY §2.2) — over a deterministically
# dirtied customer frame (testdata itself is clean).
# ---------------------------------------------------------------------------

_DIRTY_CUSTOMER = """
    SELECT c_custkey,
           CASE WHEN c_custkey % 17 = 0 THEN ''
                WHEN c_custkey % 19 = 0 THEN NULL
                ELSE c_name END AS c_name,
           CASE WHEN c_custkey % 23 = 0 THEN '  ' ELSE c_mktsegment END AS c_mktsegment,
           c_acctbal
    FROM customer
"""


def _dirty_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 17 == 0, "")
        .when(F.col("c_custkey") % 19 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_name"))
        .alias("c_name"),
        F.when(F.col("c_custkey") % 23 == 0, "  ")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_acctbal",
    )


@query(
    "validate_quarantine",
    oracle=f"""
    WITH t AS ({_DIRTY_CUSTOMER})
    SELECT c_custkey,
           concat('Missing required columns: ',
                  array_to_string(list_filter(
                      [CASE WHEN c_name IS NULL OR trim(c_name) = '' THEN 'c_name' END,
                       CASE WHEN c_mktsegment IS NULL OR trim(c_mktsegment) = '' THEN 'c_mktsegment' END],
                      x -> x IS NOT NULL), ', ')) AS reason,
           'E003' AS error_code
    FROM t
    WHERE (c_name IS NULL OR trim(c_name) = '')
       OR (c_mktsegment IS NULL OR trim(c_mktsegment) = '')
    """,
)
def validate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3 — the quarantine side of required-field validation, with the
    reference's reason-string shape (errors as data, E003)."""
    split = validate_split(
        _dirty_customer(spark, sf_dir), ["c_name", "c_mktsegment"], cache=False
    )
    return split.quarantine.select(
        "c_custkey",
        F.col("_reason").alias("reason"),
        F.col("_error_code").alias("error_code"),
    )


@query(
    "validate_valid_rows",
    oracle=f"""
    WITH t AS ({_DIRTY_CUSTOMER})
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM t
    WHERE NOT ((c_name IS NULL OR trim(c_name) = '')
            OR (c_mktsegment IS NULL OR trim(c_mktsegment) = ''))
    """,
)
def validate_valid_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3 — the valid complement from the same single-pass split."""
    split = validate_split(
        _dirty_customer(spark, sf_dir), ["c_name", "c_mktsegment"], cache=False
    )
    return split.valid


@query(
    "job_summary_metrics",
    oracle=f"""
    WITH t AS ({_DIRTY_CUSTOMER})
    SELECT COUNT(*) FILTER (WHERE NOT ((c_name IS NULL OR trim(c_name) = '')
                                    OR (c_mktsegment IS NULL OR trim(c_mktsegment) = ''))) AS valid_rows,
           COUNT(*) FILTER (WHERE (c_name IS NULL OR trim(c_name) = '')
                                OR (c_mktsegment IS NULL OR trim(c_mktsegment) = '')) AS invalid_rows
    FROM t
    """,
)
def job_summary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 — the reference's stdout summary {valid_rows, invalid_rows}
    (``staffing-roster-pipeline.py:303-304``) as a one-row metrics frame."""
    tagged = _dirty_customer(spark, sf_dir).withColumn(
        "__invalid",
        scalars.is_blank("c_name") | scalars.is_blank("c_mktsegment"),
    )
    return tagged.agg(
        F.sum(F.when(~F.col("__invalid"), 1).otherwise(0)).alias("valid_rows"),
        F.sum(F.when(F.col("__invalid"), 1).otherwise(0)).alias("invalid_rows"),
    )


@query(
    "coalesce_headers_p1",
    oracle="""
    SELECT CASE WHEN c_custkey % 7 = 0 THEN upper(c_name) ELSE c_name END
             AS customer_name,
           c_mktsegment AS segment,
           CAST(NULL AS VARCHAR) AS fax,
           c_custkey
    FROM customer
    """,
)
def coalesce_headers_p1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — candidate-header fallback (``projects-pipeline.py:59-82``
    KEY_MAP): every 7th row's primary header is blank and falls through to
    the alternate spelling; a mapped-but-absent header yields a NULL column;
    unknown columns pass through."""
    c = read_table(spark, sf_dir, "customer")
    sheet = c.select(
        F.when(F.col("c_custkey") % 7 == 0, F.lit(""))
        .otherwise(F.col("c_name"))
        .alias("Customer Name"),
        F.upper(F.col("c_name")).alias("customer_name_alt"),
        F.col("c_mktsegment").alias("Market Segment"),
        "c_custkey",
    )
    return normalize.coalesce_headers(
        sheet,
        {
            "customer_name": ["Customer Name", "customer_name_alt"],
            "segment": ["segment", "Market Segment"],
            "fax": ["fax", "Fax"],
        },
    )


@query(
    "mark_where_in_u2",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey IN (SELECT o_custkey FROM orders
                                   WHERE o_orderpriority = '1-URGENT')
                THEN 'URGENT' ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def mark_where_in_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — conditional status mark for keys present in a driving set
    (``projects-pipeline.py:167-183`` mark_consultant_returning): broadcast
    semi-join shape — the dim is scanned once, the key set is deduped and
    broadcast, no row explosion."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    urgent = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return mutate.mark_where_in(
        c, urgent, key="c_custkey", updates={"c_mktsegment": "URGENT"}
    )


# ---------------------------------------------------------------------------
# Joins J1–J6 (SURVEY §2.5)
# ---------------------------------------------------------------------------

_PROBE_ORDERS = """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 1000000 ELSE o_custkey END AS probe_key
    FROM orders
"""


def _probe_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("o_custkey") + 1000000)
        .otherwise(F.col("o_custkey"))
        .alias("probe_key"),
    )


@query(
    "fk_resolve_left",
    oracle=f"""
    WITH t AS ({_PROBE_ORDERS})
    SELECT o_orderkey, probe_key, c_name AS cust_name, c_mktsegment AS segment,
           c_name IS NOT NULL AS matched
    FROM t LEFT JOIN customer ON probe_key = c_custkey
    """,
)
def fk_resolve_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 — set-based key resolution replacing the reference's per-row
    ``SELECT user_id FROM users WHERE email=%s`` probes: one broadcast left
    join resolves every row in one pass."""
    facts = _probe_orders(spark, sf_dir)
    resolved = resolve_fk(
        facts,
        read_table(spark, sf_dir, "customer"),
        fact_key="probe_key",
        dim_key="c_custkey",
        payload={"c_name": "cust_name", "c_mktsegment": "segment"},
    )
    return resolved.select(
        "o_orderkey",
        "probe_key",
        "cust_name",
        "segment",
        F.col("cust_name").isNotNull().alias("matched"),
    )


@query(
    "fk_dangling_anti",
    oracle=f"""
    WITH t AS ({_PROBE_ORDERS})
    SELECT o_orderkey, probe_key
    FROM t
    WHERE probe_key IS NOT NULL
      AND probe_key NOT IN (SELECT c_custkey FROM customer)
    """,
)
def fk_dangling_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — dangling-FK detection as an anti-join (reference raises
    InvalidFormatError per missing netid, ``projects-pipeline.py:124-125``;
    the engine quarantines)."""
    facts = _probe_orders(spark, sf_dir)
    return dangling_keys(
        facts,
        read_table(spark, sf_dir, "customer"),
        fact_key="probe_key",
        dim_key="c_custkey",
    ).select("o_orderkey", "probe_key")


@query(
    "exists_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — EXISTS as a left-semi join (replaces per-row ``SELECT 1`` probes)."""
    return exists_in(
        read_table(spark, sf_dir, "customer").select("c_custkey", "c_name"),
        read_table(spark, sf_dir, "orders"),
        probe_key="c_custkey",
        dim_key="o_custkey",
    )


@query(
    "exists_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 (negated) — NOT EXISTS as a left-anti join."""
    return exists_in(
        read_table(spark, sf_dir, "customer").select("c_custkey", "c_name"),
        read_table(spark, sf_dir, "orders"),
        probe_key="c_custkey",
        dim_key="o_custkey",
        negate=True,
    )


@query(
    "resolve_roles_multi",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             o_custkey AS em_key,
             (o_custkey * 7 + 13) % 1500 AS sm_key,
             (o_custkey * 11 + 5) % 1500 AS pm_key
      FROM orders)
    SELECT o_orderkey, em_key, sm_key, pm_key,
           em.c_name AS em_name, sm.c_name AS sm_name, pm.c_name AS pm_name
    FROM t
    LEFT JOIN customer em ON t.em_key = em.c_custkey
    LEFT JOIN customer sm ON t.sm_key = sm.c_custkey
    LEFT JOIN customer pm ON t.pm_key = pm.c_custkey
    """,
)
def resolve_roles_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — multi-role resolution against one dim (the reference's 5-way
    aliased LEFT JOIN, ``projects-pipeline.py:226-238``): N broadcast hash
    probes of the same dim, zero fact shuffles."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("em_key"),
        ((F.col("o_custkey") * 7 + 13) % 1500).alias("sm_key"),
        ((F.col("o_custkey") * 11 + 5) % 1500).alias("pm_key"),
    )
    resolved = resolve_roles(
        o,
        read_table(spark, sf_dir, "customer"),
        role_keys={"em_key": "em_name", "sm_key": "sm_name", "pm_key": "pm_name"},
        dim_key="c_custkey",
        dim_id="c_name",
    )
    return resolved.select(
        "o_orderkey", "em_key", "sm_key", "pm_key", "em_name", "sm_name", "pm_name"
    )


_NEW_CUSTOMER = """
    SELECT c_custkey,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
           CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
    FROM customer
"""


def _new_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(F.col("c_custkey") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )


@query(
    "changed_rows_scd",
    oracle=f"""
    WITH new AS ({_NEW_CUSTOMER})
    SELECT new.c_custkey, new.c_acctbal, new.c_mktsegment
    FROM new JOIN customer old ON new.c_custkey = old.c_custkey
    WHERE new.c_acctbal IS DISTINCT FROM old.c_acctbal
       OR new.c_mktsegment IS DISTINCT FROM old.c_mktsegment
    """,
)
def changed_rows_scd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — null-safe SCD change detection (skip-if-unchanged,
    ``projects-pipeline.py:247-260``) as a set operation."""
    return changed_rows(
        _new_customer(spark, sf_dir),
        read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        ),
        key="c_custkey",
        compare=["c_acctbal", "c_mktsegment"],
    )


# ---------------------------------------------------------------------------
# Upsert/MERGE + dedup + mutations (SURVEY §2.1 K*, §2.6 U*)
# ---------------------------------------------------------------------------

_MERGE_OLD = "SELECT c_custkey, c_name, c_acctbal, c_mktsegment, c_nationkey FROM customer WHERE c_custkey < 1200"
_MERGE_NEW = """
    SELECT c_custkey, concat(c_name, '_v2') AS c_name, c_acctbal + 100.0 AS c_acctbal,
           'UPDATED' AS c_mktsegment
    FROM customer WHERE c_custkey BETWEEN 1000 AND 1400
"""


@query(
    "merge_upsert_state",
    oracle=f"""
    WITH old AS ({_MERGE_OLD}), new AS ({_MERGE_NEW})
    SELECT COALESCE(old.c_custkey, new.c_custkey) AS c_custkey,
           COALESCE(new.c_name, old.c_name) AS c_name,
           COALESCE(new.c_acctbal, old.c_acctbal) AS c_acctbal,
           COALESCE(new.c_mktsegment, old.c_mktsegment) AS c_mktsegment,
           old.c_nationkey AS c_nationkey
    FROM old FULL OUTER JOIN new ON old.c_custkey = new.c_custkey
    """,
)
def merge_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1/K3/K4/K5 — MERGE result state (matched→update, unmatched-new→
    insert, unmatched-old→passthrough) as one full-outer join. This dataset
    op is the body of every reference upsert; on Delta/Iceberg it becomes
    ``MERGE INTO`` with identical semantics."""
    c = read_table(spark, sf_dir, "customer")
    old = c.where(F.col("c_custkey") < 1200).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey"
    )
    new = c.where(F.col("c_custkey").between(1000, 1400)).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("_v2")).alias("c_name"),
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    return merge_upsert(old, new, key="c_custkey")


@query(
    "dedup_last_write_wins",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) = 1
    """,
)
def dedup_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-MERGE duplicate suppression: last row per key in ingest order
    (the sequential loop's implicit second-occurrence-wins behavior)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return last_write_wins(o, key="o_custkey", order_col="o_orderkey")


@query(
    "bulk_mutate_end_semester",
    oracle="""
    SELECT c_custkey, 'Deferred' AS status,
           c_acctbal + 1 AS c_acctbal
    FROM customer
    """,
)
def bulk_mutate_end_semester(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4/K6 — whole-table literal set + arithmetic increment
    (``end-semester-pipeline.py:50-58``): pure map stage, no shuffle."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = bulk_mutate(
        c.withColumn("status", F.lit(None).cast("string")),
        updates={"status": "Deferred"},
        increments={"c_acctbal": 1},
    )
    return out.select("c_custkey", "status", "c_acctbal")


@query(
    "unpivot_attributes",
    oracle="""
    SELECT o_orderkey, 'status' AS attr, o_orderstatus AS val FROM orders
    UNION ALL
    SELECT o_orderkey, 'priority' AS attr, o_orderpriority AS val FROM orders
    """,
)
def unpivot_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/K7 — unpivot N columns → (id, attr, value) rows via ``stack``
    (the link-table fan-out shape, ``projects-pipeline.py:186-199``)."""
    o = read_table(spark, sf_dir, "orders")
    return unpivot_columns(
        o,
        ids=["o_orderkey"],
        value_cols={"o_orderstatus": "status", "o_orderpriority": "priority"},
        var_name="attr",
        value_name="val",
    )


# ---------------------------------------------------------------------------
# Reshape A2 analogues (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "weekday_bitstring",
    oracle="""
    SELECT o_custkey,
           concat(
             CASE WHEN bool_or(dayofweek(o_orderdate) + 1 = 1) THEN '1' ELSE '0' END,
             CASE WHEN bool_or(dayofweek(o_orderdate) + 1 = 2) THEN '1' ELSE '0' END,
             CASE WHEN bool_or(dayofweek(o_orderdate) + 1 = 3) THEN '1' ELSE '0' END,
             CASE WHEN bool_or(dayofweek(o_orderdate) + 1 = 4) THEN '1' ELSE '0' END,
             CASE WHEN bool_or(dayofweek(o_orderdate) + 1 = 5) THEN '1' ELSE '0' END,
             CASE WHEN bool_or(dayofweek(o_orderdate) + 1 = 6) THEN '1' ELSE '0' END,
             CASE WHEN bool_or(dayofweek(o_orderdate) + 1 = 7) THEN '1' ELSE '0' END
           ) AS weekdays
    FROM orders
    GROUP BY o_custkey
    """,
)
def weekday_bitstring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 analogue — per-key presence bitstring (the availability-matrix
    build: collect the category set per key, expand to a fixed-width
    bitstring; one shuffle, set semantics identical to the reference's
    bit-setting loop at ``staffing-roster-pipeline.py:94-114``)."""
    o = read_table(spark, sf_dir, "orders")
    agged = o.groupBy("o_custkey").agg(
        F.collect_set(F.dayofweek("o_orderdate")).alias("__days")
    )
    bits = F.transform(
        F.sequence(F.lit(1), F.lit(7)),
        lambda i: F.array_contains(F.col("__days"), i),
    )
    return agged.select("o_custkey", scalars.bits_to_string(bits).alias("weekdays"))


@query(
    "pivot_status_counts",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 pivot face — long→wide with a static pivot value list (never a
    value-discovery scan at scale)."""
    o = read_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(s) for s in ("F", "O", "P")],
    )


# ---------------------------------------------------------------------------
# Time rollup (streaming-shaped aggregation, batch-checked)
# ---------------------------------------------------------------------------


@query(
    "events_hourly_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup over the events table — the batch face of the
    Structured Streaming job in ibc_spark.streaming (same logical plan under
    ``readStream`` + watermark)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 10, 2)).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Analytical operators beyond the reference (ops.analytics): windows, set
# ops, rollup/cube/grouping sets, as-of + range joins
# ---------------------------------------------------------------------------

from ibc_spark.ops.analytics import (  # noqa: E402
    asof_join,
    bucketize,
    lag_lead_delta,
    rank_in_groups,
    running_total,
)


@query(
    "window_rank_top3",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(row_number() OVER w AS INT) AS rn,
           CAST(rank()       OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    QUALIFY row_number() OVER w <= 3
    """,
)
def window_rank_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per priority class: partitioned ranked window
    (row_number/rank/dense_rank). One shuffle on the partition key; never a
    global window."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return rank_in_groups(
        o,
        partition_by="o_orderpriority",
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        top_n=3,
    ).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("rn").cast("int").alias("rn"),
        F.col("rnk").cast("int").alias("rnk"),
        F.col("drnk").cast("int").alias("drnk"),
    )


@query(
    "window_lag_lead",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           lag(o_totalprice)  OVER w AS prev_value,
           lead(o_totalprice) OVER w AS next_value,
           o_totalprice - lag(o_totalprice) OVER w AS delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor values + delta per customer in order-key order (lag/lead)."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return lag_lead_delta(
        o, partition_by="o_custkey", order_by="o_orderkey", value_col="o_totalprice"
    )


@query(
    "window_running_total",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_total
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running spend per customer — exact-decimal accumulator window."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return running_total(
        o, partition_by="o_custkey", order_by="o_orderkey", value_col="o_totalprice"
    ).select("o_orderkey", "o_custkey", "running_total")


@query(
    "setop_intersect_except_union",
    oracle="""
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
         y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
    SELECT 'both' AS cohort, o_custkey FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
    UNION ALL
    SELECT 'only_1995' AS cohort, o_custkey FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
    UNION ALL
    SELECT 'either' AS cohort, o_custkey FROM (SELECT o_custkey FROM y95 UNION SELECT o_custkey FROM y96)
    """,
)
def setop_intersect_except_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION cohorts of 1995-vs-1996 buyers, stacked
    into one labeled frame (set ops are absent from the reference —
    SURVEY §2.7).

    Physical plan: the literal three-branch set-op form scans and distincts
    each cohort twice (six orders scans). Instead ONE scan aggregates
    per-custkey year flags (single shuffle), and the cohort labels explode
    from the flags — INTERSECT = both flags, EXCEPT = 95-only, UNION = any
    row of the aggregate. Same result set, 6× less I/O, no exchange to
    reuse because there is only one."""
    o = read_table(spark, sf_dir, "orders")
    flags = (
        o.where(
            (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate") < "1996-01-01").alias("in95"),
            F.max(F.col("o_orderdate") >= "1996-01-01").alias("in96"),
        )
    )
    cohorts = F.array_compact(
        F.array(
            F.when(F.col("in95") & F.col("in96"), F.lit("both")),
            F.when(F.col("in95") & ~F.col("in96"), F.lit("only_1995")),
            F.lit("either"),
        )
    )
    return flags.select(F.explode(cohorts).alias("cohort"), "o_custkey")


@query(
    "rollup_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(status, priority) with grouping id — multi-level totals in one
    pass (Spark expands grouping sets before the single shuffle)."""
    o = read_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice", 12, 2)).cast("double").alias("total_price"),
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions (all 4 grouping sets)."""
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "asof_join_last_purchase",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ),
    l AS (SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT l.click_id, l.user_id, l.ts,
           r.ts AS last_purchase_ts, r.value AS last_purchase_value
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click gets the user's latest prior (or
    simultaneous) purchase. Union-merge plan — one shuffle on user_id, one
    linear window pass; no range explosion (see ops.analytics.asof_join)."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"ts": "last_purchase_ts", "value": "last_purchase_value"},
        tiebreak_col="event_id",
    )


@query(
    "range_join_qty_buckets",
    oracle="""
    WITH buckets(lo, hi, bucket) AS (
      VALUES (0.0, 10.0, 'xs'), (10.0, 20.0, 's'), (20.0, 35.0, 'm'), (35.0, 51.0, 'l')
    )
    SELECT bucket,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM lineitem JOIN buckets ON l_quantity >= lo AND l_quantity < hi
    GROUP BY bucket
    """,
)
def range_join_qty_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval lookup of lineitem quantity into *static* buckets. The bucket
    table is a plan-time literal, so it compiles to a ``when()`` chain inside
    the scan's whole-stage codegen — no join operator at all (the broadcast
    nested-loop a literal non-equi join would produce is interpreted per row
    and was the slowest plan in the repo). A runtime bucket table is a
    broadcast non-equi join."""
    li = read_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    bucket = bucketize(
        "l_quantity",
        [(0.0, 10.0, "xs"), (10.0, 20.0, "s"), (20.0, 35.0, "m"), (35.0, 51.0, "l")],
    )
    return (
        li.select(bucket.alias("bucket"), "l_extendedprice")
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_extendedprice", 12, 2)).cast("double").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Skew mitigation (ops.skew) — same results as the plain plans (the oracle
# IS the plain SQL), different physical distribution
# ---------------------------------------------------------------------------

from ibc_spark.ops.skew import salted_agg, salted_join  # noqa: E402


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(10,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_suppkey
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (partial per (key, salt), final per
    key): the explicit fix for a hot GROUP BY key. Decimal partials make
    the re-combine exact, so the result hash-matches the unsalted oracle."""
    li = read_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        keys=["l_suppkey"],
        aggs={
            "sum_qty_dec": ("sum", dec("l_quantity", 10, 2)),
            "n_items": ("count", F.lit(1)),
        },
        n_salts=16,
        salt_on=F.col("l_orderkey"),
    )
    return out.select(
        "l_suppkey", F.col("sum_qty_dec").cast("double").alias("sum_qty"), "n_items"
    )


@query(
    "skew_salted_join",
    oracle="""
    SELECT o_orderkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim equi-join: dim replicated per salt, fact routed by a
    deterministic salt — bounds any task's share of a hot key to 1/n."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey")
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return salted_join(
        o, c, on="c_custkey", n_salts=8, fact_salt_on=F.col("o_orderkey")
    ).select("o_orderkey", "c_name")


@query(
    "sessionize_events",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM marked
    )
    SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks after 30
    idle minutes. lag → marker → running sum → group. One shuffle on
    user_id shared by both windows and the final aggregate (same
    partitioning, Catalyst reuses the exchange). Streaming face:
    the ``streaming_sessionize`` entry."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Exact-interval gap test (microsecond precision), matching the oracle's
    # `ts - lag(ts) > INTERVAL 30 MINUTE` — a cast("long") diff would truncate
    # to whole seconds and split sessions differently for sub-second gaps.
    marked = ev.withColumn(
        "new_session",
        F.when(
            prev_ts.isNull()
            | (F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "scalar_subquery_big_spenders",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s, COUNT(*) AS n
      FROM orders GROUP BY o_custkey
    ),
    thr AS (SELECT CAST(SUM(s) AS DOUBLE) / COUNT(*) AS avg_spend FROM spend)
    SELECT o_custkey, CAST(s AS DOUBLE) AS total_spend, n AS n_orders
    FROM spend, thr
    WHERE CAST(s AS DOUBLE) > 2 * avg_spend
    """,
)
def scalar_subquery_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers spending >2× the average customer: scalar-subquery shape
    as a broadcast cross join of a 1-row aggregate (never a driver
    collect). Exact-decimal sums; one deterministic double division."""
    o = read_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice", 12, 2)).alias("s"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    thr = spend.agg(
        (F.sum("s").cast("double") / F.count(F.lit(1))).alias("avg_spend")
    )
    return (
        spend.crossJoin(F.broadcast(thr))
        .where(F.col("s").cast("double") > 2 * F.col("avg_spend"))
        .select(
            "o_custkey", F.col("s").cast("double").alias("total_spend"), "n_orders"
        )
    )


@query(
    "histogram_order_values",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT) AS bin,
           COUNT(*) AS n_orders,
           CAST(MIN(o_totalprice) AS DOUBLE) AS bin_min,
           CAST(MAX(o_totalprice) AS DOUBLE) AS bin_max
    FROM orders GROUP BY 1
    """,
)
def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values — binning entirely map-side,
    one tiny shuffle over #bins groups."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("bin_min"),
            F.max("o_totalprice").cast("double").alias("bin_max"),
        )
    )


@query(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: pull a typed field out of a JSON string
    column (JVM-side get_json_object — no UDF, prunes to two columns)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


@query(
    "scd2_customer_history",
    oracle=f"""
    WITH cur AS (
      SELECT c_custkey, c_acctbal, c_mktsegment,
             DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
             TRUE AS is_current
      FROM customer
    ),
    upd AS ({_NEW_CUSTOMER}),
    changed AS (
      SELECT u.c_custkey FROM upd u JOIN cur c USING (c_custkey)
      WHERE u.c_acctbal IS DISTINCT FROM c.c_acctbal
         OR u.c_mktsegment IS DISTINCT FROM c.c_mktsegment
    )
    SELECT c_custkey, c_acctbal, c_mktsegment, valid_from,
           CASE WHEN c_custkey IN (SELECT c_custkey FROM changed)
                THEN DATE '2026-01-01' END AS valid_to,
           c_custkey NOT IN (SELECT c_custkey FROM changed) AS is_current
    FROM cur
    UNION ALL
    SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment,
           DATE '2026-01-01', CAST(NULL AS DATE), TRUE
    FROM upd u WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
    """,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 versioned upsert: changed rows are closed (valid_to set)
    and a new open version inserted; unchanged rows pass through. The
    reference only does Type-1 overwrites — this is the history-keeping
    warehouse variant (ops.mutate.scd2_apply)."""
    from ibc_spark.ops.mutate import scd2_apply

    c = read_table(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit("2020-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return scd2_apply(
        current,
        _new_customer(spark, sf_dir),
        key="c_custkey",
        compare=["c_acctbal", "c_mktsegment"],
        effective_date="2026-01-01",
    )


@query(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_custkey' AS "column", COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-column profile (null rate, cardinality, range) —
    ingest-time data quality snapshot (ops.profile)."""
    from ibc_spark.ops.profile import profile_numeric

    o = read_table(spark, sf_dir, "orders")
    return profile_numeric(o, ["o_custkey", "o_totalprice"])


@query(
    "sql_api_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def sql_api_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: the same plan authored as ``spark.sql``
    over registered views (identical Catalyst plan to the DataFrame API —
    both are the declarative front door)."""
    from ibc_spark.io_.sources import register_views

    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    )


@query(
    "udtf_explode_words",
    oracle="""
    SELECT doc_id, word, CAST(length(word) AS INT) AS word_len
    FROM (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS word
      FROM (SELECT doc_id, text FROM documents WHERE doc_id < 50)
    )
    """,
)
def udtf_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (1:N table function). Row-at-a-time Python — NOT
    the hot path (the same result is a built-in explode/split, which is how
    the engine's own tokenizers work); registered to prove the API parity
    for user-defined table functions."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, word_len: int")
    class ExplodeWords:
        def eval(self, text: str):
            for w in (text or "").split():
                yield w, len(w)

    spark.udtf.register("explode_words", ExplodeWords)
    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    d.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT doc_id, word, word_len "
        "FROM __udtf_docs, LATERAL explode_words(text)"
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, min(ts) AS fv FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS fc
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.fv GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS fp
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.fc GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click,
           round(CAST((SELECT count(*) FROM c) AS DOUBLE)
                 / greatest((SELECT count(*) FROM v), 1), 4) AS view_to_click,
           round(CAST((SELECT count(*) FROM p) AS DOUBLE)
                 / greatest((SELECT count(*) FROM c), 1), 4) AS click_to_purchase
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view -> click -> purchase): per user, the
    first click strictly AFTER the first view, then the first purchase
    strictly after that click — the product-analytics staple.

    Plan shape: ONE events scan, ONE shuffle. Each stage timestamp is a
    whole-partition conditional MIN window over user_id (no orderBy, so no
    per-window sort); the three stages chain as successive projections over
    the same partitioning, and the final count collapses one row per user.
    The oracle spells the same logic as three joined aggregate CTEs — at
    scale those are three fact scans, which is exactly what the window
    form avoids."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    fv = ev.withColumn(
        "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    fc = fv.withColumn(
        "fc",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("fv")),
                F.col("ts"),
            )
        ).over(w),
    )
    fp = fc.withColumn(
        "fp",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("fc")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = fp.select("user_id", "fv", "fc", "fp").dropDuplicates(["user_id"])
    agg = per_user.agg(
        F.count("fv").alias("n_view"),
        F.count("fc").alias("n_click_after_view"),
        F.count("fp").alias("n_purchase_after_click"),
    )
    return agg.select(
        "n_view",
        "n_click_after_view",
        "n_purchase_after_click",
        F.round(
            F.col("n_click_after_view").cast("double")
            / F.greatest(F.col("n_view"), F.lit(1)),
            4,
        ).alias("view_to_click"),
        F.round(
            F.col("n_purchase_after_click").cast("double")
            / F.greatest(F.col("n_click_after_view"), F.lit(1)),
            4,
        ).alias("click_to_purchase"),
    )


@query(
    "retention_weekly_cohorts",
    oracle="""
    WITH firstw AS (
      SELECT user_id, min(date_trunc('week', ts)) AS cohort_week FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort_week, date_trunc('week', e.ts) AS activity_week
      FROM events e JOIN firstw f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_week, activity_week) / 7 AS BIGINT) AS week_offset,
           count(*) AS n_active_users
    FROM act
    GROUP BY 1, 2
    """,
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen ISO week,
    counted once per subsequent active week — the classic retention
    triangle. Plan: one scan -> per-user first week (map-side-combining
    agg) -> join back on user_id (both sides already partitioned by
    user_id after the agg; at dim-scale the first-week side broadcasts) ->
    distinct (cohort, offset, user) -> count. Weeks are ISO Monday-start
    in both engines (Spark date_trunc and DuckDB agree)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    )
    first = ev.groupBy("user_id").agg(F.min("activity_week").alias("cohort_week"))
    act = (
        ev.join(first, on="user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .dropDuplicates(["user_id", "cohort_week", "week_offset"])
    )
    return act.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"), "week_offset"
    ).agg(F.count(F.lit(1)).alias("n_active_users"))


@query(
    "anomaly_hourly_event_volume",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, hr, n,
             avg(CAST(n AS DOUBLE)) OVER w AS mu,
             stddev_samp(CAST(n AS DOUBLE)) OVER w AS sigma,
             count(*) OVER w AS n_window
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, strftime(hr, '%Y-%m-%d %H:00') AS hour,
           n AS n_events,
           round((n - mu) / sigma, 3) AS zscore
    FROM scored
    WHERE n_window >= 12 AND sigma > 0 AND abs((n - mu) / sigma) >= 2.5
    """,
)
def anomaly_hourly_event_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts whose z-score against
    the trailing 24 observed hours (excluding the current one) exceeds
    2.5, with a 12-hour warmup before scoring — the ops-monitoring shape
    (error-rate spikes, traffic cliffs).

    Plan: one scan -> (type, hour) map-side-combining count [the only
    data-sized shuffle] -> one trailing ROWS window per event_type over
    the tiny hourly aggregate -> filter. The window state is 25 rows per
    partition regardless of event volume, so the operator's cost is the
    pre-aggregation at any scale. z means/stddevs are doubles on both
    engines; the defensive round(3) absorbs fold-order differences."""
    from pyspark.sql import Window

    hourly = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-24, -1)
    scored = hourly.select(
        "event_type",
        "hr",
        "n",
        F.avg(F.col("n").cast("double")).over(w).alias("mu"),
        F.stddev_samp(F.col("n").cast("double")).over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        scored.where(
            (F.col("n_window") >= 12) & (F.col("sigma") > 0) & (F.abs(z) >= 2.5)
        )
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
            F.col("n").alias("n_events"),
            F.round(z, 3).alias("zscore"),
        )
    )


@query(
    "window_moving_avg_range",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS day_nr,
             strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT order_date, round(revenue, 2) AS revenue,
           round(avg(revenue) OVER (ORDER BY day_nr
                                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
             AS ma7
    FROM daily
    """,
)
def window_moving_avg_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily revenue via a RANGE frame — unlike the
    ROWS frames elsewhere in the registry, the frame is defined by VALUE
    distance on the order key (missing days shrink the window instead of
    silently pulling in older rows). Daily totals are exact decimals; the
    window runs over the tiny per-day aggregate, so the only data-sized
    work is the one (day) shuffle. Single unpartitioned window over ~2400
    day rows is driver-scale by construction — partition by year if the
    day domain ever grows past task memory."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("day_nr"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    ).agg(F.sum(dec("o_totalprice", 12, 2)).cast("double").alias("revenue"))
    w = Window.orderBy("day_nr").rangeBetween(-6, 0)
    return daily.select(
        "order_date",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.avg("revenue").over(w), 4).alias("ma7"),
    )


@query(
    "grouped_exact_median",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS median,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def grouped_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group quartiles (sort-based order statistics with linear
    interpolation — both engines implement the same formula, so values
    match before the defensive round). Complements `approx_sketch_stats`:
    exact percentiles buffer each group's values, so this is the
    small-group/grouped-dimension shape; unbounded-cardinality profiling
    uses the sketch entry instead."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("median"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "forward_fill_sensor_values",
    oracle="""
    WITH masked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE round(value, 2) END AS v
      FROM events
    )
    SELECT user_id, event_id,
           round(last_value(v IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS v_filled
    FROM masked
    """,
)
def forward_fill_sensor_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling by forward fill (last observation carried forward): a
    reading is masked NULL on error events and repaired with the most
    recent non-NULL value per user in event-time order — the sensor/
    telemetry repair staple. `last(..., ignorenulls=True)` over an
    unbounded-preceding ROWS frame is Spark's LOCF idiom; one shuffle on
    the partition key, running state is a single value per partition.
    Leading NULLs (no prior observation) stay NULL by definition."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.round("value", 2))
        .alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.last("v", ignorenulls=True).over(w), 2).alias("v_filled"),
    )


@query(
    "histogram_equidepth_deciles",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi,
           COUNT(*) AS n_orders
    FROM ranked GROUP BY decile
    """,
)
def histogram_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (ntile deciles) of order values — the
    complement of `histogram_order_values`' fixed-width bins: every bin
    holds the same row count and the bin EDGES carry the information.
    Total order (value, key tiebreak) makes tile assignment deterministic
    on both engines.

    Plan (round 10 — the r10 tail sweep flagged this entry's
    single-unpartitioned-ntile as the last full-table one-task window):
    exact global rank via the two-phase range-partitioned
    ``assign_contiguous_ids`` (the `shuffle_epoch_order` /
    `curriculum_quality_order` machinery — per-partition sorts, an
    aggregate-sized offset window), then ntile's exact assignment
    arithmetic as a free projection from plan-time constants: with
    n rows, small = n div 10 and r = n mod 10, ranks up to
    r·(small+1) land in tile ceil(rank/(small+1)), the rest in
    r + ceil((rank − r·(small+1))/small) — bit-identical to
    ntile(10) OVER (ORDER BY ...) for every n (the oracle keeps the
    window spelling). One metadata-only count buys n."""
    from ibc_spark.ext import datapipe

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n = o.count()
    small, r = divmod(n, 10)
    boundary = r * (small + 1)
    ranked = datapipe.assign_contiguous_ids(
        o, order_by=["o_totalprice", "o_orderkey"], id_name="rank"
    )
    # small == 0 only when n < 10, where every rank <= boundary = n and
    # the otherwise-branch (guarded by max(small, 1)) is unreachable
    tile = F.when(
        F.col("rank") <= boundary,
        F.floor((F.col("rank") + small) / (small + 1)),
    ).otherwise(
        r + F.floor((F.col("rank") - boundary + max(small, 1) - 1) / max(small, 1))
    )
    return (
        ranked.withColumn("decile", tile.cast("int"))
        .groupBy("decile")
        .agg(
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "incremental_rollup_merge",
    oracle="""
    SELECT event_type, date_trunc('hour', ts) AS hr,
           COUNT(*) AS n_events,
           round(SUM(round(value, 2)), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the hourly rollup is kept as
    STATE and a new delta batch is merged in — state and delta are each
    aggregated separately, then combined with a full-outer merge summing
    partial counts/sums — instead of recomputing the aggregate from the
    full fact history. The oracle IS the full recompute, so the driver
    hash proves merged-state == recomputed-from-scratch (the invariant
    incremental view maintenance must keep).

    Scale rationale: at 100 TB the fact history is not rescannable per
    refresh; only the delta (here: the top ~20% of event_ids, standing in
    for "today's ingest") is scanned, and the merge cost is the size of
    the ROLLUP, not the data. Works for any commutative re-aggregable
    partials (count/sum/min/max; sketches merge the same way — see
    `approx_sketch_stats`)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.round("value", 2).alias("v"),
    )
    cutoff = ev.agg(
        F.expr("percentile_approx(event_id, 0.8, 10000)").alias("c")
    )
    with_flag = ev.join(F.broadcast(cutoff)).withColumn(
        "is_delta", F.col("event_id") > F.col("c")
    )

    def rollup(df):
        return df.groupBy("event_type", "hr").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("sum_v"),
        )

    state = rollup(with_flag.where(~F.col("is_delta")))
    delta = rollup(with_flag.where(F.col("is_delta")))
    s_cols = state.select(
        "event_type", "hr",
        F.col("n_events").alias("n_s"), F.col("sum_v").alias("v_s"),
    )
    d_cols = delta.select(
        "event_type", "hr",
        F.col("n_events").alias("n_d"), F.col("sum_v").alias("v_d"),
    )
    merged = s_cols.join(d_cols, on=["event_type", "hr"], how="full_outer")
    return merged.select(
        "event_type",
        "hr",
        (F.coalesce("n_s", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n_events"),
        F.round(
            F.coalesce("v_s", F.lit(0.0)) + F.coalesce("v_d", F.lit(0.0)), 2
        ).alias("total_value"),
    )


# Extension operators (SURVEY §7.7) register themselves on import.
from ibc_spark import registry_ext  # noqa: E402,F401  (registration side effect)

# Remaining TPC-H query shapes (correlated EXISTS/NOT EXISTS, global-scalar
# HAVING, argmax-by-aggregate, disjunctive predicates, ...).
from ibc_spark import registry_tpch  # noqa: E402,F401  (registration side effect)

# Lakehouse-maintenance / layout / graph analytics (Z-order, compaction
# planning, Gopher rules, skyline, PageRank, k-means).
from ibc_spark import registry_lakehouse  # noqa: E402,F401  (registration side effect)

# Streaming-under-oracle, frequency sketches (heavy hitters / Count-Min),
# semi-join reduction, exponential smoothing.
from ibc_spark import registry_extras  # noqa: E402,F401  (registration side effect)

# Product quantization (split from registry_extras, round 9).
from ibc_spark import registry_ext_pq  # noqa: E402,F401  (registration side effect)
