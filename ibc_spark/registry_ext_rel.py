"""Relational/profiling/data-quality registry entries (split from
registry_ext, round 8 — VERDICT r7 #7): percentile trims, MAD anomaly
detection, vocabulary coverage, JSON variant extraction, contiguous
ids, grouping sets, attribution, DQ expectations/gaps, drift KL,
multiset ops, lateral top-N, window navigation, interval sessions.
Entry names and oracles unchanged.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ibc_spark.ext import dedup, multimodal, similarity, text  # noqa: F401
from ibc_spark.io_.sources import read_table  # noqa: F401
from ibc_spark.registry_core import query  # noqa: F401
from ibc_spark.registry_ext_base import (  # noqa: F401
    _AUG_SQL,
    _FOLD_SUM_D,
    _PLANT_SQL,
    _PLANTED_PAIRS,
    _SHINGLES,
    _TOKS,
    _augmented_embeddings,
    _cos_sql,
    _planted_embeddings,
    _planted_lsh_pairs,
)

@query(
    "docs_length_trim_percentile",
    oracle="""
    WITH pr AS (
      SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr
      FROM documents
    )
    SELECT doc_id, source, n_chars, round(pr, 6) AS pr
    FROM pr WHERE pr.pr >= 0.05 AND pr.pr <= 0.95
    """,
)
def docs_length_trim_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-percentile trim: drop each source's shortest and
    longest 5% of documents (boilerplate stubs and concatenation
    monsters) by exact percent_rank. percent_rank = (rank-1)/(n-1) is the
    same exact double in every engine (integer inputs), so the boundary
    filter needs no epsilon.

    Scale note: exact per-source percentiles sort each source partition
    (one window shuffle). At 100 TB the same trim runs on
    approx_percentile cutoffs (two map-side passes, no sort) — the exact
    window form is kept here because the oracle contract demands exact
    equality; swap the rank source, not the shape."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars")
    pr = d.select(
        "doc_id", "source", "n_chars", F.percent_rank().over(w).alias("pr")
    )
    return pr.where((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95)).select(
        "doc_id", "source", "n_chars", F.round("pr", 6).alias("pr")
    )


@query(
    "anomaly_mad_event_volume",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, quantile_cont(CAST(n AS DOUBLE), 0.5) AS med
      FROM hourly GROUP BY event_type
    ),
    mad AS (
      SELECT h.event_type, min(m.med) AS med,
             quantile_cont(abs(CAST(h.n AS DOUBLE) - m.med), 0.5) AS mad
      FROM hourly h JOIN med m USING (event_type)
      GROUP BY h.event_type
    )
    SELECT h.event_type, strftime(h.hr, '%Y-%m-%d %H:00') AS hour,
           h.n AS n_events,
           round((h.n - d.med) / (1.4826 * d.mad), 3) AS robust_z
    FROM hourly h JOIN mad d USING (event_type)
    WHERE d.mad > 0 AND abs((h.n - d.med) / (1.4826 * d.mad)) >= 3.5
    """,
)
def anomaly_mad_event_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST volume-anomaly detection via median absolute deviation: hours
    whose count deviates from the event-type median by more than 3.5
    robust z units (MAD x 1.4826 estimates sigma under normality). The
    companion to the trailing z-score entry: mean/stddev scores are
    themselves dragged by the outliers they hunt, so heavy-tailed volumes
    (exactly what incidents look like) need the median-based form.

    Plan: one scan -> (type, hour) map-side-combining count [the only
    data-sized shuffle] -> two EXACT-percentile aggregations over the tiny
    hourly frame with broadcast joins back. Percentile interpolation is
    the same formula in both engines, so med/mad match bit-for-bit before
    the defensive round."""
    hourly = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(CAST(n AS DOUBLE), 0.5)").alias("med")
    )
    j = hourly.join(F.broadcast(med), on="event_type")
    mad = j.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.expr("percentile(abs(CAST(n AS DOUBLE) - med), 0.5)").alias("mad"),
    )
    rz = (F.col("n") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        hourly.join(F.broadcast(mad), on="event_type")
        .where((F.col("mad") > 0) & (F.abs(rz) >= 3.5))
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
            F.col("n").alias("n_events"),
            F.round(rz, 3).alias("robust_z"),
        )
    )


@query(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tf AS (
      SELECT term, count(*) AS cnt
      FROM (SELECT unnest({_TOKS}) AS term FROM documents)
      GROUP BY term
    ),
    c AS (
      SELECT term, cnt,
             sum(cnt) OVER (ORDER BY cnt DESC, term
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER () AS total,
             row_number() OVER (ORDER BY cnt DESC, term) AS rnk
      FROM tf
    )
    SELECT rnk, term, cnt, round(CAST(cum AS DOUBLE) / total, 6) AS cum_share
    FROM c WHERE rnk <= 50
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the top-50 terms by frequency with the
    CUMULATIVE share of all token occurrences they cover — the plot that
    sizes a vocabulary (how many types cover 95% of tokens?) and flags
    boilerplate-dominated corpora (curve saturates absurdly early).

    Plan: explode -> term count (the one data-sized shuffle, map-side
    combining) -> running total over the frequency-ranked VOCABULARY
    (aggregate-sized; the single-task window is over types, not tokens,
    and is explicitly bounded to the head of the curve). Ties are ordered
    (cnt DESC, term) so the rank and running sum are deterministic in
    both engines; cum/total is one exact integer division per row."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(text.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = [F.col("cnt").desc(), F.col("term").asc()]
    wcum = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    curve = tf.select(
        F.row_number().over(Window.orderBy(*order)).alias("rnk"),
        "term",
        "cnt",
        (
            F.sum("cnt").over(wcum).cast("double")
            / F.sum("cnt").over(Window.partitionBy())
        ).alias("share"),
    )
    return curve.where(F.col("rnk") <= 50).select(
        "rnk", "term", "cnt", F.round("share", 6).alias("cum_share")
    )


@query(
    "json_variant_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           json_extract_string(props, '$.k') AS k_str,
           CASE WHEN json_valid(props)
                THEN 'OBJECT<k: BIGINT>' ELSE NULL END AS v_type
    FROM events
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4, SPARK-45891):
    ``parse_json`` ONCE into an open-schema binary-encoded value, then
    multiple typed ``variant_get`` extractions — the modern replacement
    for repeated ``get_json_object`` calls, which re-parse the JSON string
    per extraction (one parse per field per row at 100 TB vs one parse
    per row here; with many extracted fields the difference is the scan's
    CPU budget). ``schema_of_variant``/``typeof`` gives cheap shape
    telemetry on ingest.

    DuckDB has no VARIANT; the oracle extracts the same typed values from
    the JSON text directly — identical results, which is the point: the
    variant is an encoding, not a semantic."""
    ev = read_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_value"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.schema_of_variant(v).alias("v_type"),
    )


@query(
    "assign_contiguous_ids",
    oracle="""
    SELECT doc_id, n_chars,
           row_number() OVER (ORDER BY n_chars, doc_id) AS new_id
    FROM documents
    """,
)
def assign_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous corpus id assignment in (n_chars, doc_id) order — but via
    the two-phase range-partitioned rank of
    ``ext.datapipe.assign_contiguous_ids``, NOT the oracle's
    ``row_number() OVER (ORDER BY ...)``, which funnels the whole corpus
    through one task. Offsets come from per-partition counts (an
    aggregate-sized window), so each partition sorts only its slice; the
    result equals the global rank regardless of the sampled range
    boundaries."""
    from ibc_spark.ext.datapipe import assign_contiguous_ids as _ids

    d = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return _ids(d, order_by=["n_chars", "doc_id"], id_name="new_id")


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third multi-dimensional aggregation
    face next to the rollup/cube entries: exactly the (priority), (status),
    and grand-total groupings, no cross products. Spark plans all sets in
    ONE Expand + single aggregation pass over one scan (not one scan per
    set, which is what a UNION ALL of three GROUP BYs pays). Money sums go
    through the pinned-scale DECIMAL cast (registry.py determinism rule)."""
    o = read_table(spark, sf_dir, "orders")
    g = (
        o.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return g.select(
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        "revenue",
        "n_orders",
    )


@query(
    "attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, event_id AS click_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    j AS (
      SELECT p.purchase_id, p.user_id, c.click_id, c.c_ts
      FROM p LEFT JOIN c
        ON p.user_id = c.user_id
       AND c.c_ts <= p.p_ts AND c.c_ts > p.p_ts - INTERVAL 1 HOUR
    ),
    r AS (
      SELECT purchase_id, user_id, click_id,
             row_number() OVER (PARTITION BY purchase_id
                                ORDER BY c_ts DESC, click_id DESC) AS rn,
             count(click_id) OVER (PARTITION BY purchase_id) AS n_clicks_in_window
      FROM j
    )
    SELECT purchase_id, user_id,
           click_id AS attributed_click, n_clicks_in_window
    FROM r WHERE rn = 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the LAST click by the
    same user within the preceding hour (NULL when none) — the
    bounded-lookback as-of shape marketing/conversion pipelines run, which
    plain as-of joins (unbounded lookback, see `asof_join_last_purchase`)
    don't express.

    Plan: purchases x clicks equi-join ON user_id with the hour band as a
    join-level range predicate (the shuffle keys on user_id; the band
    prunes inside the join), then ONE aggregation with `max_by` keyed on
    (c_ts, click_id) — argmax without a second window pass, deterministic
    under same-timestamp ties via the id tiebreak. At 100 TB, user_id is
    the natural co-partitioning for both legs, and AQE handles power-user
    skew."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return j.groupBy("purchase_id", "user_id").agg(
        F.max_by("click_id", F.struct(F.col("c_ts"), F.col("click_id"))).alias(
            "attributed_click"
        ),
        F.count("click_id").alias("n_clicks_in_window"),
    )


@query(
    "dq_expectations_orders",
    oracle="""
    SELECT 'totalprice_positive' AS check_name,
           count(*) FILTER (WHERE o_totalprice <= 0 OR o_totalprice IS NULL)
             AS n_violations,
           count(*) FILTER (WHERE o_totalprice <= 0 OR o_totalprice IS NULL) = 0
             AS passed
    FROM orders
    UNION ALL
    SELECT 'orderdate_in_range',
           count(*) FILTER (WHERE o_orderdate < DATE '1992-01-01'
                               OR o_orderdate > DATE '1998-12-31'
                               OR o_orderdate IS NULL),
           count(*) FILTER (WHERE o_orderdate < DATE '1992-01-01'
                               OR o_orderdate > DATE '1998-12-31'
                               OR o_orderdate IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'custkey_not_null',
           count(*) FILTER (WHERE o_custkey IS NULL),
           count(*) FILTER (WHERE o_custkey IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'orderkey_unique',
           count(*) - count(DISTINCT o_orderkey),
           count(*) - count(DISTINCT o_orderkey) = 0
    FROM orders
    UNION ALL
    SELECT 'status_in_domain',
           count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                               OR o_orderstatus IS NULL),
           count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                               OR o_orderstatus IS NULL) = 0
    FROM orders
    """,
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality EXPECTATIONS report (dbt-tests / Great-Expectations
    shape): declarative per-column checks — positivity, date range,
    NOT NULL, key uniqueness, value domain — evaluated in ONE scan and
    ONE aggregation as conditional counts, emitted as data
    (check_name, n_violations, passed), never as exceptions. The
    violations-as-rows convention matches the engine's quarantine
    philosophy: quality gates feed dashboards and circuit breakers, not
    stack traces.

    Plan: all non-distinct checks fold into a single aggregate pass over
    one scan (conditional sums); the uniqueness check shares the same
    aggregate via count vs count_distinct. The union of 5 one-row frames
    is driver-trivial. At 100 TB this is the footprint of ONE full scan —
    the minimum any audit pays."""
    o = read_table(spark, sf_dir, "orders")

    def viol(cond):  # violation counter: count rows failing the expectation
        return F.sum(F.when(cond, 1).otherwise(0))

    agg = o.agg(
        viol(F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)).alias(
            "v_price"
        ),
        viol(
            F.col("o_orderdate").isNull()
            | (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
            | (F.col("o_orderdate") > F.lit("1998-12-31").cast("date"))
        ).alias("v_date"),
        viol(F.col("o_custkey").isNull()).alias("v_cust"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_uniq"),
        viol(
            F.col("o_orderstatus").isNull()
            | ~F.col("o_orderstatus").isin("O", "F", "P")
        ).alias("v_dom"),
    )
    checks = [
        ("totalprice_positive", "v_price"),
        ("orderdate_in_range", "v_date"),
        ("custkey_not_null", "v_cust"),
        ("orderkey_unique", "v_uniq"),
        ("status_in_domain", "v_dom"),
    ]
    frames = [
        agg.select(
            F.lit(name).alias("check_name"),
            F.col(col).cast("long").alias("n_violations"),
            (F.col(col) == 0).alias("passed"),
        )
        for name, col in checks
    ]
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionByName(f2)
    return out


@query(
    "dq_hourly_gaps",
    oracle="""
    WITH ev AS (  -- planted outage: drop hour-07 events so the audit has
                  -- a non-empty finding at every SF (testdata is gapless)
      SELECT ts FROM events WHERE extract(hour FROM ts) <> 7
    ),
    bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM ev
    ),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM bounds
    ),
    seen AS (
      SELECT DISTINCT date_trunc('hour', ts) AS hr FROM ev
    )
    SELECT strftime(g.hr, '%Y-%m-%d %H:00') AS missing_hour
    FROM grid g LEFT JOIN seen s ON g.hr = s.hr
    WHERE s.hr IS NULL
    """,
)
def dq_hourly_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/completeness audit: hours with ZERO events between the
    stream's first and last hour — the silent-pipeline detector (a feed
    that stops emitting produces no error rows for validators to catch;
    only the hole in the time grid shows it).

    Plan: the expected grid comes from ONE min/max aggregate exploded
    through `sequence()` (a one-row driver-free frame), LEFT ANTI joined
    against the distinct observed hours — grid rows broadcast; the only
    data-sized op is the distinct-hour aggregation. The testdata stream is
    gapless, so a deterministic outage is planted (hour-07 events dropped
    in both engines) to keep the finding non-empty at every SF."""
    ev = read_table(spark, sf_dir, "events").where(F.hour("ts") != 7)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    seen = ev.select(F.date_trunc("hour", F.col("ts")).alias("hr")).distinct()
    return (
        grid.join(seen, on="hr", how="left_anti")
        .select(F.date_format("hr", "yyyy-MM-dd HH:00").alias("missing_hour"))
    )


@query(
    "drift_source_mix_kl",
    oracle="""
    WITH a AS (
      SELECT source, count(*) AS n FROM documents WHERE doc_id % 2 = 0 GROUP BY source
    ),
    b AS (
      SELECT source, count(*) AS n FROM documents WHERE doc_id % 2 = 1 GROUP BY source
    ),
    tot AS (
      SELECT (SELECT sum(n) FROM a) AS ta, (SELECT sum(n) FROM b) AS tb
    ),
    j AS (
      SELECT coalesce(a.source, b.source) AS source,
             CAST(coalesce(a.n, 0) AS DOUBLE) / ta AS p_ref,
             CAST(coalesce(b.n, 0) AS DOUBLE) / tb AS p_new
      FROM a FULL OUTER JOIN b ON a.source = b.source CROSS JOIN tot
    )
    SELECT source,
           round(p_ref, 6) AS share_ref,
           round(p_new, 6) AS share_new,
           round(CASE WHEN p_new > 0 AND p_ref > 0
                      THEN p_new * ln(p_new / p_ref) ELSE NULL END, 6)
             AS kl_term
    FROM j
    """,
)
def drift_source_mix_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-drift monitor: per-source share in a reference snapshot vs a
    new snapshot (here the even/odd doc-id halves as the deterministic
    stand-in for yesterday/today), with each source's KL-divergence term
    p_new·ln(p_new/p_ref) — the alarm metric that catches one domain
    silently flooding or vanishing from the mix between crawls. NULL term
    where a source is absent on either side (those alarm on presence, not
    magnitude).

    Plan: two map-side-combining counts off one scan (the halves are
    disjoint filters), FULL OUTER join of the tiny per-source aggregates,
    normalizers as one-row broadcasts. Corpus is scanned once per half —
    at 100 TB the halves are separate snapshot partitions and each side
    reads only its own files."""
    d = read_table(spark, sf_dir, "documents")
    a = d.where(F.col("doc_id") % 2 == 0).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_a")
    )
    b = d.where(F.col("doc_id") % 2 == 1).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    ta = a.agg(F.sum("n_a").alias("ta"))
    tb = b.agg(F.sum("n_b").alias("tb"))
    j = (
        a.join(b, on="source", how="full_outer")
        .join(F.broadcast(ta))
        .join(F.broadcast(tb))
        .select(
            "source",
            (F.coalesce("n_a", F.lit(0)).cast("double") / F.col("ta")).alias("p_ref"),
            (F.coalesce("n_b", F.lit(0)).cast("double") / F.col("tb")).alias("p_new"),
        )
    )
    kl = F.when(
        (F.col("p_new") > 0) & (F.col("p_ref") > 0),
        F.col("p_new") * F.log(F.col("p_new") / F.col("p_ref")),
    )
    return j.select(
        "source",
        F.round("p_ref", 6).alias("share_ref"),
        F.round("p_new", 6).alias("share_new"),
        F.round(kl, 6).alias("kl_term"),
    )


@query(
    "setop_all_multiset",
    oracle="""
    WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
    b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'intersect_all' AS op, o_custkey, count(*) AS multiplicity
    FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
    GROUP BY o_custkey
    UNION ALL
    SELECT 'except_all', o_custkey, count(*)
    FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
    GROUP BY o_custkey
    """,
)
def setop_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations (INTERSECT ALL / EXCEPT ALL): duplicate-
    preserving cohort comparison — min(m_a, m_b) respectively
    max(m_a - m_b, 0) copies per key — which the DISTINCT set-op entry
    (`setop_intersect_except_union`) cannot express and naive dedup-first
    rewrites get wrong. Spark plans both via Generate(replicate_rows) over
    a counted aggregate, not a quadratic join.

    The multiplicity aggregation on top makes the result order-free and
    keeps the driver hash stable (raw ALL output is a bag)."""
    o = read_table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    ia = (
        a.intersectAll(b)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "o_custkey", "multiplicity")
    )
    ea = (
        a.exceptAll(b)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "o_custkey", "multiplicity")
    )
    return ia.unionByName(ea)


@query(
    "lateral_top_lineitems",
    oracle="""
    SELECT o.o_orderkey, l.l_linenumber, l.price
    FROM (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') o,
    LATERAL (
      SELECT l_linenumber, CAST(l_extendedprice AS DOUBLE) AS price
      FROM lineitem
      WHERE l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber
      LIMIT 2
    ) l
    """,
)
def lateral_top_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per urgent order, its 2 highest-value
    line items — the SQL-API spelling of grouped top-k (a correlated
    per-row subquery with its own ORDER BY/LIMIT), which Spark decorrelates
    into the same ranked-window plan the DataFrame form produces rather
    than executing N subqueries. Registered through `spark.sql` over temp
    views to pin the LATERAL surface itself."""
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, l.l_linenumber, l.price
        FROM (SELECT o_orderkey FROM v_orders
              WHERE o_orderpriority = '1-URGENT') o,
        LATERAL (
          SELECT l_linenumber, CAST(l_extendedprice AS DOUBLE) AS price
          FROM v_lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber
          LIMIT 2
        ) l
        """
    )


@query(
    "window_navigation_suite",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(CASE WHEN o_orderstatus = 'O' THEN o_orderdate END IGNORE NULLS)
             OVER w AS first_open_date,
           nth_value(o_orderdate, 3) OVER w AS third_order_date,
           lag(o_totalprice, 1, -1.0) OVER w AS prev_price,
           round(cume_dist() OVER w, 6) AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_navigation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window NAVIGATION functions over the per-customer order timeline —
    the faces of SURVEY §2.7's window family the rank/lag/running entries
    don't yet pin: FIRST_VALUE ... IGNORE NULLS (first open-order date,
    skipping non-'O' rows), NTH_VALUE (third order date, NULL until it
    exists), LAG with an explicit default, and CUME_DIST.

    One window spec, partitioned by customer (shuffle on o_custkey only,
    parallel across customers — no global window). The ordering key
    includes the unique o_orderkey, so RANGE-frame peer groups are
    singletons and both engines' default frames agree exactly."""
    o = read_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first_value(
            F.when(F.col("o_orderstatus") == "O", F.col("o_orderdate")), True
        ).over(w).alias("first_open_date"),
        F.nth_value("o_orderdate", 3).over(w).alias("third_order_date"),
        F.lag("o_totalprice", 1, -1.0).over(w).alias("prev_price"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "interval_overlap_sessions",
    oracle="""
    WITH cs AS (
      SELECT user_id AS ua, CAST(ts AS DATE) AS d, min(ts) AS cs_s, max(ts) AS cs_e
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    ps AS (
      SELECT user_id AS ub, CAST(ts AS DATE) AS d2, min(ts) AS ps_s, max(ts) AS ps_e
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    pairs AS (
      SELECT cs.ua, cs.d,
             epoch_us(least(cs.cs_e, ps.ps_e)) - epoch_us(greatest(cs.cs_s, ps.ps_s)) AS ov_us
      FROM cs JOIN ps ON cs.cs_s <= ps.ps_e AND ps.ps_s <= cs.cs_e
    )
    SELECT ua AS user_id, d AS day, count(*) AS n_overlaps,
           CAST(sum(ov_us) AS BIGINT) AS total_overlap_us
    FROM pairs GROUP BY ua, d
    """,
)
def interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-FREE interval-overlap AGGREGATES: per click-session (user×day
    span of clicks), how many purchase-sessions — of ANY user — overlap
    it in time, and the summed overlap (co-activity analysis: ad-exposure
    windows, incident blast radius, concurrent-session pricing).

    Round 8 rewrote this from a grid-bucketed pair join to the SWEEP-LINE
    prefix-sum plan (`ops.analytics.interval_overlap_totals`): the pair set of a
    key-free overlap query is Ω(density²) — the r8 scale sweep measured
    the pair plan at 2 s → 228 s from sf0.1 → sf1 (exponent 2.06, the
    round's one super-linear entry) — but the AGGREGATES need no pairs:
    counts and summed overlaps read off eight prefix values per session
    in one range-partitioned ordered pass (exponent ~linear after the
    rewrite; the sweep table in COVERAGE.md records both). A grid-bucketed
    equi-join is the operator for when the pairs themselves are the output.
    The DuckDB oracle still runs the naive inequality join + group-by
    (fine at oracle SF), so the sweep-line algebra is hash-attested."""
    from ibc_spark.ops.analytics import interval_overlap_totals

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")

    def sess(etype: str, uid: str, day: str, s: str, e: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy(F.col("user_id").alias(uid), F.to_date("ts").alias(day))
            .agg(
                F.unix_micros(F.min("ts")).alias(s),
                F.unix_micros(F.max("ts")).alias(e),
            )
        )

    cs = sess("click", "ua", "d", "cs_s", "cs_e")
    ps = sess("purchase", "ub", "d2", "ps_s", "ps_e")
    agg = interval_overlap_totals(
        cs,
        ps,
        left_keys=["ua", "d"],
        left_start="cs_s",
        left_end="cs_e",
        right_start="ps_s",
        right_end="ps_e",
    )
    return agg.select(
        F.col("ua").alias("user_id"),
        F.col("d").alias("day"),
        "n_overlaps",
        F.col("total_overlap").alias("total_overlap_us"),
    )


