"""Analytical operators beyond the reference surface: windows, set ops,
multi-level aggregation, as-of and range joins.

The reference has none of these (SURVEY §2.7: no window functions, no set
ops, no ORDER BY). They are first-class capabilities of the Spark engine and
each gets an oracle-checked registry entry. Scale notes per operator:

- Window functions shuffle once on the partition key; never use a global
  (unpartitioned) window at scale — every query here partitions.
- As-of join is implemented as the union-merge plan: tag both sides, one
  shuffle on (key), one ordered window pass carrying the last right-side
  payload forward. This is the linear-time formulation — no range-explosion
  join, no per-row subquery — and the standard way to get point-in-time
  joins on engines without a native ASOF operator.
- Range lookups into static buckets compile to a CASE projection
  (:func:`bucketize`), no join at all. Per-interval overlap aggregates over
  two big interval sets use one sweep-line pass
  (:func:`interval_overlap_totals`), never the Ω(density²) pair set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


def rank_in_groups(
    df: DataFrame,
    *,
    partition_by: str | list[str],
    order_by: list[Column],
    top_n: int | None = None,
) -> DataFrame:
    """row_number / rank / dense_rank over a partitioned, deterministically
    ordered window; optionally keep only the top-n rows per group."""
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    w = Window.partitionBy(*parts).orderBy(*order_by)
    out = df.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )
    if top_n is not None:
        out = out.where(F.col("rn") <= top_n)
    return out


def lag_lead_delta(
    df: DataFrame,
    *,
    partition_by: str,
    order_by: str,
    value_col: str,
) -> DataFrame:
    """Previous/next value and delta-from-previous per key in event order —
    the SCD/time-series neighbor pattern."""
    w = Window.partitionBy(partition_by).orderBy(order_by)
    prev = F.lag(value_col).over(w)
    return df.select(
        "*",
        prev.alias("prev_value"),
        F.lead(value_col).over(w).alias("next_value"),
        (F.col(value_col) - prev).alias("delta"),
    )


def running_total(
    df: DataFrame,
    *,
    partition_by: str,
    order_by: str,
    value_col: str,
    precision: int = 12,
    scale: int = 2,
) -> DataFrame:
    """Running sum per key in event order. The accumulator is an exact
    DECIMAL (summation-order-independent), surfaced as DOUBLE."""
    w = (
        Window.partitionBy(partition_by)
        .orderBy(order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        "*",
        F.sum(F.col(value_col).cast(f"decimal({precision},{scale})"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


# ---------------------------------------------------------------------------
# As-of (point-in-time) join
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """For each left row, attach the payload of the latest right row with
    ``right.ts <= left.ts`` for the same key (backward as-of, boundary
    inclusive — DuckDB ``ASOF LEFT JOIN`` semantics).

    Union-merge plan: rights are deduped to one row per (key, ts) (latest
    ``tiebreak_col`` wins), both sides are tagged and unioned, and ONE
    window pass per key in (ts, side) order carries the last non-null
    payload forward onto left rows. Cost: one shuffle on ``key`` + a linear
    scan per partition — independent of how many rights precede each left
    (a range join would be quadratic in that count).
    """
    pay_dst = list(payload.values())

    r = right
    if tiebreak_col is not None:
        # one right row per (key, ts): ASOF is otherwise ambiguous when
        # several rights share the boundary timestamp.
        wdd = Window.partitionBy(key, right_ts).orderBy(F.col(tiebreak_col).desc())
        r = (
            r.withColumn("__rn", F.row_number().over(wdd))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    # The payload travels as ONE struct so `last(ignorenulls=True)` picks all
    # fields from the SAME matched right row — per-column fills would let a
    # NULL field back-fill from an older right row, mixing rows (DuckDB ASOF
    # is whole-row).
    from pyspark.sql.types import StructField, StructType

    pay_type = StructType(
        [StructField(d, right.schema[s].dataType) for s, d in payload.items()]
    )
    r = r.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(
            *[F.col(s).alias(d) for s, d in payload.items()]
        ).alias("__p"),
    )

    l = left.select(
        *left.columns,
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(pay_type).alias("__p"),
    )

    merged = l.unionByName(
        r.select(
            *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
            "__k",
            "__ts",
            "__side",
            "__p",
        )
    )
    # rights sort before lefts at equal ts (__side 0 < 1) → boundary is
    # inclusive: a right at exactly left.ts is visible to that left.
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_pay = F.last("__p", ignorenulls=True).over(w)
    filled = merged.select(
        *left.columns,
        "__side",
        *[last_pay[d].alias(d) for d in pay_dst],
    )
    return filled.where(F.col("__side") == 1).drop("__side")


# ---------------------------------------------------------------------------
# Range / interval join
# ---------------------------------------------------------------------------


def bucketize(value, buckets) -> Column:
    """Compile *static* ``[lo, hi) -> label`` buckets into a CASE projection.

    For a bucket table known at plan time, a non-equi join (even broadcast)
    runs as a BroadcastNestedLoopJoin with an interpreted predicate per
    fact row. A ``when()`` chain instead folds the lookup into the scan's
    whole-stage codegen: zero join, zero extra operator — the right plan at
    any scale. Only when the bucket table is itself data (computed at
    runtime) does it need a broadcast non-equi join.

    ``buckets`` is a sequence of ``(lo, hi, label)`` triples; values outside
    every bucket map to NULL (caller filters for inner-join semantics).
    """
    v = F.col(value) if isinstance(value, str) else value
    chain = None
    for lo, hi, label in buckets:
        cond = (v >= F.lit(lo)) & (v < F.lit(hi))
        chain = F.when(cond, F.lit(label)) if chain is None else chain.when(cond, F.lit(label))
    if chain is None:
        return F.lit(None).cast("string")
    return chain


def interval_overlap_totals(
    left: DataFrame,
    right: DataFrame,
    *,
    left_keys: list[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    partitions: int = 32,
) -> DataFrame:
    """Per-LEFT-interval overlap AGGREGATES against every RIGHT interval —
    ``n_overlaps`` and ``total_overlap`` (endpoint units) — WITHOUT
    enumerating the overlapping pairs.

    The pair set of a key-free overlap query is Ω(density²): at 10× the
    temporal density there are 100× overlapping pairs, so any
    pair-producing plan (including a grid-bucketed equi-join, optimal when
    the pairs ARE the output) goes quadratic when only per-interval
    aggregates are needed — measured 2 s → 228 s from sf0.1 → sf1 in the
    round-8 scale sweep. This is the O(n log n) sweep-line formulation
    instead: with prefix counts/sums over right starts (``C_s``/``S_s``)
    and right ends (``C_e``/``S_e``), a left interval [s, e] has

        n  = C_s(e) − C_e(<s)                       (starts before my end,
                                                     minus ended before my start)
        Σ min(e, r_e) = (S_e(≤e) − S_e(<s)) + e·(n − (C_e(≤e) − C_e(<s)))
        Σ max(s, r_s) = (S_s(≤e) − S_s(<s)) + s·(n − (C_s(≤e) − C_s(<s)))
        total = Σ min − Σ max

    Every prefix value is read off ONE ordered pass: right endpoints
    become measure points (tb=0), each left row two query markers (tb=+1
    at e for the inclusive ≤ reads, tb=−1 at s for the strict < reads),
    and running sums ordered by (x, tb) evaluate all eight prefixes at
    once. The global order uses the ``assign_contiguous_ids`` two-phase
    shape — range-repartition + per-partition running sums + an
    aggregate-sized (≤``partitions`` rows) offset window — never a
    single-task global window.

    Endpoint columns must be int64-comparable (e.g. epoch micros);
    ``left_keys`` must uniquely key ``left``, and all columns must be
    non-null. Running Σ of raw epoch values overflows int64 (1.7e15 µs ×
    1e6 rows), so the four running sums ride decimal(38,0) and only the
    final pair-bounded difference casts back to long. Rows with zero
    overlaps are omitted (inner-join semantics, matching the naive pair
    plan). Intervals are closed; touching endpoints overlap with measure 0.
    """
    from ibc_spark.ext.persistreg import persist_tracked

    zero_l = F.lit(0).cast("long")
    zero_d = F.lit(0).cast("decimal(38,0)")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731

    rs, re_ = F.col(right_start).cast("long"), F.col(right_end).cast("long")
    pts = right.select(
        rs.alias("x"), F.lit(0).alias("tb"),
        F.lit(1).cast("long").alias("c_s"), rs.cast("decimal(38,0)").alias("s_s"),
        zero_l.alias("c_e"), zero_d.alias("s_e"),
    ).unionByName(
        right.select(
            re_.alias("x"), F.lit(0).alias("tb"),
            zero_l.alias("c_s"), zero_d.alias("s_s"),
            F.lit(1).cast("long").alias("c_e"), re_.cast("decimal(38,0)").alias("s_e"),
        )
    )
    ls, le = F.col(left_start).cast("long"), F.col(left_end).cast("long")
    marks = left.select(
        *left_keys, ls.alias("__ls"), le.alias("__le"),
        le.alias("x"), F.lit(1).alias("tb"),
    ).unionByName(
        left.select(
            *left_keys, ls.alias("__ls"), le.alias("__le"),
            ls.alias("x"), F.lit(-1).alias("tb"),
        )
    )
    stream = pts.unionByName(marks, allowMissingColumns=True)

    ranged = persist_tracked(
        stream.repartitionByRange(partitions, F.col("x"), F.col("tb")).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    measures = ["c_s", "s_s", "c_e", "s_e"]
    w = (
        Window.partitionBy("__pid")
        .orderBy("x", "tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = ranged.select(
        "*", *[F.sum(F.coalesce(F.col(m), F.lit(0))).over(w).alias(f"r_{m}") for m in measures]
    )
    # aggregate-sized exclusive prefix over per-partition totals (≤
    # `partitions` rows — bounded by construction, like assign_contiguous_ids)
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("__pid")
        .agg(*[F.sum(F.coalesce(F.col(m), F.lit(0))).alias(f"t_{m}") for m in measures])
        .select(
            "__pid",
            *[
                F.coalesce(F.sum(f"t_{m}").over(woff), zero_d if m.startswith("s") else zero_l).alias(f"o_{m}")
                for m in measures
            ],
        )
    )
    glob = run.where(F.col("tb") != 0).join(F.broadcast(offsets), "__pid").select(
        *left_keys, "__ls", "__le", "tb",
        *[(F.col(f"r_{m}") + F.col(f"o_{m}")).alias(f"g_{m}") for m in measures],
    )
    # each left key contributes exactly two marker rows (tb=+1 at e,
    # tb=-1 at s): fold them with ONE groupBy instead of a hi⋈lo
    # self-join, which would evaluate the expensive running-sum window
    # stage once per join side (review r8)
    def side(prefix: str, tb_val: int):
        return [
            F.max(F.when(F.col("tb") == tb_val, F.col(f"g_{m}"))).alias(
                f"{prefix}_{m}"
            )
            for m in measures
        ]

    agg = glob.groupBy(*left_keys).agg(
        F.max("__ls").alias("__ls"),
        F.max("__le").alias("__le"),
        *side("hi", 1),
        *side("lo", -1),
    )
    n = F.col("hi_c_s") - F.col("lo_c_e")
    sum_min = (F.col("hi_s_e") - F.col("lo_s_e")) + dec("__le") * (
        n - (F.col("hi_c_e") - F.col("lo_c_e"))
    )
    sum_max = (F.col("hi_s_s") - F.col("lo_s_s")) + dec("__ls") * (
        n - (F.col("hi_c_s") - F.col("lo_c_s"))
    )
    return agg.where(n > 0).select(
        *left_keys,
        n.alias("n_overlaps"),
        (sum_min - sum_max).cast("long").alias("total_overlap"),
    )
