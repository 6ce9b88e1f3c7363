"""Validation with quarantine — F1–F5 and the errors-as-data convention.

The reference validates row-by-row and splits valid/invalid lists with a
reason string (``row_is_valid`` ``staffing-roster-pipeline.py:60-73``,
``project_row_valid`` ``projects-pipeline.py:87-93``, split loops at
``staffing-roster-pipeline.py:235-254`` / ``projects-pipeline.py:351-360``),
and signals failures with exceptions from the E001–E005 taxonomy
(``errors.py:1-25``). The engine makes errors *data*: one pass computes a
``_reason``/``_error_code`` pair per row; the valid frame is the NULL-reason
complement. Both frames are filters of one tagged frame — no driver round
trips, partition-parallel at any scale; a caller that consumes both sides
passes ``cache=True`` to scan its input once.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ibc_spark.ops.scalars import is_blank

# Error taxonomy parity (reference errors.py:1-25).
E_DATA_CONFLICT = "E001"
E_AUTHORIZATION = "E002"  # defined-but-never-raised in the reference; kept for parity
E_INVALID_FORMAT = "E003"
E_DB_CONNECTION = "E004"
E_SHEET_READ = "E005"

REASON_COL = "_reason"
ERROR_CODE_COL = "_error_code"


@dataclass(frozen=True)
class ValidationSplit:
    """Valid rows + quarantine (invalid rows with reason/error_code)."""

    valid: DataFrame
    quarantine: DataFrame


def missing_required_reason(required: list[str]) -> Column:
    """Reason string for missing required columns, reference message shape
    ``Missing required columns: X, Y`` (``staffing-roster-pipeline.py:62-73``)."""
    missing = F.array_compact(
        F.array(*[F.when(is_blank(c), F.lit(c)) for c in required])
    )
    return F.when(
        F.size(missing) > 0,
        F.concat(F.lit("Missing required columns: "), F.array_join(missing, ", ")),
    )


def validate_split(
    df: DataFrame,
    required: list[str],
    *,
    extra_rules: list[tuple[Column, str]] | None = None,
    error_code: str = E_INVALID_FORMAT,
    cache: bool = False,
) -> ValidationSplit:
    """F1/F2/F3 — split into valid / quarantine with captured reasons.

    ``extra_rules`` is a list of ``(violation_predicate, reason)`` applied
    after the required-field check; the first matching rule wins (the
    reference reports one reason per row).

    ``cache`` defaults to False — a library caller at 100 TB must opt into
    materialization. The projects pipeline (E2), which consumes BOTH sides
    of a small sheet batch, passes ``cache=True``; the roster pipeline (E1)
    caches its deduplicated batch upstream and keeps the default.
    """
    reason = missing_required_reason(required)
    for predicate, msg in extra_rules or []:
        reason = F.coalesce(reason, F.when(predicate, F.lit(msg)))

    tagged = df.withColumn(REASON_COL, reason).withColumn(
        ERROR_CODE_COL, F.when(F.col(REASON_COL).isNotNull(), F.lit(error_code))
    )
    if cache:
        tagged = tagged.cache()
    valid = tagged.where(F.col(REASON_COL).isNull()).drop(REASON_COL, ERROR_CODE_COL)
    quarantine = tagged.where(F.col(REASON_COL).isNotNull())
    return ValidationSplit(valid=valid, quarantine=quarantine)


def quarantine_frame(df: DataFrame) -> DataFrame:
    """Canonical quarantine schema (FIXTURES.md §4): the source row as a JSON
    string plus error_code + reason. Keeps quarantine writable to any sink
    regardless of source schema drift."""
    payload = [c for c in df.columns if c not in (REASON_COL, ERROR_CODE_COL)]
    return df.select(
        F.to_json(F.struct(*payload)).alias("source_row"),
        F.col(ERROR_CODE_COL).alias("error_code"),
        F.col(REASON_COL).alias("reason"),
    )
