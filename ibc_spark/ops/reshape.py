"""Reshape operators — A2 availability matrix and U3/K7 unpivot (SURVEY §2.4).

The reference's one real reshape is ``build_availability_sql_columns``
(``staffing-roster-pipeline.py:89-115``): 30 sheet time-slot columns whose
cells are comma-separated day lists → 7 per-day 30-bit availability
bitstrings. Per-row Python there; here a row-local projection (tokenize each
slot cell once, then one bitstring per day), no UDF, no shuffle, fully
partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DAYS = ("monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday")
DAY_SHORT = ("mon", "tue", "wed", "thu", "fri", "sat", "sun")


def slots_to_availability(
    df: DataFrame,
    *,
    slot_cols: list[str] | None = None,
    slot_marker: str = "GMT-0600",
    n_slots: int = 30,
) -> DataFrame:
    """A2 — replace the slot columns by the slot×day availability matrix:
    7 bitstring columns ``availability_{mon..sun}``, appended.

    Slot discovery: the reference takes slot columns from the FIRST row and
    assumes exactly 30 (``:90-93`` — >30 would IndexError). Here the slot
    list comes from the schema (sound for ragged input) and is validated
    loudly. Slot index = lexicographic rank of the column name (``:92``).
    Unknown day tokens are ignored (``:100-113``); day match is
    case-insensitive after trim. Bits past the last slot column are ``0``.

    Plan shape: two narrow projections. The first tokenizes every slot cell
    once into ``array<array<string>>``; the second maps that array to one
    ``'0'/'1'`` string per day, right-padded to ``n_slots``. Each row's bits
    depend only on its own cells, so there is no explode, no shuffle and no
    join back to the input.
    """
    if slot_cols is None:
        slot_cols = [c for c in df.columns if slot_marker in c]
    slot_cols = sorted(slot_cols)
    if len(slot_cols) > n_slots:
        raise ValueError(
            f"{len(slot_cols)} slot columns exceed the {n_slots}-slot layout: {slot_cols}"
        )
    if not slot_cols:
        # Reference behavior: no slot columns → all-zero availability, not a
        # failure (empty slot list at ``staffing-roster-pipeline.py:90-93``).
        zeros = F.lit("0" * n_slots)
        return df.withColumns({f"availability_{short}": zeros for short in DAY_SHORT})

    # ``split_trim_lower`` semantics for every non-empty token: trimming the
    # cell and the spaces around each comma trims every token, and lowering
    # the cell lowers every token. Empty tokens are kept, but no day name
    # matches them. Each column is one SQL expression, so building the plan
    # takes a few JVM calls rather than a dozen per slot cell.
    tokens = df.withColumn(
        "__slots",
        F.expr(
            "array("
            + ", ".join(f"split(lower(trim({_ident(c)})), ' *, *')" for c in slot_cols)
            + ")"
        ),
    )

    def bits(day: str) -> Column:
        # a NULL cell tokenizes to NULL; array_contains(NULL, day) is NULL → '0'
        flags = f"transform(__slots, toks -> if(array_contains(toks, '{day}'), '1', '0'))"
        return F.expr(f"rpad(array_join({flags}, ''), {n_slots}, '0')")

    return tokens.withColumns(
        {f"availability_{short}": bits(day) for day, short in zip(DAYS, DAY_SHORT)}
    ).drop("__slots", *slot_cols)


def _ident(name: str) -> str:
    """Backtick-quoted SQL identifier (sheet headers hold spaces and
    parentheses)."""
    return "`" + name.replace("`", "``") + "`"


def unpivot_columns(
    df: DataFrame,
    *,
    ids: list[str],
    value_cols: dict[str, str],
    var_name: str = "role",
    value_name: str = "value",
    drop_null: bool = True,
) -> DataFrame:
    """U3/K7 — unpivot N columns into (ids..., var, value) rows.

    Engine analogue of the link-table fan-out: five role-id columns become
    one row per non-null role (``projects-pipeline.py:186-199,326-333``).
    ``value_cols`` maps source column → emitted var label. Uses the native
    ``stack`` table-generating function (narrow, zero shuffle).
    """
    pairs = ", ".join(f"'{label}', `{col}`" for col, label in value_cols.items())
    expr = f"stack({len(value_cols)}, {pairs}) as ({var_name}, {value_name})"
    out = df.selectExpr(*ids, expr)
    if drop_null:
        out = out.where(F.col(value_name).isNotNull())
    return out
