"""E1 — staffing-roster pipeline (reference
``staffing-roster-pipeline.py:226-310``), as one declarative dataset job:

    raw sheet rows
      → normalize (P2 rename; slot cells kept)
      → availability matrix (A2, row-local projection of the slot cells)
      → validate + quarantine (F1/F3, E003)
      → dedup by email, last-write-wins (sequential-loop parity)
      → key resolution against current users (J1) + surrogate keys
      → MERGE users (K1/K3) / MERGE consultants (K2/K4)
      → metrics (K8)

Differences from the reference, intentional and documented (SURVEY §2.8):
per-row rollback-and-continue becomes row-level quarantine (good rows always
land); serial PKs become deterministic ``xxhash64(email)`` keys.

Every step is a narrow projection or a keyed join/agg — the whole job is
shuffle-bounded by the merge keys and runs partition-parallel at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ibc_spark.io_.sinks import merge_upsert
from ibc_spark.ops.mutate import last_write_wins
from ibc_spark.ops.normalize import (
    CONSULTANTS_COLS,
    ROSTER_RENAME,
    USERS_COLS,
    rename_columns,
)
from ibc_spark.ops.reshape import DAY_SHORT, slots_to_availability
from ibc_spark.ops.scalars import nullif_blank, parse_boolean, surrogate_key
from ibc_spark.ops.validate import quarantine_frame, validate_split

REQUIRED = ["name", "email", "curr_role", "netid", "major"]
BOOLEAN_COLS = ("us_citizen", "residency", "first_gen", "week_before_finals_availability")
NULLIF_BLANK_COLS = ("gender", "race", "minor", "college", "time_zone", "status")
AVAIL_COLS = tuple(f"availability_{d}" for d in DAY_SHORT)


@dataclass(frozen=True)
class RosterResult:
    users: DataFrame
    consultants: DataFrame
    quarantine: DataFrame
    metrics: DataFrame  # one row: valid_rows, invalid_rows


class EmptySheetError(RuntimeError):
    """E005 parity: the reference aborts on an empty sheet payload
    (``staffing-roster-pipeline.py:229-230``, SheetReadError)."""


def run(
    raw: DataFrame,
    users: DataFrame,
    consultants: DataFrame,
    *,
    slot_marker: str = "GMT-0600",
    strict_empty: bool = False,
) -> RosterResult:
    """Run E1 as dataset transforms. ``raw`` is the sheet frame (string
    columns, human headers); ``users``/``consultants`` are current sink
    state. Returns post-merge states + quarantine + metrics.

    ``strict_empty=True`` reproduces the reference's empty-sheet abort
    (E005); the default treats an empty batch as a no-op merge, which is the
    correct idempotent behavior for scheduled incremental runs.
    """
    if strict_empty and raw.isEmpty():
        raise EmptySheetError("E005: sheet returned no rows")
    raw = raw.withColumn("_row_idx", F.monotonically_increasing_id())
    slot_cols = [c for c in raw.columns if slot_marker in c]

    # P2 — canonical columns, slot cells kept for A2. Both sides of the
    # validation split read this batch, so it is cached here.
    canon = rename_columns(
        raw, {**ROSTER_RENAME, **{c: c for c in ("_row_idx", *slot_cols)}}
    ).cache()

    # A2 — availability matrix, a row-local projection of the slot cells.
    # Above the cache, executors evaluate it in generated code; directly on
    # an in-memory sheet, the optimizer would fold it into the sheet while
    # planning, row by row, in interpreted mode.
    canon = slots_to_availability(canon, slot_cols=slot_cols)

    # F1/F3 — validate, split, quarantine with reference reason strings.
    # ``_row_idx`` is engine-internal (its value depends on partitioning), so
    # it stays out of the quarantined source row.
    split = validate_split(canon, REQUIRED)
    quarantine = quarantine_frame(split.quarantine.drop("_row_idx"))
    valid = split.valid

    # X1/X2 — type normalization on the valid side (the rename map yields
    # every column, so all of them exist).
    valid = valid.withColumns(
        {
            **{c: parse_boolean(c) for c in BOOLEAN_COLS},
            **{c: nullif_blank(c) for c in NULLIF_BLANK_COLS},
            "semesters_in_ibc": F.coalesce(
                F.col("semesters_in_ibc").cast("int"), F.lit(0)
            ),
        }
    )

    # Duplicate emails: the reference applies rows sequentially, so the last
    # occurrence's values win (insert-then-update). One window, same result.
    # The deduplicated batch is cached: the metrics and both merges read it.
    # Keep the cache below the broadcast join: a cache build holding both
    # that broadcast and the window's shuffle numbers its generated code by
    # which of them finishes first, so each batch would compile parts of
    # the same plans again.
    valid = last_write_wins(valid, key="email", order_col="_row_idx").cache()

    # J1 — resolve existing keys by email; new emails get deterministic keys.
    existing = users.select(F.col("email"), F.col("user_id").alias("__existing_id"))
    keyed = (
        valid.join(F.broadcast(existing), on="email", how="left")
        .withColumn(
            "user_id", F.coalesce(F.col("__existing_id"), surrogate_key("email"))
        )
        .drop("__existing_id")
    )

    # K1/K3 — users MERGE on email (key excluded from updates by construction).
    users_new = keyed.select("user_id", *USERS_COLS)
    users_state = merge_upsert(
        users, users_new, key="email", update_cols=[c for c in USERS_COLS if c != "email"] + ["user_id"]
    )

    # K2/K4 — consultants MERGE on user_id.
    consultants_new = keyed.select("user_id", *CONSULTANTS_COLS, *AVAIL_COLS)
    consultants_state = merge_upsert(consultants, consultants_new, key="user_id")

    metrics = (
        valid.agg(F.count(F.lit(1)).alias("valid_rows"))
        .crossJoin(quarantine.agg(F.count(F.lit(1)).alias("invalid_rows")))
    )
    return RosterResult(
        users=users_state,
        consultants=consultants_state,
        quarantine=quarantine,
        metrics=metrics,
    )


def main(argv: list[str] | None = None) -> int:
    """spark-submit entry: fetch/load sheet rows, run E1 against the current
    state snapshots, write result tables, print the K8 summary JSON
    (``{"valid_rows": N, "invalid_rows": M}`` —
    ``staffing-roster-pipeline.py:303-304``)."""
    from ibc_spark.pipelines import cli
    from ibc_spark.schemas import CONSULTANTS_SCHEMA, USERS_SCHEMA

    args = cli.build_parser(
        "ibc_spark.pipelines.staffing_roster",
        "E1 staffing-roster pipeline (sheet -> users/consultants merge)",
        needs_rows=True,
    ).parse_args(argv)

    def body() -> dict[str, int]:
        spark = cli.get_session("staffing_roster", args.master)
        raw = cli.load_rows(spark, args)
        users = cli.load_state(spark, args.state_dir, "users", USERS_SCHEMA)
        consultants = cli.load_state(
            spark, args.state_dir, "consultants", CONSULTANTS_SCHEMA
        )
        result = run(raw, users, consultants)
        cli.write_outputs(
            args.output,
            {
                "users": result.users,
                "consultants": result.consultants,
                "quarantine": result.quarantine,
            },
        )
        return cli.metrics_row(result.metrics)

    return cli.run_main(body)


if __name__ == "__main__":
    import sys

    sys.exit(main())
