"""E2 — projects pipeline (reference ``projects-pipeline.py:341-400``):

    raw rows → normalize (P1 candidate headers) → validate (F2)
      → resolve 5 role netids against users (J2/J3; dangling → quarantine)
      → split matched/new by project_name (J4)
      → change detection on matched (J6; unchanged rows skipped)
      → MERGE projects (K5) with deterministic project keys
      → U1 role reconciliation (last-write-wins in row/role order)
      → U2 mark consultants 'returning' (SM/PM/SC1/SC2 of NEW projects only)
      → U3 link rows for NEW projects (all five roles incl. EM)
      → metrics

Reference behavioral quirks preserved (SURVEY appendix): EM excluded from
U2 but included in U3; U1 fires even for content-unchanged projects (the J6
skip gates only the projects UPDATE); same-netid-in-two-roles resolves to
the LAST role in em→sm→pm→sc1→sc2 order within a row, later rows override
earlier ones.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ibc_spark.io_.sinks import merge_upsert
from ibc_spark.ops.joins import changed_rows, resolve_roles
from ibc_spark.ops.mutate import last_write_wins, mark_where_in, reconcile_column
from ibc_spark.ops.normalize import PROJECTS_KEY_MAP, coalesce_headers
from ibc_spark.ops.reshape import unpivot_columns
from ibc_spark.ops.scalars import surrogate_key
from ibc_spark.ops.validate import E_INVALID_FORMAT, quarantine_frame, validate_split

ROLE_COLS = {  # fact column → (id column, role code, marks-returning?)
    "em_netid": ("em_id", "EM", False),
    "sm_netid": ("sm_id", "SM", True),
    "pm_netid": ("pm_id", "PM", True),
    "sc1_netid": ("sc1_id", "SC", True),
    "sc2_netid": ("sc2_id", "SC", True),
}
PROJECT_COMPARE = ["project_semester", "client_name", "em_id", "sm_id", "pm_id", "sc1_id", "sc2_id"]


@dataclass(frozen=True)
class ProjectsResult:
    projects: DataFrame
    users: DataFrame
    consultants: DataFrame
    links: DataFrame  # consultant_projects appends (project_id, user_id, role)
    quarantine: DataFrame
    metrics: DataFrame


def run(raw: DataFrame, users: DataFrame, consultants: DataFrame, projects: DataFrame) -> ProjectsResult:
    raw = raw.withColumn("_row_idx", F.monotonically_increasing_id())
    canon = coalesce_headers(raw, PROJECTS_KEY_MAP)

    split = validate_split(canon, ["project_name"], cache=True)
    valid = split.valid

    # J2 — one broadcast join per role column against the users dim.
    valid = resolve_roles(
        valid,
        users,
        role_keys={src: id_col for src, (id_col, _, _) in ROLE_COLS.items()},
        dim_key="netid",
        dim_id="user_id",
    )

    # J3 — a present-but-unresolvable netid invalidates the row (reference
    # raises InvalidFormatError and rolls the row back; engine quarantines).
    dangling_reason = F.array_compact(
        F.array(
            *[
                F.when(
                    F.col(src).isNotNull() & F.col(id_col).isNull(),
                    F.concat(
                        F.lit("NetID '"), F.col(src),
                        F.lit(f"' for role {role} not found in database"),
                    ),
                )
                for src, (id_col, role, _) in ROLE_COLS.items()
            ]
        )
    )
    valid = valid.withColumn("__dangling", dangling_reason).cache()
    dangling_q = (
        valid.where(F.size("__dangling") > 0)
        .withColumn("_reason", F.array_join(F.col("__dangling"), "; "))
        .withColumn("_error_code", F.lit(E_INVALID_FORMAT))
        .drop("__dangling")
    )
    good = valid.where(F.size("__dangling") == 0).drop("__dangling")

    # Duplicate project names in one sheet: last row wins (sequential parity).
    good = last_write_wins(good, key="project_name", order_col="_row_idx").cache()

    # J4 — split update-path vs insert-path by existing project_name.
    existing = projects.select(
        F.col("project_name"), F.col("project_id").alias("__existing_pid")
    )
    keyed = good.join(F.broadcast(existing), on="project_name", how="left").withColumn(
        "project_id", F.coalesce(F.col("__existing_pid"), surrogate_key("project_name"))
    )
    new_projects = keyed.where(F.col("__existing_pid").isNull()).drop("__existing_pid")
    resubmitted = keyed.where(F.col("__existing_pid").isNotNull()).drop("__existing_pid")

    proj_cols = ["project_id", "project_name", *PROJECT_COMPARE]
    # J6 — only changed resubmissions update the projects table.
    changed = changed_rows(
        resubmitted.select(*proj_cols),
        projects.select(*proj_cols),
        key="project_name",
        compare=PROJECT_COMPARE,
    )
    merge_source = changed.unionByName(new_projects.select(*proj_cols))
    projects_state = merge_upsert(projects, merge_source, key="project_name")

    # U1 — role reconciliation over ALL good rows (fires even when the
    # project content is unchanged — reference ordering quirk #4). Conflict
    # rule: last write wins in (row, em→sm→pm→sc1→sc2) order, matching the
    # sequential probe order at ``projects-pipeline.py:241-245,282-286``.
    assignments = (
        good.select(
            "_row_idx",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(id_col).alias("user_id"),
                            F.lit(role).alias("expected_role"),
                            F.lit(pos).alias("role_pos"),
                        )
                        for pos, (src, (id_col, role, _)) in enumerate(ROLE_COLS.items())
                    ]
                )
            ).alias("__a"),
        )
        .select("_row_idx", "__a.user_id", "__a.expected_role", "__a.role_pos")
        .where(F.col("user_id").isNotNull())
        .withColumn("__ord", F.col("_row_idx") * 10 + F.col("role_pos"))
    )
    winners = last_write_wins(assignments, key="user_id", order_col="__ord").select(
        "user_id", "expected_role"
    )
    users_state = reconcile_column(
        users, winners, key="user_id", target_col="curr_role", new_col="expected_role"
    )

    # U2 — 'returning' marks: SM/PM/SC1/SC2 of newly inserted projects only.
    returning_ids = unpivot_columns(
        new_projects.select(
            *[F.col(id_col) for src, (id_col, _, marks) in ROLE_COLS.items() if marks]
        ),
        ids=[],
        value_cols={
            id_col: id_col
            for src, (id_col, _, marks) in ROLE_COLS.items()
            if marks
        },
        var_name="__role",
        value_name="user_id",
    )
    consultants_state = mark_where_in(
        consultants, returning_ids, key="user_id", updates={"status": "returning"}
    )

    # U3 — link rows for new projects, all five roles.
    links = unpivot_columns(
        new_projects.select(
            "project_id",
            *[
                F.col(id_col).alias(f"__link_{role}_{id_col}")
                for src, (id_col, role, _) in ROLE_COLS.items()
            ],
        ),
        ids=["project_id"],
        value_cols={
            f"__link_{role}_{id_col}": role
            for src, (id_col, role, _) in ROLE_COLS.items()
        },
        var_name="role",
        value_name="user_id",
    ).select("project_id", "user_id", "role")

    # ``_row_idx`` is engine-internal (its value depends on partitioning), so
    # it stays out of the quarantined source row.
    quarantine = quarantine_frame(split.quarantine.drop("_row_idx")).unionByName(
        quarantine_frame(dangling_q.drop("_row_idx"))
    )
    metrics = (
        good.agg(F.count(F.lit(1)).alias("valid_rows"))
        .crossJoin(quarantine.agg(F.count(F.lit(1)).alias("invalid_rows")))
    )
    return ProjectsResult(
        projects=projects_state,
        users=users_state,
        consultants=consultants_state,
        links=links,
        quarantine=quarantine,
        metrics=metrics,
    )


def main(argv: list[str] | None = None) -> int:
    """spark-submit entry: run E2 against the current state snapshots and
    print the summary JSON (``{"valid_rows": N, "invalid_rows": M}`` —
    ``projects-pipeline.py:393-396``)."""
    from ibc_spark.pipelines import cli
    from ibc_spark.schemas import CONSULTANTS_SCHEMA, PROJECTS_SCHEMA, USERS_SCHEMA

    args = cli.build_parser(
        "ibc_spark.pipelines.projects",
        "E2 projects pipeline (sheet -> projects/links merge + role updates)",
        needs_rows=True,
    ).parse_args(argv)

    def body() -> dict[str, int]:
        spark = cli.get_session("projects", args.master)
        raw = cli.load_rows(spark, args)
        users = cli.load_state(spark, args.state_dir, "users", USERS_SCHEMA)
        consultants = cli.load_state(
            spark, args.state_dir, "consultants", CONSULTANTS_SCHEMA
        )
        projects = cli.load_state(spark, args.state_dir, "projects", PROJECTS_SCHEMA)
        result = run(raw, users, consultants, projects)
        cli.write_outputs(
            args.output,
            {
                "projects": result.projects,
                "users": result.users,
                "consultants": result.consultants,
                "consultant_projects": result.links,
                "quarantine": result.quarantine,
            },
        )
        return cli.metrics_row(result.metrics)

    return cli.run_main(body)


if __name__ == "__main__":
    import sys

    sys.exit(main())
