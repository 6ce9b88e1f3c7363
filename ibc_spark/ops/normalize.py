"""Header normalization P1–P3 (SURVEY §2.2).

The reference accepts human-readable sheet headers with alternative
spellings and routes renamed columns to per-table allow-lists:

- P1 candidate fallback: first non-blank of several source headers
  (``normalize_project_row`` ``projects-pipeline.py:53-84``).
- P2 rename map: sheet header → sql column
  (``SHEET_COLS_TO_SQL_COLS`` ``staffing-roster-pipeline.py:34-56``).
- P3 allow-list split: one canonical frame → users-cols / consultants-cols
  (``USERS_COLS``/``CONSULTANTS_COLS`` ``staffing-roster-pipeline.py:31-32``;
  the two selects live in ``pipelines/staffing_roster.py``).

The known ``consultant_score`` vs ``consultants_score`` quirk (SURVEY §1.3)
is fixed here, consciously.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ibc_spark.ops.scalars import nullif_blank

#: P2 — roster sheet header → canonical column (reference
#: ``staffing-roster-pipeline.py:34-56``; `Consultant Score` mapping fixed).
ROSTER_RENAME: dict[str, str] = {
    "Name": "name",
    "Email": "email",
    "Gender": "gender",
    "Race": "race",
    "US Citizen": "us_citizen",
    "Residency": "residency",
    "First Generation": "first_gen",
    "Current Role": "curr_role",
    "NetID": "netid",
    "Year": "year",
    "Major": "major",
    "Minor": "minor",
    "College": "college",
    "Consultant Score": "consultants_score",
    "Semesters in IBC": "semesters_in_ibc",
    "Time Zone": "time_zone",
    "Willing to Travel": "willing_to_travel",
    "Industry Interests": "industry_interests",
    "Functional Area Interests": "functional_area_interests",
    "Status": "status",
    "Week Before Finals Availability": "week_before_finals_availability",
}

#: P3 — column routing (reference ``staffing-roster-pipeline.py:31-32``).
USERS_COLS = (
    "name",
    "email",
    "gender",
    "race",
    "us_citizen",
    "residency",
    "first_gen",
    "curr_role",
    "netid",
)
CONSULTANTS_COLS = (
    "year",
    "major",
    "minor",
    "college",
    "consultants_score",
    "semesters_in_ibc",
    "time_zone",
    "willing_to_travel",
    "industry_interests",
    "functional_area_interests",
    "status",
    "week_before_finals_availability",
)

#: P1 — projects canonical column → accepted source headers
#: (reference ``KEY_MAP`` ``projects-pipeline.py:59-68``; FIXTURES.md §2).
PROJECTS_KEY_MAP: dict[str, Sequence[str]] = {
    "project_name": ("project_name", "Project Name"),
    "project_semester": ("project_semester", "Semester"),
    "client_name": ("client_name", "Client Name"),
    "em_netid": ("em_netid", "EM net-id", "EM NetID"),
    "sm_netid": ("sm_netid", "SM net-id", "SM NetID"),
    "pm_netid": ("pm_netid", "PM net-id", "PM NetID"),
    "sc1_netid": ("sc1_netid", "SC1 net-id", "SC 1 net-id", "SC 1 NetID"),
    "sc2_netid": ("sc2_netid", "SC2 net-id", "SC 2 net-id", "SC 2 NetID"),
}


def rename_columns(df: DataFrame, rename: Mapping[str, str], *, keep_rest: bool = False) -> DataFrame:
    """P2 — rename-map projection. Unmapped columns are dropped unless
    ``keep_rest`` (the reference drops them silently at write time; here the
    drop happens once, visibly, at normalize time). Mapped headers absent
    from the input become NULL columns — ``row.get(header)`` semantics, so
    ragged sheets don't fail downstream."""
    have = df.columns
    present = set(have)
    cols: list[Column] = [
        (F.col(f"`{src}`") if src in present else F.lit(None).cast("string")).alias(dst)
        for src, dst in rename.items()
    ]
    if keep_rest:
        mapped = set(rename)
        cols += [F.col(f"`{c}`") for c in have if c not in mapped]
    return df.select(*cols)


def coalesce_headers(
    df: DataFrame, key_map: Mapping[str, Sequence[str]], *, keep_rest: bool = True
) -> DataFrame:
    """P1 — candidate-header fallback: for each canonical column, the first
    non-blank among its accepted source headers, else NULL. Unknown source
    columns pass through (the reference preserves extra keys,
    ``projects-pipeline.py:79-82``)."""
    have = df.columns
    out: list[Column] = []
    consumed: set[str] = set()
    for target, candidates in key_map.items():
        present = [c for c in candidates if c in have]
        consumed.update(present)
        if present:
            out.append(F.coalesce(*[nullif_blank(F.col(f"`{c}`")) for c in present]).alias(target))
        else:
            out.append(F.lit(None).cast("string").alias(target))
    if keep_rest:
        out += [F.col(f"`{c}`") for c in have if c not in consumed]
    return df.select(*out)
