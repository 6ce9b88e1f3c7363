"""Seeded roster sheet payloads for the ``roster_sync`` workload, with
their ground truth.

Payloads are generated per run from the workload seed. Each payload
carries the expected pipeline summary and post-merge table sizes, computed
here in plain Python from the same rows the pipeline sees. The sheet
layout follows FIXTURES.md (``staffing_roster_raw``).

The registry workload needs no generator: it reads the engine's fixed sf0.1
test tables (TESTDATA.md, seed 42), copied byte for byte into
``data/sf0.1`` next to this file; ``data/sf0.1/SHA256SUMS`` lists their
checksums.
"""

from __future__ import annotations

import json
import os
import random

# ---------------------------------------------------------------------------
# Roster sheets
# ---------------------------------------------------------------------------

SLOTS = [f"Slot {i:02d} (GMT-0600)" for i in range(1, 31)]
_DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]
_MAJORS = ["CS", "Econ", "Math", "ME", "Bio", "Finance", "Stats"]
_BOOLISH = ["Yes", "no", "TRUE", "false", "1", "0", "maybe", ""]


def _roster_row(rng: random.Random, k: int, *, tag: str) -> dict:
    row = {
        "Name": f"Person {k} {tag}",
        "Email": f"user{k}@ibc.edu",
        "Gender": rng.choice(["F", "M", "NB", ""]),
        "Race": rng.choice(["r1", "r2", "r3", ""]),
        "US Citizen": rng.choice(_BOOLISH),
        "Residency": rng.choice(_BOOLISH),
        "First Generation": rng.choice(_BOOLISH),
        "Current Role": rng.choice(["NC", "SC", "PM", "SM", "EM"]),
        "NetID": f"net{k}",
        "Year": rng.choice(["Freshman", "Sophomore", "Junior", "Senior"]),
        "Major": rng.choice(_MAJORS),
        "Minor": rng.choice(["", "Math", "Music"]),
        "College": rng.choice(["Eng", "LAS", "Business"]),
        "Consultant Score": str(rng.randint(1, 10)),
        "Semesters in IBC": str(rng.randint(0, 6)),
        "Time Zone": "GMT-0600",
        "Willing to Travel": rng.choice(["yes", "no"]),
        "Industry Interests": rng.choice(["tech, health", "energy", "retail, tech"]),
        "Functional Area Interests": rng.choice(["strategy", "ops", "marketing"]),
        "Status": rng.choice(["New", "Returning", ""]),
        "Week Before Finals Availability": rng.choice(_BOOLISH),
    }
    for slot in SLOTS:
        row[slot] = ", ".join(rng.sample(_DAYS, rng.randint(0, 3))) if rng.random() < 0.3 else ""
    return row


def base_state_rows(n_users: int) -> tuple[list[tuple], list[tuple]]:
    """Users and consultants every roster round starts from: ``n_users``
    people with emails ``user0..``; ids are fixed and unrelated to the
    pipeline's surrogate keys (as after a migration)."""
    users, consultants = [], []
    for k in range(n_users):
        uid = 10_000_000 + k
        users.append(
            (uid, f"Person {k} base", f"user{k}@ibc.edu", "F", "r1", True, False, False, "NC", f"net{k}")
        )
        consultants.append(
            (uid, "Junior", "CS", None, "Eng", "5", 1, "GMT-0600", "yes", "tech", "ops", "Returning", True)
            + ("0" * 30,) * 7
        )
    return users, consultants


def roster_round(seed: int, n_base: int, n_rows: int) -> dict:
    """One roster round's sheet payload and ground truth: ``n_rows`` rows;
    ~30% update existing users, ~5% repeat an email of the same sheet (last
    write wins), ~5% miss a required field."""
    rng = random.Random(seed)
    rows: list[dict] = []
    next_new = n_base
    for i in range(n_rows):
        r = rng.random()
        if rows and r < 0.05:
            k = int(rows[rng.randrange(len(rows))]["NetID"][3:])
        elif r < 0.35:
            k = rng.randrange(n_base)
        else:
            k, next_new = next_new, next_new + 1
        row = _roster_row(rng, k, tag=f"s{seed}r{i}")
        if rng.random() < 0.05:
            row[rng.choice(["Name", "Current Role", "Major"])] = rng.choice(["", "  "])
        rows.append(row)

    required = ("Name", "Email", "Current Role", "NetID", "Major")
    valid = [r for r in rows if all(r[c].strip() for c in required)]
    valid_emails = {r["Email"] for r in valid}
    base_emails = {f"user{k}@ibc.edu" for k in range(n_base)}
    n_users = n_base + len(valid_emails - base_emails)
    return {
        "roster_rows": rows,
        "truth": {
            "roster": {"valid_rows": len(valid_emails), "invalid_rows": len(rows) - len(valid)},
            "end_semester": {"rows_updated": n_users},
            "tables": {"users": n_users, "consultants": n_users},
        },
    }


def write_payload(path: str, rows: list[dict]) -> str:
    """Write a sheet payload and return its ``file://`` URL."""
    with open(path, "w") as f:
        json.dump(rows, f)
    return "file://" + os.path.abspath(path)
