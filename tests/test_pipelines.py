"""Pipeline-level fixture tests (SURVEY §5.2) — every reference branch."""

from __future__ import annotations

from tests import fixtures


def _by(df, col, val):
    return {r[col]: r.asDict() for r in df.collect()}.get(val)


class TestStaffingRoster:
    def _run(self, spark):
        from ibc_spark.pipelines import staffing_roster

        return staffing_roster.run(
            fixtures.roster_df(spark),
            fixtures.users_state(spark),
            fixtures.consultants_state(spark),
        )

    def test_metrics(self, spark):
        m = self._run(spark).metrics.collect()[0]
        # 5 rows: 2 invalid; 3 valid but alice duplicated → 2 surviving
        assert m["invalid_rows"] == 2
        assert m["valid_rows"] == 2

    def test_quarantine_reasons(self, spark):
        q = {r["reason"] for r in self._run(spark).quarantine.collect()}
        assert "Missing required columns: major" in q
        assert "Missing required columns: name" in q

    def test_duplicate_email_last_wins(self, spark):
        users = self._run(spark).users
        alice = _by(users, "email", "alice@x.edu")
        assert alice["name"] == "Alice A2"
        assert alice["curr_role"] == "SC"
        assert alice["us_citizen"] is False  # 'maybe' → junk → false

    def test_update_path_keeps_key(self, spark):
        users = self._run(spark).users
        bob = _by(users, "email", "bob@x.edu")
        assert bob["user_id"] == 100  # existing surrogate key survives
        assert bob["name"] == "Bob Old"
        assert bob["us_citizen"] is False  # '0'
        assert bob["residency"] is True  # 'TRUE'
        assert bob["first_gen"] is False  # '' → junk → false

    def test_untouched_users_pass_through(self, spark):
        users = self._run(spark).users
        assert _by(users, "email", "dana@x.edu")["name"] == "Dana D"

    def test_availability_bitstrings(self, spark):
        res = self._run(spark)
        alice_uid = _by(res.users, "email", "alice@x.edu")["user_id"]
        cons = _by(res.consultants, "user_id", alice_uid)
        # LAST alice row wins wholesale (sequential parity): slot 1 tuesday only
        assert cons["availability_tue"] == "1" + "0" * 29
        assert cons["availability_mon"] == "0" * 30
        # updated existing consultant: no slots → all zeros
        bob_cons = _by(res.consultants, "user_id", 100)
        assert bob_cons["availability_mon"] == "0" * 30
        assert bob_cons["semesters_in_ibc"] == 3

    def test_first_row_availability_parsing(self, spark):
        """A2 semantics on the winning-row-only frame: day lists, trim,
        case-insensitivity, unknown-day drop."""
        from ibc_spark.ops.reshape import slots_to_availability
        from ibc_spark.io_.sources import dataframe_from_rows

        rows = [fixtures.roster_rows()[0]]
        out = slots_to_availability(dataframe_from_rows(spark, rows)).collect()[0]
        mon = out["availability_mon"]
        wed = out["availability_wed"]
        fri = out["availability_fri"]
        assert mon[0] == "1" and wed[0] == "1"  # slot 1 "Monday, Wednesday"
        assert fri[1] == "1"  # slot 2 " Friday " trimmed
        assert fri[29] == "1"  # slot 30 "friday" case-folded; "Funday" ignored
        assert mon.count("1") == 1 and wed.count("1") == 1 and fri.count("1") == 2

    def test_quarantine_source_row_has_no_engine_row_id(self, spark):
        """FIXTURES.md §4: ``source_row`` is the original row, so the
        partitioning-dependent ingest row id must not leak into it."""
        import json

        rows = self._run(spark).quarantine.collect()
        assert rows
        for r in rows:
            src = json.loads(r["source_row"])
            assert "_row_idx" not in src, src
            assert "email" in src


def _reference_availability(row: dict, slot_cols: list[str]) -> dict[str, str]:
    """Pure-Python port of the reference ``build_availability_sql_columns``
    (``staffing-roster-pipeline.py:89-115``), with the slot columns passed
    in (the engine takes them from the schema, not the first row)."""
    from ibc_spark.ops.reshape import DAY_SHORT, DAYS

    bits = {short: ["0"] * 30 for short in DAY_SHORT}
    by_name = dict(zip(DAYS, DAY_SHORT))
    for i, slot in enumerate(sorted(slot_cols)):
        cell = row.get(slot)
        if not cell:
            continue
        for day in cell.split(","):
            short = by_name.get(day.strip().lower())
            if short:
                bits[short][i] = "1"
    return {f"availability_{s}": "".join(b) for s, b in bits.items()}


class TestAvailability:
    """``slots_to_availability`` against the reference semantics on seeded
    ragged sheets: missing slot columns, NULL cells, case and whitespace,
    unknown and empty day tokens. Whitespace means spaces: Spark's ``trim``
    strips only spaces, where the reference's ``str.strip`` also strips tabs
    and newlines (a known gap of ``split_trim_lower``, not exercised here)."""

    TOKENS = [
        "Monday", "monday", " TUESDAY ", "Wednesday", "thursday ", " Friday",
        "saturday", "SUNDAY", "Funday", "", " ", "mon", "  sunday  ",
    ]

    def _sheet(self, seed: int) -> tuple[list[dict], list[str]]:
        import random

        rng = random.Random(seed)
        n_slots = rng.choice([1, 7, 29, 30])
        slots = [f"{rng.randrange(100):02d}:{i:02d} (GMT-0600)" for i in range(n_slots)]
        slots[0] = "a `quoted`.slot (GMT-0600)"  # headers are free text
        rows = []
        for k in range(40):
            row = {"id": str(k), "Name": f"p{k}"}
            for slot in slots:
                r = rng.random()
                if r < 0.15:
                    continue  # key missing from this row (ragged sheet)
                if r < 0.25:
                    row[slot] = None
                else:
                    n = rng.randint(0, 4)
                    row[slot] = ",".join(rng.choice(self.TOKENS) for _ in range(n))
            rows.append(row)
        return rows, slots

    def test_matches_reference_port(self, spark):
        from ibc_spark.io_.sources import dataframe_from_rows
        from ibc_spark.ops.reshape import slots_to_availability

        for seed in range(4):
            rows, slots = self._sheet(seed)
            df = dataframe_from_rows(spark, rows)
            got = {r["id"]: r.asDict() for r in slots_to_availability(df).collect()}
            for row in rows:
                want = _reference_availability(row, slots)
                have = {k: got[row["id"]][k] for k in want}
                assert have == want, (seed, row)

    def test_no_slot_columns_all_zeros(self, spark):
        from ibc_spark.io_.sources import dataframe_from_rows
        from ibc_spark.ops.reshape import slots_to_availability

        df = dataframe_from_rows(spark, [{"Name": "a"}, {"Name": "b"}])
        out = slots_to_availability(df).collect()
        assert len(out) == 2
        for r in out:
            assert r["Name"] in ("a", "b")
            assert r.asDict() == {
                "Name": r["Name"],
                **_reference_availability({}, []),
            }

    def test_more_than_30_slots_raises(self, spark):
        import pytest

        from ibc_spark.io_.sources import dataframe_from_rows
        from ibc_spark.ops.reshape import slots_to_availability

        row = {f"Slot {i:02d} (GMT-0600)": "monday" for i in range(31)}
        with pytest.raises(ValueError, match="31 slot columns"):
            slots_to_availability(dataframe_from_rows(spark, [row]))


class TestProjects:
    def _run(self, spark):
        from ibc_spark.pipelines import projects as pp

        return pp.run(
            fixtures.projects_df(spark),
            fixtures.users_state(spark),
            fixtures.consultants_state(spark),
            fixtures.projects_state(spark),
        )

    def test_metrics_and_quarantine(self, spark):
        res = self._run(spark)
        m = res.metrics.collect()[0]
        assert m["valid_rows"] == 3  # new, identical-resubmit, changed-resubmit
        assert m["invalid_rows"] == 2  # missing name + dangling netid
        reasons = {r["reason"] for r in res.quarantine.collect()}
        assert "Missing required columns: project_name" in reasons
        assert "NetID 'ghost9' for role SM not found in database" in reasons

    def test_quarantine_source_row_has_no_engine_row_id(self, spark):
        import json

        rows = self._run(spark).quarantine.collect()
        assert len(rows) == 2  # one missing-name row, one dangling-netid row
        for r in rows:
            assert "_row_idx" not in json.loads(r["source_row"]), r["source_row"]

    def test_new_project_inserted_with_resolved_roles(self, spark):
        res = self._run(spark)
        p = _by(res.projects, "project_name", "New Project")
        assert p is not None
        assert p["em_id"] == 103 and p["sm_id"] == 101 and p["pm_id"] == 102
        assert p["sc1_id"] == 104 and p["sc2_id"] == 100
        assert p["project_id"] is not None

    def test_unchanged_resubmission_skipped(self, spark):
        res = self._run(spark)
        p = _by(res.projects, "project_name", "Existing Project")
        assert p["project_id"] == 9000
        assert p["client_name"] == "ACME"  # untouched

    def test_changed_resubmission_updated(self, spark):
        res = self._run(spark)
        p = _by(res.projects, "project_name", "Changed Project")
        assert p["project_id"] == 9001  # key survives
        assert p["client_name"] == "NewCo"
        assert p["sm_id"] is None  # new row's NULL overwrites? no — coalesce keeps old
        # NOTE: merge semantics coalesce(new, old) keep old value when new is NULL

    def test_role_reconciliation(self, spark):
        res = self._run(spark)
        users = {r["user_id"]: r.asDict() for r in res.users.collect()}
        assert users[101]["curr_role"] == "SM"  # dana SC → SM
        assert users[102]["curr_role"] == "PM"  # eve NC → PM
        assert users[103]["curr_role"] == "EM"  # finn unchanged
        assert users[104]["curr_role"] == "SC"  # gail NC → SC
        assert users[100]["curr_role"] == "SC"  # bob NC → SC (sc2 of new project)

    def test_returning_marks_exclude_em(self, spark):
        res = self._run(spark)
        cons = {r["user_id"]: r.asDict() for r in res.consultants.collect()}
        assert cons[101]["status"] == "returning"  # SM of new project
        assert cons[102]["status"] == "returning"  # PM
        assert cons[104]["status"] == "returning"  # SC1
        assert cons[100]["status"] == "returning"  # SC2
        # EM (103) has no consultants row; and untouched rows keep status

    def test_links_only_for_new_projects_include_em(self, spark):
        res = self._run(spark)
        links = [(r["user_id"], r["role"]) for r in res.links.collect()]
        assert (103, "EM") in links
        assert (101, "SM") in links and (102, "PM") in links
        assert (104, "SC") in links and (100, "SC") in links
        assert len(links) == 5  # nothing from resubmissions


class TestEndSemester:
    def test_bulk_mutation(self, spark):
        from ibc_spark.pipelines import end_semester

        res = end_semester.run(fixtures.consultants_state(spark))
        rows = res.consultants.collect()
        assert all(r["status"] == "Deferred" for r in rows)
        sem = {r["user_id"]: r["semesters_in_ibc"] for r in rows}
        assert sem[100] == 4 and sem[101] == 6
        assert res.metrics.collect()[0]["rows_updated"] == len(rows)
