"""spark-submit CLI mains for E1-E3: fixture rows in, state snapshots in,
ONE summary JSON line on stdout, result parquet out — orchestration parity
with the reference's workflow_dispatch jobs."""

from __future__ import annotations

import json
import os

from tests.fixtures import (
    consultants_state,
    project_rows,
    projects_state,
    roster_rows,
    users_state,
)


def write_state(spark, tmp_path):
    state = str(tmp_path / "state")
    users_state(spark).write.mode("overwrite").parquet(f"{state}/users.parquet")
    consultants_state(spark).write.mode("overwrite").parquet(
        f"{state}/consultants.parquet"
    )
    projects_state(spark).write.mode("overwrite").parquet(f"{state}/projects.parquet")
    return state


def last_stdout_json(capsys) -> dict:
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.strip()]
    return json.loads(lines[-1])


def test_staffing_roster_main(spark, tmp_path, capsys):
    from ibc_spark.pipelines.staffing_roster import main

    rows_file = tmp_path / "rows.json"
    rows_file.write_text(json.dumps(roster_rows()))
    state = write_state(spark, tmp_path)
    out = str(tmp_path / "out")

    rc = main(["--rows", str(rows_file), "--state-dir", state, "--output", out])
    assert rc == 0
    summary = last_stdout_json(capsys)
    # fixture: 3 valid rows (one a duplicate email -> 2 surviving), 2 invalid
    assert summary == {"valid_rows": 2, "invalid_rows": 2}
    users = spark.read.parquet(os.path.join(out, "users.parquet"))
    assert users.where(users.email == "alice@x.edu").count() == 1
    assert os.path.exists(os.path.join(out, "quarantine.parquet"))


def test_projects_main(spark, tmp_path, capsys):
    from ibc_spark.pipelines.projects import main

    rows_file = tmp_path / "rows.json"
    rows_file.write_text(json.dumps(project_rows()))
    state = write_state(spark, tmp_path)
    out = str(tmp_path / "out")

    rc = main(["--rows", str(rows_file), "--state-dir", state, "--output", out])
    assert rc == 0
    summary = last_stdout_json(capsys)
    assert summary == {"valid_rows": 3, "invalid_rows": 2}
    links = spark.read.parquet(os.path.join(out, "consultant_projects.parquet"))
    assert links.count() > 0


def test_end_semester_main(spark, tmp_path, capsys):
    from ibc_spark.pipelines.end_semester import main

    state = write_state(spark, tmp_path)
    out = str(tmp_path / "out")

    rc = main(["--state-dir", state, "--output", out])
    assert rc == 0
    assert last_stdout_json(capsys) == {"updated_rows": 4}
    cons = spark.read.parquet(os.path.join(out, "consultants.parquet"))
    assert cons.where(cons.status == "Deferred").count() == 4


def test_first_run_with_no_state(spark, tmp_path, capsys):
    """No --state-dir: pipelines start from empty snapshots (first run)."""
    from ibc_spark.pipelines.staffing_roster import main

    rows_file = tmp_path / "rows.json"
    rows_file.write_text(json.dumps(roster_rows()))

    rc = main(["--rows", str(rows_file)])
    assert rc == 0
    summary = last_stdout_json(capsys)
    assert summary["valid_rows"] == 2 and summary["invalid_rows"] == 2


def test_main_reports_taxonomy_failure(tmp_path, capsys, spark):
    """Missing input -> reference-style failure line + exit 1 (E005)."""
    from ibc_spark.pipelines.staffing_roster import main

    env_url = os.environ.pop("WEB_APP_URL", None)
    try:
        rc = main([])
    finally:
        if env_url is not None:
            os.environ["WEB_APP_URL"] = env_url
    assert rc == 1
    out = capsys.readouterr().out
    assert "Pipeline failed with error E005" in out


# ---------------------------------------------------------------------------
# Job-spec dispatcher (conf/jobs/*.yaml — workflow_dispatch parity)
# ---------------------------------------------------------------------------


def test_job_spec_resolves_env_overlay_and_inputs():
    from ibc_spark.pipelines.jobs import resolve_job, spark_submit_argv

    spec = resolve_job(
        "conf/jobs/upload_staffing_roster.yaml",
        "prod",
        env={"WEB_APP_URL": "https://example.test/app"},
    )
    assert spec.job == "upload-staffing-roster"
    assert spec.entry == "ibc_spark.pipelines.staffing_roster"
    assert spec.master == "local[32]"
    assert spec.inputs["url"] == "https://example.test/app"
    assert spec.inputs["sheet_name"] == "Staffing Roster"  # default applied
    assert spec.conf["spark.sql.shuffle.partitions"] == "32"
    argv = spark_submit_argv(spec)
    # the rendered line must be genuinely executable: env-prefixed
    # PYTHONPATH, spark-submit with an application FILE (no python -m flag)
    assert argv[0] == "env" and argv[1].startswith("PYTHONPATH=")
    assert argv[2:5] == ["spark-submit", "--master", "local[32]"]
    assert "-m" not in argv
    app = next(a for a in argv if a.endswith(".py"))
    import os

    assert os.path.isfile(app) and app.endswith("staffing_roster.py")
    assert "spark.sql.shuffle.partitions=32" in argv


def test_job_spec_missing_required_input_is_e003():
    import pytest as _pytest

    from ibc_spark.errors import InvalidFormatError
    from ibc_spark.pipelines.jobs import resolve_job

    with _pytest.raises(InvalidFormatError):
        resolve_job("conf/jobs/upload_projects.yaml", "dev", env={})


def test_job_spec_unknown_environment_rejected():
    import pytest as _pytest

    from ibc_spark.errors import InvalidFormatError
    from ibc_spark.pipelines.jobs import resolve_job

    with _pytest.raises(InvalidFormatError):
        resolve_job("conf/jobs/end_semester.yaml", "staging")


def test_job_dispatcher_dry_run_prints_command(capsys):
    from ibc_spark.pipelines.jobs import main

    rc = main(
        ["--config", "conf/jobs/end_semester.yaml", "--environment", "dev", "--dry-run"]
    )
    assert rc == 0
    out = capsys.readouterr().out.strip()
    assert out.startswith("env PYTHONPATH=")
    assert "spark-submit --master local[*]" in out
    assert "end_semester.py" in out and " -m " not in out


def test_job_dry_run_command_actually_executes(tmp_path):
    """The dry-run line is not illustrative: executing argv verbatim must
    run the pipeline under a real spark-submit (second JVM) and print the
    pipeline's one-line JSON summary. This is the executable-command
    contract the dispatcher's dry-run prints for the scheduler."""
    import json
    import subprocess

    from ibc_spark.pipelines.jobs import resolve_job, spark_submit_argv

    spec = resolve_job("conf/jobs/end_semester.yaml", "dev")
    argv = spark_submit_argv(spec)
    r = subprocess.run(
        argv, capture_output=True, text=True, timeout=150, cwd=str(tmp_path)
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert "updated_rows" in summary


def test_spark_submit_pythonpath_independent_of_entry_depth():
    """The rendered PYTHONPATH must be the directory containing the
    top-level package for entries at ANY module depth — the old fixed
    parents[2] hop was only correct for exactly ibc_spark.pipelines.X
    and silently mis-rendered shallower/deeper entries."""
    import os

    from ibc_spark.pipelines.jobs import JobSpec, spark_submit_argv

    import ibc_spark

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(ibc_spark.__file__)))
    for entry in ("ibc_spark.session", "ibc_spark.pipelines.end_semester", "ibc_spark.ext.datapipe"):
        spec = JobSpec(
            job="t",
            entry=entry,
            environment="dev",
            master="local[2]",
            state_dir=None,
            output=None,
        )
        argv = spark_submit_argv(spec)
        assert argv[1] == f"PYTHONPATH={repo_root}", (entry, argv[1])
        app = next(a for a in argv if a.endswith(".py"))
        assert os.path.isfile(app), (entry, app)


def test_attestation_rotation_ordering(monkeypatch):
    """The driver-snapshot ordering: force-recheck first, then never-green
    (rows-only family), then previously-green OLDEST round first — the
    contract that drains the stale-attestation backlog while keeping
    sibling pairs co-snapshotted."""
    import __spark_entry__ as entry

    mapping = {f"q{i}": i for i in range(8)}
    monkeypatch.setattr(
        entry,
        "_last_green_round",
        lambda: {"q0": 5, "q1": 2, "q2": 4, "q5": 1, "q6": 3},
    )
    monkeypatch.setattr(entry, "_FORCE_RECHECK", {"q2"})
    got = list(entry._ordered(mapping))
    # q2 forced; q3/q4/q7 never green; greens oldest-first q5(r1) q1(r2)
    # q6(r3) q0(r5)
    assert got == ["q2", "q3", "q4", "q7", "q5", "q1", "q6", "q0"]
