"""The benchmark's workloads and what one operation of each does.

An operation is one registry query (build the frame, collect its rows),
one pipeline sync (fetch a sheet, run the pipeline, write state, upsert
into Postgres) or one stream catch-up (an availableNow ``streaming_*``
entry, collected). A workload turns the seed into a list of operations;
``run_op`` runs one and returns the rows it delivered and a check that the
runner calls after the timed window.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import time

import fixtures

# Sub-second relational and reference-surface queries with small results:
# fixed per-query cost (schema inference, planning, job scheduling).
INTERACTIVE = (
    "q6_forecast_revenue q12_priority_by_linestatus window_rank_top3 pivot_status_counts "
    "validate_quarantine merge_upsert_state"
).split()
# An LLM-data entry whose time goes to Python/Arrow kernels and shuffle.
CORPUS = ["multimodal_audio_stereo_flac"]
# An availableNow stream catch-up: state store, checkpoints, watermarks.
STREAMS = ["streaming_hourly_rollup"]

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------


def result_digest(columns, rows, types) -> str:
    """Digest of a result in the normalized form of the repository's exact
    parity check: columns lower-cased and sorted, rows normalized and
    sorted, the canonical type of each column."""
    from tests.parity import normalize_rows

    lower = [c.lower() for c in columns]
    cols, norm = normalize_rows(lower, rows)
    typed = [types[lower.index(c)] for c in cols]
    return hashlib.sha256(repr((cols, norm, typed)).encode()).hexdigest()


def spark_digest(df, rows) -> str:
    from tests.parity import _canon_type

    types = [_canon_type(f.dataType.simpleString()) for f in df.schema.fields]
    return result_digest(df.columns, [tuple(r) for r in rows], types)


@functools.cache
def expected_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)["entries"]


# ---------------------------------------------------------------------------
# Registry workloads
# ---------------------------------------------------------------------------


ROUND_SECONDS = 10  # --seconds per round of a workload's operations


def _rounds(seconds: float) -> int:
    return max(1, round(seconds / ROUND_SECONDS))


class RegistryWorkload:
    """Registry entries at sf0.1. A round runs every pool entry once, in
    an order drawn from the seed, so the mix is the same on every seed."""

    def __init__(self, pool, warmups):
        self.pool, self.warmups = list(pool), list(warmups)

    def prepare(self, b) -> None:
        pass

    def oracle_gaps(self) -> dict[str, str]:
        """Pool entries whose recorded digest is not the oracle's, with why."""
        digests = expected_digests()
        return {n: digests[n]["reason"] for n in self.pool if digests[n]["source"] != "duckdb"}

    def warm_up(self, b) -> None:
        """Untimed operations on entries outside the pool, one of each kind
        the pool holds."""
        for name in self.warmups:
            self.run_op(b, name)

    def plan(self, b, seed: int, seconds: float) -> list[str]:
        rng = random.Random(seed)
        ops: list[str] = []
        for _ in range(_rounds(seconds)):
            batch = list(self.pool)
            rng.shuffle(batch)
            ops.extend(batch)
        return ops

    def before_op(self, b, op) -> None:
        pass

    def tuples_written(self) -> int:
        return 0

    def run_op(self, b, name: str):
        from ibc_spark.ext.persistreg import release_checkpoints, release_persisted
        from ibc_spark.registry import QUERIES

        tr, spark = b.tracer, b.spark
        with tr.span("registry.build"):
            df = QUERIES[name](spark, b.sf_dir)
        with tr.span("exec"):
            rows = df.collect()
        if tr.active:
            tr.add_plan(df)
        with tr.span("persistreg.release"):
            released = release_persisted() + release_checkpoints(spark)
            spark.catalog.clearCache()
        if tr.active:
            tr.counts["persistreg.frames_released"] += released

        def check():
            want = expected_digests().get(name)
            if want is None:
                return f"{name}: no recorded digest"
            return spark_digest(df, rows) == want["sha256"] or f"{name}: result digest differs"

        return len(rows), check


# ---------------------------------------------------------------------------
# roster_sync
# ---------------------------------------------------------------------------

_PG_TYPES = {"bigint": "bigint", "int": "integer", "string": "text", "boolean": "boolean"}
_PG_KEYS = {"users": ["user_id"], "consultants": ["user_id"]}
_STEPS = ("roster", "end_semester")


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _ddl(table: str, schema) -> str:
    cols = ", ".join(f'"{f.name}" {_PG_TYPES[f.dataType.simpleString()]}' for f in schema.fields)
    keys = ", ".join(f'"{k}"' for k in _PG_KEYS[table])
    return f'CREATE TABLE "{table}" ({cols}, PRIMARY KEY ({keys}))'


class RosterSync:
    """Seeded rounds of the roster and end-of-semester pipelines against a
    throwaway Postgres. A round is a roster sync then an end-of-semester
    sync, starting from the same base state and an empty database; each
    sync is one operation. The seed generates the sheet payload and its
    ground truth."""

    def __init__(self, n_base: int, n_rows: int):
        self.n_base, self.n_rows = n_base, n_rows
        self.rounds: dict[object, dict] = {}

    def oracle_gaps(self) -> dict[str, str]:
        return {}

    def prepare(self, b) -> None:
        from pg import Postgres
        from ibc_spark.schemas import CONSULTANTS_SCHEMA, USERS_SCHEMA

        self.pg = b.enter(Postgres(os.path.join(b.run_dir, "pg")))
        self.pg.execute(_ddl("users", USERS_SCHEMA), _ddl("consultants", CONSULTANTS_SCHEMA))
        self.dir = os.path.join(b.run_dir, "roster")

    def _round(self, key, seed: int, n_base: int, n_rows: int) -> dict:
        """Payload file, base state and ground truth of one round."""
        rnd = fixtures.roster_round(seed, n_base, n_rows)
        d = os.path.join(self.dir, f"round_{key}")
        os.makedirs(d)
        rnd["roster_url"] = fixtures.write_payload(os.path.join(d, "roster.json"), rnd["roster_rows"])
        rnd["n_base"], rnd["dir"] = n_base, d
        return rnd

    def _write_base(self, rnd) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from ibc_spark.schemas import CONSULTANTS_SCHEMA, USERS_SCHEMA

        users, consultants = fixtures.base_state_rows(rnd["n_base"])
        for name, rows, schema in (
            ("users", users, USERS_SCHEMA),
            ("consultants", consultants, CONSULTANTS_SCHEMA),
        ):
            path = os.path.join(rnd["dir"], "base", f"{name}.parquet")
            os.makedirs(path)
            table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                         schema=to_arrow_schema(schema))
            pq.write_table(table, os.path.join(path, "part-0.parquet"))

    def _reset_pg(self) -> None:
        self.pg.execute('TRUNCATE "users", "consultants"')

    def warm_up(self, b) -> None:
        """One full-size round, a sync of each kind: sheet fetch, ingest,
        both pipelines, state read and write, and the Postgres upsert from
        executors."""
        with b.setup_excluded():
            self.rounds["warm"] = self._round("warm", 0, self.n_base, self.n_rows)
            self._write_base(self.rounds["warm"])
        for step in _STEPS:
            self.run_op(b, ("warm", step))
        with b.setup_excluded():
            self._reset_pg()

    def plan(self, b, seed: int, seconds: float) -> list[tuple[int, str]]:
        rng = random.Random(seed)
        ops = []
        for r in range(_rounds(seconds)):
            self.rounds[r] = self._round(r, rng.randrange(2**31), self.n_base, self.n_rows)
            self._write_base(self.rounds[r])
            ops.extend((r, step) for step in _STEPS)
        return ops

    def before_op(self, b, op) -> None:
        if op[1] == "roster":
            self._reset_pg()

    def tuples_written(self) -> int:
        """Tuples inserted or updated so far. A backend reports its counts
        when it exits, so this first waits for the upsert connections to end."""
        deadline = time.monotonic() + 30
        while int(self.pg.execute(
                "SELECT count(*) FROM pg_stat_activity WHERE datname = current_database() "
                "AND pid <> pg_backend_pid()")[0][0]) and time.monotonic() < deadline:
            time.sleep(0.05)
        rows = self.pg.execute(
            "SELECT tup_inserted + tup_updated FROM pg_stat_database WHERE datname = current_database()")
        return int(rows[0][0])

    def run_op(self, b, op):
        from ibc_spark.io_ import pgwire
        from ibc_spark.io_.sinks import dbapi_upsert
        from ibc_spark.io_.sources import dataframe_from_rows, fetch_sheet_rows
        from ibc_spark.pipelines import end_semester, staffing_roster
        from ibc_spark.pipelines.cli import metrics_row

        key, step = op
        rnd = self.rounds[key]
        tr, spark = b.tracer, b.spark
        # a step reads each table from the newest earlier step that wrote it
        sources = [os.path.join(rnd["dir"], s) for s in reversed(_STEPS[: _STEPS.index(step)])]
        sources.append(os.path.join(rnd["dir"], "base"))

        def state(name):
            for d in sources:
                p = os.path.join(d, f"{name}.parquet")
                if os.path.exists(p):
                    return spark.read.parquet(p)
            raise FileNotFoundError(f"no {name} state for the {step} sync")

        n_sheet = 0
        if step == "roster":
            with tr.span("sources.sheet_fetch"):
                rows = fetch_sheet_rows(rnd["roster_url"])
            with tr.span("sources.rows_to_frame"):
                raw = dataframe_from_rows(spark, rows)
            n_sheet = len(rows)
        with tr.span("pipelines.run"):
            if step == "roster":
                res = staffing_roster.run(raw, state("users"), state("consultants"))
                tables = {"users": res.users, "consultants": res.consultants}
            else:
                res = end_semester.run(state("consultants"))
                tables = {"consultants": res.consultants}
            summary = metrics_row(res.metrics)
        if tr.active:
            tr.add_plan(res.metrics)
        out = os.path.join(rnd["dir"], step)
        with tr.span("pipelines.state_write"):
            for name, df in tables.items():
                df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
        factory = functools.partial(pgwire.connect, port=self.pg.port)
        with tr.span("sinks.upsert"):
            for name in tables:
                written = spark.read.parquet(os.path.join(out, f"{name}.parquet"))
                dbapi_upsert(written.repartition(b.cpus), table=name, key_cols=_PG_KEYS[name],
                             connection_factory=factory, paramstyle="format")
        with tr.span("persistreg.release"):
            spark.catalog.clearCache()
        if tr.active:
            tr.counts["pipelines.quarantine_rows"] += summary.get("invalid_rows", 0)
            tr.counts["sinks.upsert_rows"] += sum(
                _parquet_rows(os.path.join(out, f"{n}.parquet")) for n in tables)
        pg_counts = None
        if step == "end_semester":
            pg_counts = {t: int(self.pg.execute(f'SELECT count(*) FROM "{t}"')[0][0]) for t in _PG_KEYS}
        truth = rnd["truth"]

        def check():
            want = truth[step]
            got = {k: summary.get(k) for k in want}
            if got != want:
                return f"{step} sync of round {key}: summary {got} != expected {want}"
            if pg_counts is not None and pg_counts != truth["tables"]:
                return f"round {key}: postgres row counts {pg_counts} != expected {truth['tables']}"
            return True

        return n_sheet, check


WORKLOADS = {
    "registry_sf01": lambda: RegistryWorkload(
        INTERACTIVE + CORPUS + STREAMS,
        ["q22_idle_rich_customers", "multimodal_audio_flac", "streaming_sketch_kmv"]),
    "roster_sync": lambda: RosterSync(n_base=1_000, n_rows=2_000),
}
