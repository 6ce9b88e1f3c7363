"""Benchmark of the ibc_spark engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see ``workloads.py``):

- ``registry_sf01``: registry entries at sf0.1, each collected: short
  relational queries, a Python/Arrow kernel entry and an availableNow
  stream catch-up;
- ``roster_sync``: the roster and end-of-semester pipelines, from
  generated sheets to committed state in a throwaway Postgres.

All load comes from this process: one client, closed loop, one
SparkSession on ``local[min(4, nproc)]`` with a fixed 2 GB driver heap for
the whole run. The registry workload reads the engine's fixed sf0.1 test
tables (seed 42), copied into ``perfbench/data``; the seed picks the order
of its requests and generates the roster sheets. Every file the run
writes lives under ``.bench_build/perfbench`` in the repository.
``--seconds`` sizes the operation list: one round of a workload per 10 s,
at least one. The outputs of every operation are checked after the timed
window, against oracle digests (``digests.json``) or the sheet
generator's ground truth.

End-to-end metrics: ``setup_s`` (session start, one warm-up read and one
warm-up operation of each kind; fixture work excluded), the median and
p90 latency of an operation, ``wall_s`` (sum of operation latencies),
``rows_per_s`` (rows delivered per second of ``wall_s``: result rows of
queries, sheet rows of syncs) and ``peak_rss_mb`` (driver JVM plus this
process, from ``VmHWM``).

With ``--trace 0`` the last line reports the end-to-end metrics. With
``--trace 1`` every operation runs twice, once plainly and once with the
trace wrappers on, alternating which goes first; the per-layer metrics come
from the traced runs and ``trace.overhead_s`` is traced minus plain time.
The full trace (spans, jobs) is written to ``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SF = 0.1
SF_DIR = os.path.join(HERE, "data", f"sf{SF}")
HEAP = "2g"  # driver JVM heap, fixed in size

# per-layer metrics printed as text only, to keep the last line short
TEXT_ONLY = ("exec.stages", "exec.failed_tasks", "sinks.upsert_rows_per_s",
             "persistreg.frames_released")

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "wall_s": "s",
    "rows_per_s": "rows/s", "peak_rss_mb": "MB",
}


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    """What one run shares: the session, paths, the tracer, and the stack
    of resources closed on every exit path."""

    def __init__(self, run_dir: str, sf_dir: str, cpus: int, tracer):
        self.run_dir, self.sf_dir, self.cpus, self.tracer = run_dir, sf_dir, cpus, tracer
        self.spark = None
        self.excluded = 0.0
        self._stack = contextlib.ExitStack()

    def __enter__(self) -> "Bench":
        return self

    def __exit__(self, *exc) -> None:
        try:
            self._stack.close()
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def enter(self, cm):
        return self._stack.enter_context(cm)

    @contextlib.contextmanager
    def setup_excluded(self):
        """Fixture work inside set-up that set-up time does not count."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t

    def start_spark(self) -> None:
        from ibc_spark.session import get_spark

        tmp = os.environ["TMPDIR"]
        self.spark = get_spark("perfbench", extra_conf={
            # a fixed heap size (-Xms = -Xmx): an adaptive heap grows or not
            # depending on how long collections take, which made peak RSS
            # follow the speed of the host rather than the workload
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{HEAP}",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        })
        self._stack.callback(self._stop_spark)

    def _stop_spark(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        return _hwm_mb(jvm) + _hwm_mb("self")


def run(b: Bench, workload, args) -> dict:
    from ibc_spark.io_.sources import read_table

    import spans

    tr = b.tracer
    workload.prepare(b)
    t0 = time.perf_counter()
    b.start_spark()
    start_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    read_table(b.spark, b.sf_dir, "nation").count()
    workload.warm_up(b)
    warmup_s = time.perf_counter() - t1 - b.excluded

    listener = None
    if tr.enabled:
        tr.patch_everywhere(read_table, "sources.read_table")
        b.enter(contextlib.closing(tr))  # puts the original functions back
        listener = spans.stream_listener()
        b.spark.streams.addListener(listener)
        tuples0 = workload.tuples_written()
    ops = workload.plan(b, args.seed, args.seconds)
    if tr.enabled:
        tr.mark_jobs_seen(b.spark)

    plain, traced, checks, failures = [], [], [], []
    rows_out = rows_all = 0
    for i, op in enumerate(ops):
        workload.before_op(b, op)
        modes = (False,) if not tr.enabled else ((False, True) if i % 2 == 0 else (True, False))
        for active in modes:
            tr.op, tr.active = i, active
            t = time.perf_counter()
            try:
                with tr.span("op"):
                    n, check = workload.run_op(b, op)
            except Exception as e:  # counted as a failed operation; the run goes on
                traceback.print_exc(file=sys.stderr)
                failures.append(f"{op}: {type(e).__name__}: {str(e)[:160]}")
                n, check = 0, None
                b.spark.catalog.clearCache()
            dt = time.perf_counter() - t
            print(f"op {i} {op} {'traced' if active else 'plain'} {dt:.3f}s", file=sys.stderr)
            tr.active = False
            tr.collect_jobs(b.spark, keep=active)
            (traced if active else plain).append(dt)
            rows_all += n
            rows_out += 0 if active else n
            checks.append(check)

    for check in checks:
        if check is None:
            continue
        try:
            verdict = check()
        except Exception as e:
            verdict = f"check failed: {type(e).__name__}: {e}"
        if verdict is not True:
            failures.append(verdict)

    wall = sum(plain)
    out = {
        "attempted": len(checks),
        "failures": failures,
        "samples": len(plain),
        "end_to_end": {
            "setup_s": start_s + warmup_s,
            "op_p50_s": statistics.median(plain),
            # inclusive: stays within the samples when a run has only a few
            "op_p90_s": (statistics.quantiles(plain, n=10, method="inclusive")[-1]
                         if len(plain) > 1 else plain[0]),
            "wall_s": wall,
            "rows_per_s": rows_out / wall,
            "peak_rss_mb": b.peak_rss_mb(),
        },
    }
    if tr.enabled:
        if listener is not None:
            deadline = time.time() + 10
            while listener.terminated < len(listener.started) and time.time() < deadline:
                time.sleep(0.05)
            b.spark.streams.removeListener(listener)
        tuples = workload.tuples_written() - tuples0
        out["per_layer"] = per_layer(tr, b, start_s, warmup_s, listener,
                                     overhead=sum(traced) - wall,
                                     tuples_per_row=tuples / rows_all if rows_all else 0.0)
        with open(os.path.join(WORK, f"trace_{args.workload}_{args.seed}.json"), "w") as f:
            json.dump({"spans": [vars(s) for s in tr.spans], "jobs": [vars(j) for j in tr.jobs]}, f)
    return out


def per_layer(tr, b, start_s, warmup_s, listener, overhead, tuples_per_row) -> dict:
    import spans

    ops = [(s.start, s.end) for s in tr.spans if s.name == "op"]
    job_iv = [(j.start, j.end) for j in tr.jobs]
    gap = sum(spans.sched_gap(s, e, job_iv) for s, e in ops)
    job_s = sum(e - s for s, e in ops) - gap
    run_s = sum(j.run_s for j in tr.jobs)
    upsert_s = tr.total_s("sinks.upsert")
    streams = spans.stream_totals(listener, ops)
    plans = tr.plans
    mb = 1e6
    return {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "sources.read_table_calls": (tr.counts["sources.read_table.calls"], "count"),
        "sources.read_table_s": (tr.total_s("sources.read_table"), "s"),
        "sources.read_table_jobs": (tr.jobs_in("sources.read_table"), "count"),
        "sources.sheet_fetch_s": (tr.total_s("sources.sheet_fetch"), "s"),
        "sources.rows_to_frame_s": (tr.total_s("sources.rows_to_frame"), "s"),
        "registry.build_s": (tr.total_s("registry.build"), "s"),
        "registry.build_jobs": (tr.jobs_in("registry.build"), "count"),
        "plan.plan_s": (plans["plan_ms"] / 1e3, "s"),
        "plan.exchanges": (plans["exchanges"], "count"),
        "plan.bhj": (plans["bhj"], "count"),
        "plan.python_nodes": (plans["python_nodes"], "count"),
        "exec.jobs": (len(tr.jobs), "count"),
        "exec.stages": (sum(j.stages for j in tr.jobs), "count"),
        "exec.tasks": (sum(j.tasks for j in tr.jobs), "count"),
        "exec.failed_tasks": (sum(j.failed_tasks for j in tr.jobs), "count"),
        "exec.sched_gap_s": (gap, "s"),
        "exec.job_s": (job_s, "s"),
        "exec.executor_run_s": (run_s, "s"),
        "exec.executor_cpu_s": (sum(j.cpu_s for j in tr.jobs), "s"),
        "exec.core_util": (run_s / (job_s * b.cpus) if job_s else 0.0, "ratio"),
        "exec.shuffle_read_mb": (sum(j.shuffle_read_b for j in tr.jobs) / mb, "MB"),
        "exec.shuffle_write_mb": (sum(j.shuffle_write_b for j in tr.jobs) / mb, "MB"),
        "exec.spill_mb": (sum(j.spill_b for j in tr.jobs) / mb, "MB"),
        "ext.python_stage_run_s": (plans["python_ms"] / 1e3, "s"),
        "ext.python_rows": (plans["python_rows"], "rows"),
        "ext.python_mb": (plans["python_b"] / mb, "MB"),
        "persistreg.release_s": (tr.total_s("persistreg.release"), "s"),
        "persistreg.frames_released": (tr.counts["persistreg.frames_released"], "count"),
        "pipelines.run_s": (tr.total_s("pipelines.run"), "s"),
        "pipelines.state_write_s": (tr.total_s("pipelines.state_write"), "s"),
        "pipelines.quarantine_rows": (tr.counts["pipelines.quarantine_rows"], "rows"),
        "sinks.upsert_s": (upsert_s, "s"),
        "sinks.upsert_rows_per_s": (tr.counts["sinks.upsert_rows"] / upsert_s if upsert_s else 0.0, "rows/s"),
        "pg.tuples_written_per_row": (tuples_per_row, "ratio"),
        "streaming.startup_s": (streams["startup_s"], "s"),
        "streaming.trigger_s": (streams["trigger_s"], "s"),
        "streaming.state_commit_s": (streams["state_commit_s"], "s"),
        "streaming.state_rows": (streams["state_rows"], "rows"),
        "streaming.batches": (streams["batches"], "count"),
        "trace.overhead_s": (overhead, "s"),
    }


def _num(v):
    """Per-layer values to the microsecond, so that the whole last line
    stays under 2000 characters; end-to-end values keep every digit."""
    return v if isinstance(v, int) else round(float(v), 6)


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description="ibc_spark benchmark (one workload per run)")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for needed in ("ibc_spark/__init__.py", "tests/parity.py", "perfbench/data/sf0.1/SHA256SUMS"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found; run from a checkout of the repository",
                  file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    # Python workers import ibc_spark too: they inherit the environment
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    cpus = min(4, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The engine ships an 8 GB driver heap default; the sf0.1 working set
    # needs far less, and no operation spills in 2 GB.
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    # no hsperfdata files: every JVM, the launcher's too, would write them to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")

    import tempfile

    import spans

    tempfile.tempdir = None  # re-read TMPDIR
    workload = workloads.WORKLOADS[args.workload]()
    with Bench(run_dir, SF_DIR, cpus, spans.Tracer(enabled=bool(args.trace))) as b:
        res = run(b, workload, args)

    failures = res["failures"]
    print(f"workload {args.workload}: seed {args.seed}, {res['samples']} operations, "
          f"local[{cpus}], sf{SF}")
    for name, value in res["end_to_end"].items():
        print(f"  {name:<28} {value:>14.6f} {END_TO_END[name]}")
    print(f"  {'failed_frac':<28} {len(failures) / res['attempted']:>14.6f} ratio")
    for name, (value, unit) in res.get("per_layer", {}).items():
        print(f"  {name:<28} {value:>14.6f} {unit}")
    for f in failures:
        print(f"  FAILED {f}")
    for name, reason in workload.oracle_gaps().items():
        print(f"  {name}: checked against the engine's recorded result ({reason})")

    if args.trace:
        metrics = {k: {"value": _num(v), "unit": u}
                   for k, (v, u) in res["per_layer"].items() if k not in TEXT_ONLY}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in res["end_to_end"].items()}
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": len(failures), "metrics": metrics}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
