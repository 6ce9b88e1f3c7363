"""Spans and counters for the traced run.

Spans are recorded from the benchmark's own files, around calls into the
engine's public functions: a wrapper is swapped in for the duration of the
traced run and the original put back afterwards. ``read_table`` is bound by
name in many modules at import, so :meth:`Tracer.patch_everywhere` rebinds
it in every loaded ``ibc_spark`` module, not only in ``io_.sources``.

Spark-side work is read from the status store after each operation (jobs,
stages and their task metrics) and attributed to the innermost span whose
interval holds the job's submission time. Plan features and the Python
worker metrics come from the executed plan of the frame an operation
collects. Everything stays in memory until the run ends.

The span arithmetic at the bottom is pure and unit-tested.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import Counter
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's status store uses
    end: float
    parent: int  # index into Tracer.spans, -1 at the top
    op: int


@dataclass
class Job:
    start: float
    end: float
    tasks: int
    failed_tasks: int
    stages: int
    run_s: float
    cpu_s: float
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int


@dataclass
class Tracer:
    """Records spans, jobs and counts while ``active``. Wrappers installed
    by :meth:`patch_everywhere` stay in place for the whole run and record
    only while active, so the untraced twin of a traced operation runs the
    same code."""

    enabled: bool
    active: bool = False
    spans: list[Span] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)
    plans: Counter = field(default_factory=Counter)
    op: int = 0
    _stack: list[int] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)
    _last_job: int = -1

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self._stack[-1] if self._stack else -1, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            self.counts[name + ".calls"] += 1
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch_everywhere(self, fn, name: str) -> int:
        """Rebind ``fn`` in every loaded ``ibc_spark`` module that holds it
        under its own name. Returns the number of modules rebound."""
        if not self.enabled:
            return 0
        traced = self.wrap(fn, name)
        n = 0
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("ibc_spark") and getattr(mod, fn.__name__, None) is fn:
                self._patches.append((mod, fn.__name__, fn))
                setattr(mod, fn.__name__, traced)
                n += 1
        return n

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    close = restore

    # -- Spark status store ------------------------------------------------
    def mark_jobs_seen(self, spark) -> None:
        """Skip every job run so far (set-up and warm-up)."""
        jl = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        for i in range(jl.size()):
            self._last_job = max(self._last_job, jl.apply(i).jobId())

    def collect_jobs(self, spark, keep: bool = True) -> None:
        """Pull the jobs finished since the last call from the status store;
        with ``keep`` false they are only marked as seen."""
        if not self.enabled:
            return
        store = spark.sparkContext._jsc.sc().statusStore()
        jl = store.jobsList(None)
        fresh = []
        for i in range(jl.size()):
            j = jl.apply(i)
            if j.jobId() > self._last_job:
                fresh.append(j)
        for j in sorted(fresh, key=lambda j: j.jobId()):
            self._last_job = max(self._last_job, j.jobId())
            if not keep:
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            job = Job(sub.get().getTime() / 1e3, comp.get().getTime() / 1e3,
                      j.numTasks(), j.numFailedTasks(), 0, 0.0, 0.0, 0, 0, 0)
            sids = j.stageIds()
            for k in range(sids.size()):
                try:
                    attempts = store.stageData(sids.apply(k), False, None, False, None)
                except Exception:  # stage evicted from the store: counted as absent
                    continue
                for a in range(attempts.size()):
                    _add_stage(job, attempts.apply(a))
            self.jobs.append(job)

    def add_plan(self, df) -> None:
        self.plans.update(plan_features(df))

    # -- aggregation -------------------------------------------------------
    def jobs_in(self, name: str) -> int:
        """Jobs submitted while the innermost open span was ``name``."""
        owners = innermost_owner([(s.start, s.end, s.parent) for s in self.spans],
                                 [j.start for j in self.jobs])
        return sum(1 for o in owners if o >= 0 and self.spans[o].name == name)

    def total_s(self, name: str) -> float:
        """Self time of the spans called ``name``: nested spans, such as a
        table read inside a frame build, count only for themselves."""
        own = self_times([(s.start, s.end, s.parent) for s in self.spans])
        return sum(t for s, t in zip(self.spans, own) if s.name == name)


def _add_stage(job: Job, s) -> None:
    job.stages += 1
    job.run_s += s.executorRunTime() / 1e3
    job.cpu_s += s.executorCpuTime() / 1e9
    job.shuffle_read_b += s.shuffleReadBytes()
    job.shuffle_write_b += s.shuffleWriteBytes()
    job.spill_b += s.memoryBytesSpilled() + s.diskBytesSpilled()


def _plan_nodes(plan):
    """Every node of an executed plan, through adaptive and query-stage
    wrappers."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        yield name, node
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))


def _metric(node, key: str) -> int:
    m = node.metrics().get(key)
    return m.get().value() if m.isDefined() else 0


def plan_features(df) -> dict:
    """Node counts and Python-worker metrics of the executed plan of a
    frame that has run, and its planning time."""
    qe = df._jdf.queryExecution()
    out = Counter()
    for name, node in _plan_nodes(qe.executedPlan()):
        out["exchanges"] += name == "Exchange"
        out["bhj"] += name == "BroadcastHashJoin"
        if any(k in name for k in ("Python", "Pandas", "Arrow")):
            out["python_nodes"] += 1
            out["python_ms"] += _metric(node, "pythonTotalTime")
            out["python_rows"] += _metric(node, "pythonNumRowsReceived")
            out["python_b"] += _metric(node, "pythonDataSent") + _metric(node, "pythonDataReceived")
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary.isDefined():
            out["plan_ms"] += summary.get().durationMs()
    return out


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_listener():
    """A ``StreamingQueryListener`` keeping each query's start time and
    progress events; :func:`stream_totals` summarises them."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started: dict[str, float] = {}
            self.progress: dict[str, list[tuple[float, float, float, int]]] = {}
            self.terminated = 0

        def onQueryStarted(self, event):
            self.started[str(event.runId)] = _epoch(event.timestamp)

        def onQueryProgress(self, event):
            p = event.progress
            trigger_ms = p.durationMs.get("triggerExecution", 0)
            ops = p.stateOperators or []
            self.progress.setdefault(str(p.runId), []).append((
                _epoch(p.timestamp) + trigger_ms / 1e3,
                trigger_ms / 1e3,
                sum(o.commitTimeMs for o in ops) / 1e3,
                sum(o.numRowsTotal for o in ops),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

    return Listener()


def stream_totals(listener, windows) -> dict[str, float]:
    """Startup, trigger and state-commit seconds, final state rows and
    batches of the queries started inside one of ``windows``."""
    out = {"startup_s": 0.0, "trigger_s": 0.0, "state_commit_s": 0.0, "state_rows": 0, "batches": 0}
    for run_id, start in listener.started.items():
        events = sorted(listener.progress.get(run_id, []))
        if not events or not any(s <= start <= e for s, e in windows):
            continue
        out["startup_s"] += events[0][0] - start
        out["trigger_s"] += sum(e[1] for e in events)
        out["state_commit_s"] += sum(e[2] for e in events)
        out["state_rows"] += events[-1][3]
        out["batches"] += len(events)
    return out


# ---------------------------------------------------------------------------
# Span arithmetic
# ---------------------------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> list[float]:
    """Each span's duration minus the part of it its children cover.
    ``spans`` are (start, end, parent) with parent an index or -1."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s, e, p in spans:
        if p >= 0:
            children.setdefault(p, []).append((s, e))
    out = []
    for i, (s, e, _p) in enumerate(spans):
        clipped = [(max(s, cs), min(e, ce)) for cs, ce in children.get(i, [])]
        out.append((e - s) - union_length(clipped))
    return out


def sched_gap(start: float, end: float, jobs) -> float:
    """Wall time of [start, end] during which no Spark job ran."""
    clipped = [(max(start, s), min(end, e)) for s, e in jobs]
    return (end - start) - union_length(clipped)


def innermost_owner(spans, times) -> list[int]:
    """For each time, the index of the innermost span holding it, or -1.
    Spans nest, so the holder that starts last is the innermost."""
    out = []
    for t in times:
        best, best_start = -1, None
        for i, (s, e, _p) in enumerate(spans):
            if s <= t <= e and (best_start is None or s >= best_start):
                best, best_start = i, s
        out.append(best)
    return out
