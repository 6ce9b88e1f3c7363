"""Per-entry job-level profile: wall seconds, Spark job count, and the
top per-job durations — the guide §1 'where does the time go' measurement
for multi-job entries (the suffix/_sa family runs dozens of tiny jobs
whose fixed scheduling cost dominates at sf0.1; this script makes that
visible and attributable).

Usage: python scripts/profile_jobs.py name1,name2,... [runs]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ibc_spark.registry import QUERIES  # noqa: E402
from ibc_spark.tools.timing import cold_samples, warm_session  # noqa: E402


def main() -> None:
    names = [n.strip() for n in sys.argv[1].split(",") if n.strip()]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = warm_session("ibc_spark_profile", sf_dir)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs_snapshot():
        jl = store.jobsList(None)
        out = {}
        for i in range(jl.size()):
            j = jl.apply(i)
            sub = j.submissionTime()
            comp = j.completionTime()
            dur = None
            if sub.isDefined() and comp.isDefined():
                dur = (comp.get().getTime() - sub.get().getTime()) / 1000.0
            out[j.jobId()] = (j.description() or "", dur, j.numTasks())
        return out

    def stages_of_job(jid):
        """(stage_id, name, duration, n_tasks, exec_run_ms, py_ms) rows."""
        rows = []
        try:
            jd = store.job(jid)
            sids = jd.stageIds()
        except Exception:
            return rows
        for i in range(sids.size()):
            sid = sids.apply(i)
            try:
                sdatas = store.stageData(sid, False, None, False, None)
            except Exception:
                continue
            for si in range(sdatas.size()):
                s = sdatas.apply(si)
                sub = s.submissionTime()
                comp = s.completionTime()
                dur = None
                if sub.isDefined() and comp.isDefined():
                    dur = (comp.get().getTime() - sub.get().getTime()) / 1000.0
                rows.append(
                    (
                        sid,
                        s.name().split("\n")[0][:70],
                        dur,
                        s.numCompleteTasks(),
                        s.executorRunTime() / 1000.0,
                        s.shuffleFetchWaitTime() / 1000.0,
                    )
                )
        return rows

    for name in names:
        for r in range(runs):
            before = set(jobs_snapshot())
            sc.setJobDescription(f"profile:{name}")
            [wall] = cold_samples(spark, lambda: QUERIES[name](spark, sf_dir), 1)
            sc.setJobDescription(None)
            after = jobs_snapshot()
            new = {jid: v for jid, v in after.items() if jid not in before}
            tot_job = sum(v[1] or 0 for v in new.values())
            tot_tasks = sum(v[2] for v in new.values())
            print(
                f"{name} run{r}: wall={wall:.2f}s jobs={len(new)} "
                f"sum_job_time={tot_job:.2f}s tasks={tot_tasks} "
                f"sched_gap={wall - tot_job:.2f}s"
            )
            top = sorted(new.items(), key=lambda kv: -(kv[1][1] or 0))[:8]
            for jid, (_desc, dur, ntasks) in top:
                print(f"    job {jid}: {dur:.2f}s tasks={ntasks}")
                if os.environ.get("PROFILE_STAGES") and (dur or 0) > 0.5:
                    for sid, nm, sdur, nt, runms, fw in stages_of_job(jid):
                        print(
                            f"        stage {sid} [{nm}] dur={sdur}s "
                            f"tasks={nt} exec={runms:.2f}s fetchwait={fw:.2f}s"
                        )
    spark.stop()


if __name__ == "__main__":
    main()
