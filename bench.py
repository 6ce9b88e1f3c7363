"""Benchmark harness — times the engine's queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines to stdout: first the full per-query map (the
permanent record), then a compact summary line (total + the top-10
slowest queries + query count, <1.5 KB) — the compact line goes LAST
because the driver captures only the tail of the output, and a full
per-query map overflows that window.

Each query runs $BENCH_RUNS times (default 3) and reports the MEDIAN of
cold runs (``ibc_spark.tools.timing.cold_samples``: noop write, then
every persist, checkpoint block and the catalog cache released). Entries
whose median exceeds SLOW_THRESHOLD_SEC are topped up to SLOW_RUNS runs.
$BENCH_NAMES (comma-separated) restricts the pass to a subset. Each
entry's median goes to stderr as it finishes.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Rebuild the session every N queries: accumulated session state (python
# daemon heaps, executor-side caches) inflated mid-run medians up to 2.7x
# for the pandas-UDF-heavy dedup family; a stop+rebuild costs ~1.3 s.
RESTART_EVERY = 25
# A single 3-run median on a shared host swung multi-second entries up
# to 5.5x between passes, so entries above the threshold get extra runs.
SLOW_THRESHOLD_SEC = 3.0
SLOW_RUNS = 5


def main() -> None:
    from ibc_spark.registry import QUERIES
    from ibc_spark.tools.timing import cold_samples, median, warm_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # progress bars are disabled in get_spark (static conf) so stdout stays
    # parseable JSON.
    spark = warm_session("ibc_spark_bench", sf_dir)

    names = sorted(QUERIES)
    only = os.environ.get("BENCH_NAMES")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in wanted]
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    run_counts: dict[str, int] = {}
    t_all = time.perf_counter()

    for qi, name in enumerate(names):
        if qi and qi % RESTART_EVERY == 0:
            spark.stop()
            spark = warm_session("ibc_spark_bench", sf_dir)
        try:
            build = functools.partial(QUERIES[name], spark, sf_dir)
            samples = cold_samples(spark, build, runs)
            if median(samples) > SLOW_THRESHOLD_SEC:
                samples = sorted(samples + cold_samples(spark, build, SLOW_RUNS - runs))
            run_counts[name] = len(samples)
            timings[name] = round(median(samples), 4)
            print(
                f"BENCH {name}: {timings[name]:.2f}s median of {len(samples)}",
                file=sys.stderr,
            )
        except Exception as exc:  # a failing query must not hide the others
            timings[name] = -1.0
            print(f"BENCH ERROR {name}: {exc}", file=sys.stderr)

    total = round(time.perf_counter() - t_all, 4)
    # Host load (1/5/15-min averages), taken after the run so the 15-min
    # average covers most of it: deltas between passes are read against it.
    load = [round(x, 2) for x in os.getloadavg()]
    methodology = f"cold+session-refresh/{RESTART_EVERY}"

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    sys.stderr.flush()
    # Full per-query record first ...
    print(
        json.dumps(
            {
                "metric": "ibc_spark_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "runs_per_query": runs,
                "methodology": methodology,
                "load": load,
                "run_counts": run_counts,
            }
        ),
        flush=True,
    )
    # ... compact summary LAST so it survives the driver's output-tail
    # capture intact (top-10 slowest + count; ~0.9 KB).
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(
        json.dumps(
            {
                "metric": "ibc_spark_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": top10,
                "sf": sf_val,
                "n_queries": len(timings),
                "runs_per_query": runs,
                "extra_runs_over_sec": SLOW_THRESHOLD_SEC,
                "n_extra_run_entries": sum(1 for c in run_counts.values() if c > runs),
                "methodology": methodology,
                "load": load,
                "sum_median_sec": round(sum(t for t in timings.values() if t > 0), 2),
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
