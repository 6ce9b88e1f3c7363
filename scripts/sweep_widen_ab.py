"""A/B the scan width of ``ibc_spark.ext.width``: time registry entries
with ``width.widen`` replaced by one arm — ``t1`` (one task), ``chain``
(the chain width) or ``compute`` (the compute width), each width read
from the session — in a fresh session per arm, cold-timed by
``ibc_spark.tools.timing``, median of BENCH_RUNS (default 3).

Every call site looks ``width.widen`` up as a module attribute at call
time, so rebinding that one attribute reaches them all. An arm applies
the same leaf-size rule as ``widen`` (``width.repartition_below``) at its
own task count, whatever kernel class the call site names.

Run: ``SPARK_GRAFT_SF_DIR=<sf dir> python scripts/sweep_widen_ab.py
entry [entry ...]`` → JSON on stdout, progress on stderr.
``bench_records/README.md`` lists the command lines of the committed
ladders.
"""

from __future__ import annotations

import functools
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

ARMS = ("t1", "chain", "compute")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit(__doc__)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    from ibc_spark.ext import width
    from ibc_spark.registry import QUERIES
    from ibc_spark.tools.timing import cold_samples, median, warm_session

    original = width.widen
    results: dict[str, dict[str, float]] = {}
    tasks: dict[str, int] = {}
    for arm in ARMS:
        spark = warm_session(f"widen_ab_{arm}", sf_dir)
        n = 1 if arm == "t1" else width.tasks(spark, arm)
        tasks[arm] = n
        width.widen = lambda df, kernel, n=n: width.repartition_below(df, n)
        try:
            for name in names:
                build = functools.partial(QUERIES[name], spark, sf_dir)
                med = round(median(cold_samples(spark, build, runs)), 3)
                results.setdefault(name, {})[arm] = med
                print(f"{arm}({n}) {name}: {med:.2f}s", file=sys.stderr)
        finally:
            width.widen = original
            spark.stop()
    print(json.dumps({"sf": sf_dir, "runs": runs, "tasks": tasks, "results": results}))


if __name__ == "__main__":
    main()
