"""Record the expected result of every registry entry the benchmark runs.

For each entry the DuckDB oracle from ``ibc_spark.registry.ORACLES`` runs
over the benchmark's copy of the sf0.1 test tables, in a child process with a time limit, and
the digest of its result (normalized as by the repository's exact parity
check) is stored in ``digests.json`` next to this file. The engine then runs
the entry once: an entry whose oracle did not finish, failed, or disagrees
with the engine is recorded with ``"source": "engine"``, the engine's own
digest and the reason, so the benchmark still catches a changed output and
the gap stays visible.

Run from the repository root, once, whenever the pools or the oracles
change::

    python3 perfbench/digests.py [--timeout SECONDS]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import workloads  # noqa: E402
from run import SF, SF_DIR  # noqa: E402


def _oracle_digest(sf_dir: str, name: str, conn) -> None:
    import duckdb

    from ibc_spark.registry import ORACLES
    from tests.parity import duck_result

    try:
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
        cols, rows, types = duck_result(con, ORACLES[name])
        conn.send(("ok", workloads.result_digest(cols, rows, types), len(rows)))
    except Exception as e:  # reported as a gap, not raised
        conn.send(("error", f"oracle failed: {type(e).__name__}: {str(e)[:200]}", 0))


def oracle_digest(sf_dir: str, name: str, timeout: float):
    ctx = multiprocessing.get_context("spawn")
    parent, child = ctx.Pipe(duplex=False)
    p = ctx.Process(target=_oracle_digest, args=(sf_dir, name, child))
    p.start()
    try:
        if parent.poll(timeout):
            return parent.recv()
        return ("error", f"oracle did not finish in {timeout:.0f} s at sf{SF}", 0)
    finally:
        p.kill()
        p.join()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--timeout", type=float, default=300.0)
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    names = sorted({*workloads.INTERACTIVE, *workloads.CORPUS, *workloads.STREAMS})
    oracle = {}
    for name in names:
        oracle[name] = oracle_digest(SF_DIR, name, args.timeout)
        print(name, *oracle[name], file=sys.stderr, flush=True)

    from ibc_spark.ext.persistreg import release_checkpoints, release_persisted
    from ibc_spark.registry import QUERIES
    from ibc_spark.session import get_spark

    spark = get_spark("perfbench_digests")
    entries = {}
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        rows = df.collect()
        got = workloads.spark_digest(df, rows)
        status, value, _n = oracle[name]
        if status == "ok" and value == got:
            entries[name] = {"sha256": got, "rows": len(rows), "source": "duckdb"}
        else:
            reason = value if status != "ok" else "engine result differs from the oracle"
            entries[name] = {"sha256": got, "rows": len(rows), "source": "engine", "reason": reason}
        release_persisted()
        release_checkpoints(spark)
        spark.catalog.clearCache()
    spark.stop()
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump({"sf": SF, "entries": entries}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
