"""A/B the scan-width helpers of ``ibc_spark.ext.dedup``: time registry
entries with both ``widen_for_compute`` and ``widen_for_arrow_chain``
replaced by one variant — ``none`` (identity), ``w8`` or ``w32``
(repartition when the frame has fewer partitions) — in a fresh session
per variant, cold-timed by ``ibc_spark.tools.timing``, median of
BENCH_RUNS (default 3).

The variant is rebound in every loaded ``ibc_spark`` module whose globals
hold an original helper: ``ext.dedup`` itself (function-local imports
read it at call time) and each module that bound the name at import.

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

VARIANTS = [("none", None), ("w8", 8), ("w32", 32)]


def _variant(width: int | None):
    """A widen function: None → identity; n → repartition-if-narrower."""

    def widen(df):
        if width is None:
            return df
        if df.rdd.getNumPartitions() < width:
            return df.repartition(width)
        return df

    return widen


def _binding_sites(originals) -> list[tuple[object, str, object]]:
    """(module, attribute, original) for every loaded ibc_spark global
    that is one of ``originals``."""
    return [
        (mod, attr, val)
        for name, mod in list(sys.modules.items())
        if name == "ibc_spark" or name.startswith("ibc_spark.")
        for attr, val in list(vars(mod).items())
        if any(val is o for o in originals)
    ]


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit(__doc__)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    from ibc_spark.ext import dedup
    from ibc_spark.registry import QUERIES
    from ibc_spark.tools.timing import cold_samples, median, warm_session

    sites = _binding_sites((dedup.widen_for_compute, dedup.widen_for_arrow_chain))
    results: dict[str, dict[str, float]] = {}
    for label, width in VARIANTS:
        spark = warm_session(f"widen_ab_{label}", sf_dir)
        for mod, attr, _orig in sites:
            setattr(mod, attr, _variant(width))
        try:
            for name in names:
                build = functools.partial(QUERIES[name], spark, sf_dir)
                med = round(median(cold_samples(spark, build, runs)), 3)
                results.setdefault(name, {})[label] = med
                print(f"{label} {name}: {med:.2f}s", file=sys.stderr)
        finally:
            for mod, attr, orig in sites:
                setattr(mod, attr, orig)
            spark.stop()
    print(json.dumps({"sf": sf_dir, "runs": runs, "results": results}))


if __name__ == "__main__":
    main()
