"""Scale sweep: measure time-vs-sf exponents for the structural entries
(VERDICT r7 #5 — the 100 TB argument rested on plan shape alone; this adds
the empirical point beyond sf0.1).

Runs each entry at sf0.01 / sf0.1 / sf1 (sf1 from ``gen_scale_sf.py``,
10x sf0.1 with similarity-preserving per-replica transforms) under the
bench's cold timing (``ibc_spark.tools.timing``, median of BENCH_RUNS),
then fits the per-decade
scaling exponent  e = log10(t_sf1 / t_sf0.1).  e <= ~1 is linear; the
0.01 -> 0.1 decade is reported too but is dominated by fixed overhead at
these sizes (sub-second queries), so the 0.1 -> 1 decade is the signal.

Run: ``python scripts/scale_sweep.py [entry ...]`` -> JSON on stdout,
progress on stderr. With ``BENCH_RUNS=1`` and every registry name on argv
it is the full-registry triage scan (sf0.1 vs sf1 per entry); an entry
that fails is recorded as -1.0 and the sweep goes on.

STREAMING CAVEAT (r10): sweep streaming entries with ONE SF per process
(IBC_SWEEP_SFS=sf10 ...). The per-SF session restart (spark.stop() + new
SparkContext in the same JVM) leaves RocksDB state-store maintenance
threads pointed at the DEAD StateStoreCoordinator endpoint; a heavy
streaming catch-up batch in the third session then crawls on ~2 cores
(observed: sf10 sessionize hung >11 min vs 57 s in a fresh process).
"""

from __future__ import annotations

import functools
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from ibc_spark.tools.timing import scale_dir  # noqa: E402

ENTRIES = [
    # banded near-dup family: candidate volume rides the band equi-join
    "dedup_minhash_verified",
    "dedup_minhash_lsh_portable",
    # linear hash/probe baselines
    "dedup_exact_content_sha",
    "decontaminate_bloom",
    # cluster-blocked semantic dedup (fixed k=4 -> clusters grow with the
    # corpus; production scaling keeps cluster size bounded by k ~ n/c)
    "dedup_semdedup",
    # bucketed ANN probe at fixed query count
    "ann_topk_lsh_portable",
    # node-scale iterative graph (three shuffles per iteration)
    "graph_pagerank_shuffled",
    # sessionization: per-user windows over disjoint users
    "interval_overlap_sessions",
    # directed containment: inverted-index count join (quadratic risk rides
    # the per-shingle co-occurrence volume)
    "dedup_ngram_containment",
    # stride-1 window explode (the most row-intensive dedup input shape)
    "dedup_duplicate_spans",
    # per-(doc,term) count shuffle + exact DECIMAL fold
    "text_token_entropy",
    # daily k-min sketches + lossless merge
    "sketch_kmv_rollup_merge",
]

# override with e.g. IBC_SWEEP_SFS=sf0.1,sf1,sf3,sf10 (sf1 from
# gen_scale_sf.py, sf3/sf10 from gen_scale_sfn.py)
SFS = [
    (name, scale_dir(name))
    for name in os.environ.get("IBC_SWEEP_SFS", "sf0.01,sf0.1,sf1").split(",")
]


def main() -> None:
    names = sys.argv[1:] or ENTRIES
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    from ibc_spark.registry import QUERIES
    from ibc_spark.tools.timing import cold_samples, median, warm_session

    results: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf_name, sf_dir in SFS:
        if not os.path.isdir(sf_dir):
            print(f"skip {sf_name}: {sf_dir} missing", file=sys.stderr)
            continue
        # fresh session per SF: no cross-SF cache/heap contamination
        spark = warm_session(f"scale_sweep_{sf_name}", sf_dir)
        for name in names:
            try:
                build = functools.partial(QUERIES[name], spark, sf_dir)
                med = median(cold_samples(spark, build, runs))
                print(f"{sf_name} {name}: {med:.2f}s", file=sys.stderr)
            except Exception as exc:  # record, keep sweeping
                med = -1.0
                print(f"{sf_name} {name}: ERROR {str(exc)[:200]}", file=sys.stderr)
            results[name][sf_name] = round(med, 3)
        spark.stop()

    # per-decade exponent of each SF pair (sf1 -> sf3 is a half decade,
    # normalized per decade)
    pairs = [
        ("exp_01_to_1", "sf0.1", "sf1", 1.0),
        ("exp_001_to_01", "sf0.01", "sf0.1", 1.0),
        ("exp_1_to_10", "sf1", "sf10", 1.0),
        ("exp_1_to_3", "sf1", "sf3", math.log10(3.0)),
    ]
    for r in results.values():
        for key, lo, hi, decades in pairs:
            if r.get(lo, 0) > 0 and r.get(hi, 0) > 0:
                r[key] = round(math.log10(r[hi] / r[lo]) / decades, 2)
    load = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps({"results": results, "runs": runs, "load_avg": load}))


if __name__ == "__main__":
    main()
