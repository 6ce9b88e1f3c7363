"""BPE trainer at production merge counts (VERDICT r10 #7).

The oracled faces train 3 merges; production vocabularies need 100–1000+.
This sweep runs ``_bpe_train`` at increasing step counts on sf1 and
measures (a) total wall time and marginal seconds-per-merge — which must
stay roughly constant (per-iteration cost is vocabulary-sized, with
``localCheckpoint`` every 8 steps capping Catalyst analysis cost; without
it, plan growth makes iteration k cost O(k)) — and (b) the size of the
trained segmentation table, to document where the APPLY join's broadcast
assumption breaks (spark.sql.autoBroadcastJoinThreshold default 10 MB).

Run: ``[SPARK_GRAFT_SF_DIR=<sf dir>] python scripts/sweep_bpe_merges.py
[steps ...]`` (default sf1 from ``gen_scale_sf.py``; steps 3 10 30 100
300) → JSON on stdout.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from ibc_spark.tools.timing import scale_dir  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR") or scale_dir("sf1")


def main() -> None:
    steps_list = [int(s) for s in sys.argv[1:]] or [3, 10, 30, 100, 300]
    from ibc_spark.registry_ext_text import _bpe_train
    from ibc_spark.session import get_spark
    from ibc_spark.tools.timing import cold_samples

    spark = get_spark("bpe_merge_sweep")
    results: dict[str, dict] = {}
    # vocabulary + broadcastability: the apply face joins the corpus
    # against (term, rep) — measure the trained table's footprint
    w0, _ = _bpe_train(spark, SF_DIR, steps=0)
    stats = w0.select(
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.length("term") + F.length("rep") + F.lit(24)).alias("est_bytes"),
    ).collect()[0]
    results["segmentation_table"] = {
        "vocab_words": stats.vocab,
        "est_bytes": int(stats.est_bytes),
        "broadcast_10mb_headroom_x": round(10 * 1024 * 1024 / max(stats.est_bytes, 1), 1),
    }
    print(f"vocab={stats.vocab} est_bytes={stats.est_bytes}", file=sys.stderr)

    prev_steps, prev_t = 0, 0.0
    for steps in steps_list:
        [t] = cold_samples(spark, lambda: _bpe_train(spark, SF_DIR, steps=steps)[0], 1)
        marginal = (t - prev_t) / max(steps - prev_steps, 1)
        results[f"steps_{steps}"] = {
            "total_s": round(t, 2),
            "s_per_merge_total": round(t / max(steps, 1), 3),
            "s_per_merge_marginal_vs_prev": round(marginal, 3),
        }
        print(
            f"steps={steps}: {t:.1f}s total, {marginal:.2f}s/merge marginal",
            file=sys.stderr,
        )
        prev_steps, prev_t = steps, t
    spark.stop()
    load = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps({"sf_dir": SF_DIR, "results": results, "load_avg": load}))


if __name__ == "__main__":
    main()
