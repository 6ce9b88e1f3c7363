"""Cold timing of DataFrame builds: the one policy ``bench.py`` and the
``scripts/`` sweeps share, plus where each scale factor's data lives.

A sample is the wall time of building a frame and forcing every output
column through a ``noop`` write (no driver-side result transfer). After
each sample the tracked persists, every persistent RDD (which is what
holds ``localCheckpoint`` blocks) and the catalog cache are released, so
the next sample starts cold and a long sweep does not accumulate blocks.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The untimed warm-up entry: a scan, filter, grouped aggregate and sort
# over lineitem, so the first timed entry does not pay JVM start-up,
# first-query planning or first codegen.
WARM_ENTRY = "q1_pricing_summary"


def scale_dir(name: str) -> str:
    """The data directory of scale factor ``name`` (``"sf0.1"``,
    ``"sf1"``, ...): the shared test data (TESTDATA.md) when it holds that
    scale, else this checkout's ``.scale/<name>`` (built by
    ``scripts/gen_scale_sf.py`` and ``scripts/gen_scale_sfn.py``)."""
    shared = f"/root/testdata/{name}"
    return shared if os.path.isdir(shared) else os.path.join(_REPO, ".scale", name)


def warm_session(app: str, sf_dir: str) -> SparkSession:
    """The shared session after one untimed cold sample of
    :data:`WARM_ENTRY`."""
    from ibc_spark.registry import QUERIES
    from ibc_spark.session import get_spark

    spark = get_spark(app)
    cold_samples(spark, lambda: QUERIES[WARM_ENTRY](spark, sf_dir), 1)
    return spark


def cold_samples(
    spark: SparkSession, build: Callable[[], DataFrame], runs: int
) -> list[float]:
    """Sorted wall seconds of ``runs`` cold runs of ``build()``."""
    from ibc_spark.ext.persistreg import release_checkpoints, release_persisted

    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
        release_persisted()
        release_checkpoints(spark)
        spark.catalog.clearCache()
    return sorted(samples)


def median(samples: list[float]) -> float:
    """Upper median (the middle sample of an odd count)."""
    return sorted(samples)[len(samples) // 2]
