"""Cold timing of DataFrame builds: the one policy ``bench.py`` and the
``scripts/`` sweeps share.

A sample is the wall time of building a frame and forcing every output
column through a ``noop`` write (no driver-side result transfer). After
each sample the tracked persists, every persistent RDD (which is what
holds ``localCheckpoint`` blocks) and the catalog cache are released, so
the next sample starts cold and a long sweep does not accumulate blocks.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def warm_session(app: str, sf_dir: str) -> SparkSession:
    """The shared session plus a tiny scan, so JVM start-up and first
    codegen do not land on the first timed entry."""
    from ibc_spark.io_.sources import read_table
    from ibc_spark.session import get_spark

    spark = get_spark(app)
    read_table(spark, sf_dir, "nation").count()
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
