"""The shared cold-timing runner (``ibc_spark.tools.timing``): every
sample must start cold, so a run leaves no tracked persist and no
``localCheckpoint`` block behind."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_cold_samples_release_persists_and_checkpoints(spark):
    from ibc_spark.ext.persistreg import _TRACKED, persist_tracked
    from ibc_spark.tools.timing import cold_samples

    def persistent() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    built: list[set[int]] = []

    def build():
        base = persist_tracked(spark.range(200).withColumn("k", F.col("id") % 7))
        ckpt = base.groupBy("k").count().localCheckpoint()
        built.append(persistent() - before)
        return ckpt.join(base, "k")

    samples = cold_samples(spark, build, 2)
    assert len(samples) == 2
    assert all(isinstance(s, float) for s in samples)
    assert samples == sorted(samples)
    assert len(built) == 2 and all(built)  # each build held RDD blocks
    assert not _TRACKED
    assert not persistent() & set().union(*built)
