"""The scan-width policy (``ibc_spark.ext.width``): the task count each
kernel class gets, the plan-statistics rule that decides whether to
repartition, and that deciding runs no Spark job."""

from __future__ import annotations

import re

from tests.conftest import SF_ORACLE, SF_SMOKE


def _repartitions(df) -> list[int]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [int(n) for n in re.findall(r"Repartition (\d+), true", plan)]


def test_entry_plans_repartition_to_their_kernel_width(spark):
    """On local[4]: the chained-Arrow FLAC entry gets 2 tasks and the
    per-row JPEG entry 4."""
    from ibc_spark.registry import QUERIES

    cores = spark.sparkContext.defaultParallelism
    expect = {
        "multimodal_audio_stereo_flac": max(2, cores // 4),
        "multimodal_image_jpeg": cores,
    }
    for name, tasks in expect.items():
        assert _repartitions(QUERIES[name](spark, SF_ORACLE)) == [tasks], name


def test_neardup_build_runs_no_job_beyond_its_read(spark, monkeypatch):
    """Deciding the width reads plan statistics only. The partition-count
    probe it replaced executed the input's shuffle stages under AQE."""
    from ibc_spark import registry_ext_dedup

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    real_read = registry_ext_dedup.read_table

    def read_outside_group(*args, **kwargs):
        sc.setJobGroup("width_test_read", "read")
        try:
            return real_read(*args, **kwargs)
        finally:
            sc.setJobGroup("width_test_build", "build")

    monkeypatch.setattr(registry_ext_dedup, "read_table", read_outside_group)
    sc.setJobGroup("width_test_build", "build")
    try:
        registry_ext_dedup.dedup_passage_neardup(spark, SF_ORACLE)
    finally:
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)
    jsc.listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("width_test_build")) == []


def test_widen_repartitions_a_streaming_frame(spark):
    from ibc_spark.ext import width
    from ibc_spark.streaming.sources import read_documents_stream

    s = read_documents_stream(spark, SF_SMOKE)
    out = width.widen(s, "chain")
    assert out.isStreaming
    root = out._jdf.queryExecution().analyzed()
    assert root.nodeName() == "Repartition"
    assert root.numPartitions() == width.tasks(spark, "chain")


def test_widen_keeps_a_scan_that_fills_the_target(spark):
    """Leaf sizes at or over target × maxPartitionBytes leave the frame as
    it is; the sum is over leaves, so a small self-join still widens."""
    from ibc_spark.ext import width
    from ibc_spark.io_.sources import read_table

    d = read_table(spark, SF_SMOKE, "documents")
    joined = d.alias("a").join(d.alias("b"), "doc_id")
    assert _repartitions(width.widen(d, "compute")) == [width.tasks(spark, "compute")]
    assert _repartitions(width.widen(joined, "chain")) == [width.tasks(spark, "chain")]
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "256")
    try:
        assert width.widen(d, "compute") is d
        assert width.widen(joined, "chain") is joined
    finally:
        spark.conf.unset(key)
