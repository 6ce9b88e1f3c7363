"""Scan width: how many tasks a per-row kernel runs on.

Parquet scan parallelism follows input bytes (``maxPartitionBytes``), so a
small but dense table reads as one or two splits, and a CPU-bound kernel
above it (tokenize → shingle, a codec round trip, a suffix pass) runs on
one or two cores however many the session has. :func:`widen` repartitions
such a frame before the kernel. The only argument besides the frame is the
kernel class:

- ``"compute"``: one heavy per-row kernel. One task per core.
- ``"chain"``: two or more chained Arrow stages (attach → transcode →
  features). Each stage pays a per-task Python-worker and Arrow-boundary
  cost, so full width measured slower than no widening for the light
  audio chains, and quarter width (at least 2) kept the kernel parallel
  while batches stay large enough for the vectorized kernels
  (``bench_records/sweep_r16_widen_ab_sf1.json`` and the ladders listed
  in ``bench_records/README.md``).

A rows- or bytes-per-task floor does not fit the measured optima
(ROADMAP, direction 3).

The decision runs nothing. It reads the optimized plan's statistics and
repartitions unless the leaf relations already total at least
``target × spark.sql.files.maxPartitionBytes``, that is, unless the scan
alone already yields ``target`` full splits. It sums the leaves, not the
root estimate: without CBO a join's ``sizeInBytes`` is the product of its
children, which would switch the repartition off for a self-join of a
small table. On a real multi-split scan the leaves exceed the threshold
and ``widen`` returns its input. A streaming frame has no size to read
(a micro-batch from one file arrives as one partition), so it is always
repartitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def tasks(spark: SparkSession, kernel: str) -> int:
    """The task count of ``kernel`` (``"compute"`` or ``"chain"``) in
    this session."""
    cores = spark.sparkContext.defaultParallelism
    return {"compute": cores, "chain": max(2, cores // 4)}[kernel]


def widen(df: DataFrame, kernel: str) -> DataFrame:
    """``df`` spread over the task count of ``kernel`` when its scan is
    narrower; otherwise ``df`` itself."""
    return repartition_below(df, tasks(df.sparkSession, kernel))


def repartition_below(df: DataFrame, target: int) -> DataFrame:
    """``df.repartition(target)`` unless the leaf relations of its
    optimized plan total at least ``target`` full file splits."""
    if df.isStreaming:
        return df.repartition(target)
    jss = df.sparkSession._jsparkSession
    split = jss.sessionState().conf().filesMaxPartitionBytes()
    if _leaf_bytes(df) < target * split:
        return df.repartition(target)
    return df


def _leaf_bytes(df: DataFrame) -> int:
    """Summed ``sizeInBytes`` of the optimized plan's leaf relations."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.length())
    )
