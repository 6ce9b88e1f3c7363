"""SparkSession factory with the engine's scale-posture defaults.

Local test runs use ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``); on a
real cluster the same builder config applies minus the master override. The
settings below are the ones that matter at 100 TB:

- AQE on (runtime shuffle coalescing, skew-join splitting, plan re-opt).
- ``spark.sql.shuffle.partitions`` sized to the environment, not the 200
  default (locally: #cores; cluster: ~2-3× total executor cores).
- Arrow enabled so any pandas-UDF extension op gets vectorized transfer.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ibc_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cpus == "*" else int(cpus)
        shuffle_partitions = max(8, min(64, int(n)))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")  # keep stdout parseable
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # RocksDB state store: streaming state spills to local disk instead
        # of living on-heap (the default HDFSBackedStateStore held the
        # ENTIRE sessionization state in memory — a 10M-event availableNow
        # catch-up batch OOM'd the 8g heap at sf10; RocksDB finishes it in
        # the same heap). This is the production posture for any stateful
        # stream at 100 TB: state size is bounded by disk, not executor
        # memory.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
