"""SparkSession factory tuned for the engine.

The reference runs PyArrow in a single Lambda process
(``src/serverless/app.py:235-317``); our compute substrate is Spark.
Defaults here are chosen so the same code runs on ``local[N]`` for tests
and on a multi-executor cluster unchanged:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting),
- shuffle partitions sized for the local core count (override via
  ``spark.sql.shuffle.partitions`` on a real cluster),
- Arrow-accelerated Python interchange for the Pandas-UDF slow path,
- UTC session timezone so timestamp semantics are engine-independent,
- no Spark job to list a read's files: the catalog hands Spark the
  manifest's file list, and past
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
  (Spark's default is 32) Spark's file index stats them in a Spark
  job. A local warehouse stats 4096 files serially in about half a
  second, so the threshold sits above any file count a table reaches.
  A session not built here should set it too, or every read of a
  table past 32 files pays a listing job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "no_jvm_wap_with_iceberg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``) so the driver harness can pin parallelism; on a real
    cluster pass ``master=None`` after setting it in spark-submit and the
    builder leaves it untouched.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark's legacy default INT96 timestamps carry NO footer
        # statistics (deprecated type, stats deliberately ignored), so
        # every engine-written TIMESTAMP column was invisible to
        # manifest min/max pruning and the whole-file DELETE proofs.
        # TIMESTAMP_MICROS is the modern type Iceberg/Delta require
        # and restores per-file ts bounds everywhere.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # parquet TIMESTAMP(NANOS) is illegal in vanilla Spark; read as
        # int64 nanos and convert explicitly (sources/registry.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
