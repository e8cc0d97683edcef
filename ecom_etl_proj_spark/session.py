"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N], but every setting is chosen so the same
code lands well on a 1000-executor cluster:

- AQE on: runtime coalescing of post-shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching replace hand-tuning.
- ``spark.sql.shuffle.partitions`` defaults to a small local value but is
  env-overridable; at cluster scale AQE coalesces from a high initial
  number, so the initial value should be ~2-3x total cores there.
- Arrow enabled for the Pandas-UDF paths (multimodal decode).

Building the session runs no Spark job: the batch ETL and the serving
sink start as fresh jobs, so the JVM's first-run JIT lands in the first
query that needs it, like on any newly started cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "ecom-etl-proj-spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine; runs no
    Spark job."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Scan-split size: at 100 TB this is the knob that keeps a
        # task's input resident (128m default; lower it for wide rows
        # or decode-bound binary payloads).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


# Seconds session start spent priming the engine, read by bench.py
# (engine_warmup_sec) and perfbench (warmup_s). get_spark primes
# nothing, so it stays 0.0.
WARMUP_SEC: float = 0.0
