"""SparkSession construction tuned for this engine.

Local mode is a single JVM (driver = all executors); on a real cluster the
same settings hold except memory knobs. AQE is on so skewed shuffles
re-plan at runtime (skew-join splitting, partition coalescing) — at 100 TB
that is the difference between a straggler task and an even stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition count: ~cores for local test scale. On a large cluster
# this should be sized so each post-shuffle partition is ~128-200 MB
# (e.g. 100 TB input with heavy reduction -> tens of thousands); AQE's
# coalescePartitions then trims empty ones, so err on the high side.
DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "ds_caselaw_ingester_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    - AQE + skew-join handling on (runtime re-planning at scale)
    - shuffle partitions sized for the local core count
    - UTC session timezone (parquet timestamps compare cleanly with the
      DuckDB oracle, which is UTC-naive)
    - Arrow enabled (vectorized pandas interchange for the UDF slow path)
    """
    builder = (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_oracle_safe(spark: SparkSession) -> None:
    """Pin runtime confs that affect value-level parity with the DuckDB
    oracle, regardless of who built the session (the driver harness builds
    its own). Session timezone is runtime-settable; UTC makes Spark's
    rendering of parquet timestamps agree with DuckDB's UTC-naive reads.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
