"""SparkSession construction tuned for this engine.

Local mode is a single JVM (driver = all executors); on a real cluster the
same settings hold except memory knobs. AQE is on so skewed shuffles
re-plan at runtime (skew-join splitting, partition coalescing) — at 100 TB
that is the difference between a straggler task and an even stage.

Two environment variables are read when ``get_spark`` builds a session:
``SPARK_GRAFT_CPUS`` (the execution width; default: the CPUs this process
may run on) and ``SPARK_GRAFT_DRIVER_MEM`` (default ``8g``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def execution_width() -> int:
    """The session's width: ``SPARK_GRAFT_CPUS`` if set, else the number of
    CPUs this process may run on (``os.cpu_count()`` where the platform
    has no affinity call, e.g. macOS and Windows). Read at each call, so a
    setting made after the package is imported still counts; anything but
    a positive integer raises ``ValueError`` naming the variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        if hasattr(os, "sched_getaffinity"):
            return len(os.sched_getaffinity(0))
        return os.cpu_count() or 1
    if not raw.isdecimal() or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def get_spark(app_name: str = "ds_caselaw_ingester_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    - ``local[width]`` with one shuffle partition per core
      (``execution_width``). On a large cluster the partition count should
      instead be sized so each post-shuffle partition is ~128-200 MB
      (100 TB input with heavy reduction -> tens of thousands); AQE's
      coalescePartitions then trims empty ones, so err on the high side.
    - AQE + skew-join handling on (runtime re-planning at scale)
    - UTC session timezone (parquet timestamps compare cleanly with the
      DuckDB oracle, which is UTC-naive)
    - Arrow enabled (vectorized pandas interchange for the UDF slow path)
    """
    width = execution_width()
    builder = (
        SparkSession.builder.master(f"local[{width}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(width))
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
