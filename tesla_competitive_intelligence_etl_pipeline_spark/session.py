"""SparkSession builder with the engine's canonical configuration.

Reference semantics preserved (SURVEY.md §4):
- cast failure -> null (reference transform.py:184-186): ANSI mode OFF, and the
  engine additionally uses try_* functions so oracles can mirror with TRY_CAST.
- session timezone pinned UTC so timestamp comparisons against the DuckDB
  oracle (naive timestamps) are stable.

Scale posture (designed for a 1000-executor cluster even though tests run
local[32]): AQE on (partition coalescing + skew-join splitting), small dims
auto-broadcast, shuffle partition count taken from the env so the driver can
size it to the cluster. Shuffle, broadcast and spill blocks are compressed
with zstd (Spark's default level and buffer) instead of lz4: a third fewer
shuffle bytes for a little more task CPU (DEPLOYMENT.md, "Compression").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """Default driver heap: 8g, or half the host's physical memory when
    that is less, so one session cannot claim most of a small host."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    return f"{min(8 << 10, half_mb)}m"


def get_spark(app_name: str = "tesla-ci-etl-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the canonical SparkSession.

    ``shuffle_partitions`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    On a real cluster this should be ~2-3x total cores; AQE coalesces down.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.ts is parquet TIMESTAMP(MICROS), read as
        # TIMESTAMP_NTZ. A TIMESTAMP(NANOS) source is read as long ns under
        # this legacy conf by Spark <= 4.0; 4.1+ ignores the conf and
        # surfaces TIMESTAMP_NTZ. sources.io.normalize_event_ts handles all.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _driver_memory()))
        .config("spark.ui.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    return builder.getOrCreate()
