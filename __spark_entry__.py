"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query on /root/testdata/sf0.001 (smoke, rows>0)
queries()     — one entry per implemented SURVEY.md §2 operator
oracle_sql()  — DuckDB twin per query (omitted => rows-only check)

All real logic lives in tesla_competitive_intelligence_etl_pipeline_spark/;
this module only adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry  # noqa: E402

REGISTRY = load_registry()


def _env_cores(default: int = 32) -> int:
    """The driver-contract core count ($SPARK_GRAFT_CPUS), defaulting to the
    local box; junk values fall back rather than raise (the driver owns the
    env, the engine must not die on it)."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", str(default)))
        return n if n > 0 else default
    except ValueError:
        return default


def _configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's session semantics to a driver-provided session
    (ANSI off for cast->null semantics, UTC, ns-timestamp read path)."""
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # small-SF correctness runs don't need the 200-partition default;
        # AQE re-coalesces anyway, this just trims fixed per-stage overhead.
        # Sized from the driver-contract core count, NOT a literal (r14 —
        # VERDICT r13 item 1: a hardcoded 32 overrode the env-sized session
        # value on every driver/bench query, making the lower-core scaling
        # run unprovable from the artifact). On a real cluster the env names
        # total cores; shuffle partitions are 1x that, and AQE coalesces
        # down from there.
        "spark.sql.shuffle.partitions": str(_env_cores()),
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static/immutable conf on this session — engine uses try_* anyway
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark = _configure(spark)
    fn, _ = REGISTRY["flagship_customer_revenue"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(_configure(spark), sf_dir)

        return run

    return {name: wrap(fn) for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
