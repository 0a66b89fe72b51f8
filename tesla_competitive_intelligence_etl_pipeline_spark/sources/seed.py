"""SRC-7: seed/static dimension source (reference schema.sql:57-61,
load.py:55-59 — literal 3-row company dim, sector default 'Electric Vehicles').

Both tables are local relations built from the same tuples as their oracle
VALUES text (``sources.fixtures.values_sql``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from tesla_competitive_intelligence_etl_pipeline_spark.sources.fixtures import values_sql
from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import local_table

SEED_COMPANIES = [
    ("TSLA", "Tesla Inc", "Electric Vehicles"),
    ("RIVN", "Rivian Automotive Inc", "Electric Vehicles"),
    ("LCID", "Lucid Group Inc", "Electric Vehicles"),
]
SEED_COMPANIES_SCHEMA = StructType(
    [StructField(n, StringType()) for n in ("ticker", "name", "sector")]
)

# FN-6 share-count lookup (reference transform.py:193-194), millions of shares;
# misses take the default 1000 via a left join + coalesce (JOIN-5).
SHARE_COUNTS = [("TSLA", 3160), ("RIVN", 920), ("LCID", 1600)]
SHARE_COUNTS_SCHEMA = StructType(
    [StructField("ticker", StringType()), StructField("shares_millions", IntegerType())]
)
SHARE_COUNT_DEFAULT = 1000


def seed_companies(spark: SparkSession) -> DataFrame:
    return local_table(spark, SEED_COMPANIES, SEED_COMPANIES_SCHEMA)


def share_counts(spark: SparkSession) -> DataFrame:
    return local_table(spark, SHARE_COUNTS, SHARE_COUNTS_SCHEMA)


def companies_values_sql() -> str:
    """The seed companies as a DuckDB VALUES clause (oracle twin)."""
    return values_sql(SEED_COMPANIES, "s(ticker, name, sector)")


def share_counts_values_sql() -> str:
    """The share counts as a DuckDB VALUES clause (oracle twin)."""
    return values_sql(SHARE_COUNTS, "s(ticker, shares_millions)")
