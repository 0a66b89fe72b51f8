"""Financial golden fixtures (FIXTURES.md §1-§9) as in-memory DataFrames.

These replay the reference test suite's canonical dataset (reference
tests/test_integration.py:29-79) including the dirty rows from
tests/test_edge_cases.py — they are the inputs for the end-to-end pipeline
test (SURVEY.md §7.2 step 6) and for the fixture-backed queries in
__spark_entry__.py (oracle side inlines the same rows as VALUES).

Each table is built from the same row tuples its oracle VALUES text is
generated from, as a local relation (``sources.io.local_table``), so Spark
plans a ``LocalTableScan`` with a size estimate and broadcasts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tesla_competitive_intelligence_etl_pipeline_spark import schemas
from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import local_table

# (date, symbol, revenue, eps, netIncomePerShare, grossProfit) — all strings at
# the bronze boundary, matching the schema-on-read JSON shape. Rows 1-4 golden
# (test_integration.py:33-79); the rest are the documented dirty cases.
FMP_INCOME_ROWS = [
    ("2025-06-30", "TSLA", "22500000000", "0.40", None, "5000000000"),
    ("2025-03-31", "TSLA", "20000000000", "0.35", None, "4500000000"),
    ("2025-06-30", "RIVN", "1500000000", "-0.50", None, "300000000"),
    ("2025-06-30", "LCID", "800000000", "-0.75", None, "100000000"),
    # eps missing, alternative key present (transform.py:82)
    ("2025-03-31", "RIVN", "1200000000", None, "-0.55", "250000000"),
    # dirty numerics: currency formatting, N/A, TBD (test_edge_cases.py:168-186)
    ("2024-12-31", "TSLA", "$25,700,000,000", "N/A", None, "TBD"),
    # invalid date -> row dropped by FIL-2 (test_edge_cases.py:149-166)
    ("invalid-date", "TSLA", "1000000000", "0.10", None, "200000000"),
    # alt date format MM/DD/YYYY (transform.py:141-166)
    ("09/30/2024", "TSLA", "25200000000", "0.62", None, "5100000000"),
    # sub-million value triggers the x1e6 rescale heuristic (FN-5)
    ("2024-06-30", "LCID", "732.5", "-0.30", None, "100.2"),
    # missing all measures (test_edge_cases.py:131-147)
    ("2024-03-31", "RIVN", None, None, None, None),
    # duplicate natural key for upsert/dedup testing (test_load.py:169-193)
    ("2025-06-30", "TSLA", "22600000000", "0.41", None, "5050000000"),
]

ESTIMATES_ROWS = [
    ("2025-06-30", "TSLA", 22000000000.0, 0.39, 28),
    ("2025-03-31", "TSLA", 19500000000.0, 0.33, 27),
    ("2025-06-30", "RIVN", 1450000000.0, -0.52, 12),
    ("2025-06-30", "LCID", 790000000.0, -0.78, 9),
]

YFINANCE_ROWS = [
    # (date, symbol, revenue, grossProfit, netIncome, period, calendarYear)
    ("2025-06-30", "NIO", 2400000000.0, 240000000.0, -510000000.0, "Q", 2025),
    ("2025-03-31", "NIO", 2200000000.0, 200000000.0, -620000000.0, "Q", 2025),
]


def fmp_income_raw(spark: SparkSession) -> DataFrame:
    return local_table(spark, FMP_INCOME_ROWS, schemas.FMP_INCOME_RAW)


def fmp_estimates_raw(spark: SparkSession) -> DataFrame:
    return local_table(spark, ESTIMATES_ROWS, schemas.FMP_ESTIMATES_RAW)


def yfinance_income_raw(spark: SparkSession) -> DataFrame:
    return local_table(spark, YFINANCE_ROWS, schemas.YFINANCE_INCOME_RAW)


def values_sql(rows: list[tuple], alias: str) -> str:
    """``rows`` as a DuckDB VALUES clause named ``alias`` (``t(a, b)``), the
    oracle twin of a table built from the same tuples."""

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    body = ",\n    ".join("(" + ", ".join(map(lit, r)) + ")" for r in rows)
    return f"(VALUES\n    {body}\n) AS {alias}"


def estimates_values_sql() -> str:
    """The estimates bronze rows as a DuckDB VALUES clause (oracle twin)."""
    return values_sql(
        ESTIMATES_ROWS,
        'est(_date, symbol, "estimatedRevenue", "estimatedEps", "numberAnalysts")',
    )


def fmp_income_values_sql() -> str:
    """The income bronze rows as a DuckDB VALUES clause (oracle twin)."""
    return values_sql(
        FMP_INCOME_ROWS,
        'fmp(_date, symbol, revenue, eps, "netIncomePerShare", "grossProfit")',
    )
