"""SRC-1/2/3: REST API ingestion as a Spark 4 Python Data Source
(SURVEY.md §2.1).

The reference fetches quarterly income statements / analyst estimates per
ticker over HTTP (extract.py:97-127) with a yfinance fallback
(extract.py:137-156) and per-ticker failover tagging (extract.py:190-254).
Re-expressed Spark-first:

- one `DataSource` registered as ``fmp_replay``; `partitions()` returns one
  InputPartition PER TICKER, so on a cluster each executor fetches its
  tickers concurrently — the reference's sequential sleep(1) loop becomes an
  embarrassingly-parallel scan (rate limiting would be token-bucket per
  executor at scale).
- the HTTP call itself is injected (`fetch_fn`); offline we replay the
  fixture payloads (no live APIs in this environment — SURVEY §7.3), but the
  partition-per-ticker plumbing, failover tagging, and schema are the real
  engine surface.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from tesla_competitive_intelligence_etl_pipeline_spark.sources import policies

SCHEMA_DDL = (
    "ticker string, source string, status string, date string, symbol string, "
    "revenue string, eps string, netIncomePerShare string, grossProfit string"
)

# Offline fixture payloads keyed by ticker: (fmp_rows | None, yf_rows | None).
# fmp None simulates a RateLimitError/APIError -> failover to yfinance
# (reference extract.py:210-238); both None -> status 'failed'.
FIXTURE_PAYLOADS: dict[str, tuple[list[dict] | None, list[dict] | None]] = {
    "TSLA": (
        [
            {"date": "2025-06-30", "symbol": "TSLA", "revenue": "22500000000",
             "eps": "0.40", "grossProfit": "5000000000"},
            {"date": "2025-03-31", "symbol": "TSLA", "revenue": "20000000000",
             "eps": "0.35", "grossProfit": "4500000000"},
        ],
        None,
    ),
    "RIVN": (
        [
            {"date": "2025-06-30", "symbol": "RIVN", "revenue": "1500000000",
             "eps": "-0.50", "grossProfit": "300000000"},
        ],
        None,
    ),
    # FMP "rate-limited" -> yfinance fallback rows (already transposed, SRC-4)
    "LCID": (
        None,
        [
            {"date": "2025-06-30", "symbol": "LCID", "revenue": "800000000",
             "netIncomePerShare": "-0.75", "grossProfit": "100000000"},
        ],
    ),
    # both sources fail -> failed envelope row with null payload fields
    "NKLA": (None, None),
}


class TickerPartition(InputPartition):
    def __init__(self, ticker: str):
        self.ticker = ticker


def fixture_fetch(ticker: str) -> tuple[list[dict] | None, list[dict] | None]:
    """The offline fetch_fn: replays fixture payloads. At deploy this is the
    one function swapped for a real HTTP GET; the policy wrapping
    (rate-limit, retry/backoff, throttle) is identical either way."""
    return FIXTURE_PAYLOADS.get(ticker, (None, None))


class FmpReplayReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        tickers = options.get("tickers", "")
        self.tickers = [t for t in tickers.split(",") if t] or sorted(FIXTURE_PAYLOADS)
        # resilience policies (reference extract.py:40-67, 248), built
        # per-reader so each executor governs its own request stream
        self.rate_limit = int(options.get("rate_limit", 250))
        self.retry_total = int(options.get("retry_total", 3))
        self.throttle_s = float(options.get("throttle_s", 0.0))  # >0 at deploy

    def partitions(self):
        # one partition per ticker: per-ticker fetch parallelism on a cluster
        return [TickerPartition(t) for t in self.tickers]

    def _governed_fetch(self):
        throttle = (
            policies.Throttle(self.throttle_s) if self.throttle_s > 0 else None
        )
        return policies.governed_fetch(
            fixture_fetch,
            limiter=policies.DailyRateLimiter(self.rate_limit),
            retry=policies.RetryPolicy(total=self.retry_total),
            throttle=throttle,
        )

    def read(self, partition: TickerPartition):
        t = partition.ticker
        fmp, yf = self._governed_fetch()(t)
        if fmp is not None:
            rows, source, status = fmp, "fmp", "success"
        elif yf is not None:
            rows, source, status = yf, "yfinance", "partial"
        else:
            rows, source, status = [{}], None, "failed"
        for r in rows:
            yield (
                t, source, status,
                r.get("date"), r.get("symbol"), r.get("revenue"),
                r.get("eps"), r.get("netIncomePerShare"), r.get("grossProfit"),
            )


class FmpReplayDataSource(DataSource):
    """spark.read.format("fmp_replay").option("tickers", "TSLA,RIVN").load()"""

    @classmethod
    def name(cls) -> str:
        return "fmp_replay"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> FmpReplayReader:
        return FmpReplayReader(schema, self.options)


def register(spark) -> None:
    spark.dataSource.register(FmpReplayDataSource)


def fixture_values_sql() -> str:
    """The same envelope rows as a DuckDB VALUES clause (oracle twin); every
    payload field is text at the bronze boundary."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources.fixtures import values_sql

    fields = ("date", "symbol", "revenue", "eps", "netIncomePerShare", "grossProfit")
    rows = []
    for t in sorted(FIXTURE_PAYLOADS):
        fmp, yf = FIXTURE_PAYLOADS[t]
        if fmp is not None:
            payload, source, status = fmp, "fmp", "success"
        elif yf is not None:
            payload, source, status = yf, "yfinance", "partial"
        else:
            payload, source, status = [{}], None, "failed"
        for r in payload:
            rows.append((t, source, status) + tuple(
                None if r.get(f) is None else str(r.get(f)) for f in fields
            ))
    return values_sql(
        rows,
        't(ticker, source, status, _date, symbol, revenue, eps, "netIncomePerShare", "grossProfit")',
    )
