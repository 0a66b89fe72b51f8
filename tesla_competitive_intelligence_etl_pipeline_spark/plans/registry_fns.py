"""Registry batch 2: scalar functions FN-1..FN-10, validation V-1..V-6,
fixture-backed pipeline queries, and sink round-trips (SURVEY.md §2.2, §2.7,
§2.1 SNK rows).

The financial fixture queries inline the same bronze rows as a DuckDB VALUES
clause so the whole silver transform (date parse → quarter label → clean →
safe cast → rescale) is hash-checked end-to-end against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from tesla_competitive_intelligence_etl_pipeline_spark.functions import scalars, validation
from tesla_competitive_intelligence_etl_pipeline_spark.operators import aggregates as agg
from tesla_competitive_intelligence_etl_pipeline_spark.plans import pipeline
from tesla_competitive_intelligence_etl_pipeline_spark.plans.artifacts import scratch
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry import REGISTRY, _dsum, register
from tesla_competitive_intelligence_etl_pipeline_spark.sources import fixtures
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
from tesla_competitive_intelligence_etl_pipeline_spark.sources import merge as merge_mod
from tesla_competitive_intelligence_etl_pipeline_spark.sources import seed as seed_mod

# ===========================================================================
# FN-1..FN-10 over testdata
# ===========================================================================


@register(
    "fn_date_parse_multi",
    """
    WITH s AS (
      SELECT o_orderkey,
             CASE o_orderkey % 4
               WHEN 0 THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
               WHEN 1 THEN strftime(CAST(o_orderdate AS DATE), '%m/%d/%Y')
               WHEN 2 THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d %H:%M:%S')
               ELSE CAST(year(o_orderdate) AS VARCHAR)
             END AS raw
      FROM orders
    )
    SELECT o_orderkey, raw,
           COALESCE(
             CAST(try_strptime(raw, '%Y-%m-%d') AS DATE),
             CAST(try_strptime(raw, '%Y-%m-%d %H:%M:%S') AS DATE),
             CAST(try_strptime(raw, '%m/%d/%Y') AS DATE),
             CASE WHEN TRY_CAST(raw AS INTEGER) IS NOT NULL
                  THEN make_date(TRY_CAST(raw AS INTEGER), 12, 31) END
           ) AS parsed
    FROM s
    """,
)
def fn_date_parse_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-1 multi-format date parse (reference _parse_date transform.py:141-166)
    exercised over all four accepted shapes, derived from o_orderdate."""
    # r13: per-row multi-format parse — spread across cores (guide §2.5)
    orders = src.spread(src.load_table(spark, sf_dir, "orders"), "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    raw = (
        F.when(F.col("o_orderkey") % 4 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 4 == 1, F.date_format(d, "MM/dd/yyyy"))
        .when(F.col("o_orderkey") % 4 == 2, F.date_format(d, "yyyy-MM-dd HH:mm:ss"))
        .otherwise(F.year(d).cast("string"))
    )
    return orders.select(
        "o_orderkey", raw.alias("raw"), scalars.parse_date_multi(raw).alias("parsed")
    )


@register(
    "fn_quarter_label",
    """
    SELECT printf('%d-Q%d', year(o_orderdate), quarter(o_orderdate)) AS quarter_label,
           COUNT(*) AS cnt
    FROM orders GROUP BY 1
    """,
)
def fn_quarter_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-2 quarter-label derivation (reference transform.py:31-57)."""
    orders = src.load_table(spark, sf_dir, "orders")
    return (
        orders.select(scalars.quarter_label(F.col("o_orderdate")).alias("quarter_label"))
        .groupBy("quarter_label")
        .agg(F.count("*").alias("cnt"))
    )


_DIRTY_VALUES = (
    "(VALUES ('22,500,000,000'), ('$1,000.50'), ('  42 '), ('99%'), ('N/A'), ('n/a'),"
    " ('-'), (''), ('inf'), ('-inf'), ('nan'), ('junk'), (NULL), ('0'), ('-1000000'),"
    " ('732.5'), ('1.25')) AS t(v)"
)


@register(
    "fn_numeric_cleanup_cast",
    f"""
    WITH cleaned AS (
      SELECT v,
             CASE WHEN regexp_replace(v, '[,$%\\s]', '', 'g') IN ('', 'N/A', 'n/a', '-')
                  THEN NULL
                  ELSE regexp_replace(v, '[,$%\\s]', '', 'g') END AS c
      FROM {_DIRTY_VALUES}
    )
    SELECT v, c AS cleaned,
           CAST(CASE WHEN lower(c) IN ('inf','-inf','infinity','-infinity','nan') THEN NULL
                     ELSE TRY_CAST(c AS DECIMAL(15,2)) END AS DOUBLE) AS as_number
    FROM cleaned
    """,
)
def fn_numeric_cleanup_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-3 + FN-4: numeric string cleanup and safe decimal cast over the
    reference's documented dirty inputs (tests/test_edge_cases.py:366-381)."""
    vals = [
        ("22,500,000,000",), ("$1,000.50",), ("  42 ",), ("99%",), ("N/A",), ("n/a",),
        ("-",), ("",), ("inf",), ("-inf",), ("nan",), ("junk",), (None,), ("0",),
        ("-1000000",), ("732.5",), ("1.25",),
    ]
    df = spark.createDataFrame(vals, "v string")
    return df.select(
        "v",
        scalars.clean_numeric_string(F.col("v")).alias("cleaned"),
        scalars.safe_decimal(F.col("v"), 15, 2).cast("double").alias("as_number"),
    )


@register(
    "fn_rescale_millions",
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000
                THEN o_totalprice * 1000000 ELSE o_totalprice END AS rescaled,
           CASE WHEN o_totalprice * 12 > 0 AND o_totalprice * 12 < 1000000
                THEN o_totalprice * 12 * 1000000 ELSE o_totalprice * 12 END AS rescaled_x12
    FROM orders
    """,
)
def fn_rescale_millions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-5 heuristic unit normalization (reference transform.py:181-182,
    config.py:89-97) — both branches exercised (x12 crosses the 1e6 line)."""
    orders = src.load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        "o_totalprice",
        scalars.rescale_millions(F.col("o_totalprice")).alias("rescaled"),
        scalars.rescale_millions(F.col("o_totalprice") * 12).alias("rescaled_x12"),
    )


@register(
    "fn_processing_timestamp",
    "SELECT COUNT(*) AS cnt, COUNT(*) AS with_ts FROM orders",
)
def fn_processing_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-7: processed_at stamping (reference transform.py:274) — the value is
    wall-clock so the check asserts presence, not equality."""
    orders = src.load_table(spark, sf_dir, "orders").withColumn(
        "processed_at", scalars.processed_at()
    )
    return orders.agg(
        F.count("*").alias("cnt"), F.count_if(F.col("processed_at").isNotNull()).alias("with_ts")
    )


@register(
    "fn_decimal_float_boundary",
    f"""
    SELECT l_returnflag,
           {_dsum('CAST(CAST(l_quantity AS DECIMAL(15,2)) AS DOUBLE)', 2)} AS qty_sum
    FROM lineitem GROUP BY l_returnflag
    """,
)
def fn_decimal_float_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-8: Decimal compute format degraded to float at the boundary
    (reference load.py:113-115)."""
    li = src.load_table(spark, sf_dir, "lineitem")
    as_decimal = F.col("l_quantity").cast("decimal(15,2)")
    return li.groupBy("l_returnflag").agg(
        agg.exact_sum(as_decimal.cast("double"), scale=2).alias("qty_sum")
    )


@register(
    "fn_tolerance_compare",
    f"""
    WITH actual AS (
      SELECT l_orderkey, {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS actual_total
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(count_if(ABS(o.o_totalprice - a.actual_total) <= ABS(a.actual_total) * 0.001) AS BIGINT) AS within_rel_tol,
           CAST(count_if(ABS(o.o_totalprice - a.actual_total) <= 0.01) AS BIGINT) AS within_abs_tol,
           COUNT(*) AS total
    FROM orders o JOIN actual a ON a.l_orderkey = o.o_orderkey
    """,
)
def fn_tolerance_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-9 tolerance compare (reference transform.py:245-259): relative 0.1%
    (revenue rule) and absolute 0.01 (eps rule) over actual-vs-stated totals."""
    orders = src.load_table(spark, sf_dir, "orders")
    # r13: spread keyed on the grouping key — groupBy reuses it (§2.4/§2.5)
    li = src.spread(src.load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    actual = li.groupBy("l_orderkey").agg(
        agg.exact_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("actual_total")
    )
    joined = orders.join(actual, orders.o_orderkey == actual.l_orderkey)
    rel_ok = scalars.within_relative_tolerance(
        F.col("o_totalprice"), F.col("actual_total"), 0.001
    )
    abs_ok = scalars.within_tolerance(F.col("o_totalprice"), F.col("actual_total"), F.lit(0.01))
    return joined.agg(
        F.count_if(rel_ok).alias("within_rel_tol"),
        F.count_if(abs_ok).alias("within_abs_tol"),
        F.count("*").alias("total"),
    )


@register(
    "fn_string_format",
    """
    SELECT o_orderkey,
           printf('%s-%05d', o_orderpriority, o_orderkey) AS order_tag
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def fn_string_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-10 printf-style labels (reference transform.py:53, :251)."""
    return (
        src.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            F.format_string("%s-%05d", F.col("o_orderpriority"), F.col("o_orderkey")).alias(
                "order_tag"
            ),
        )
    )


# ===========================================================================
# V-1..V-3 constraint checks over testdata
# ===========================================================================


@register(
    "v_pattern_check",
    """
    WITH lbl AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN printf('%d-X%d', year(o_orderdate), quarter(o_orderdate))
                  ELSE printf('%d-Q%d', year(o_orderdate), quarter(o_orderdate)) END AS quarter_label
      FROM orders
    )
    SELECT regexp_matches(quarter_label, '^\\d{4}-Q[1-4]$') AS is_valid, COUNT(*) AS cnt
    FROM lbl GROUP BY 1
    """,
)
def v_pattern_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-1 pattern constraint (reference config.py:84), with a corrupted
    branch so both outcomes appear."""
    orders = src.load_table(spark, sf_dir, "orders")
    good = scalars.quarter_label(F.col("o_orderdate"))
    bad = F.format_string("%d-X%d", F.year("o_orderdate"), F.quarter("o_orderdate"))
    lbl = F.when(F.col("o_orderkey") % 5 == 0, bad).otherwise(good)
    return (
        orders.select(validation.quarter_label_valid(lbl).alias("is_valid"))
        .groupBy("is_valid")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "v_length_check",
    """
    SELECT length(c_mktsegment) BETWEEN 1 AND 10 AS len_ok, COUNT(*) AS cnt
    FROM customer GROUP BY 1
    """,
)
def v_length_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-2 length constraint 1..10 (reference config.py:82)."""
    return (
        src.load_table(spark, sf_dir, "customer")
        .select(validation.ticker_length_valid(F.col("c_mktsegment")).alias("len_ok"))
        .groupBy("len_ok")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "v_range_check",
    "SELECT CAST(count_if(c_acctbal >= 0) AS BIGINT) AS non_negative, COUNT(*) AS total FROM customer",
)
def v_range_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-3 range constraint (reference config.py:108 analyst_count >= 0)."""
    return src.load_table(spark, sf_dir, "customer").agg(
        F.count_if(validation.non_negative(F.col("c_acctbal"))).alias("non_negative"),
        F.count("*").alias("total"),
    )


# ===========================================================================
# Fixture-backed pipeline queries (bronze VALUES → silver → gold → checks)
# ===========================================================================


def _silver_sql() -> str:
    """DuckDB twin of plans.pipeline.silver_from_fmp over the fixture rows."""
    clean = (
        "CASE WHEN regexp_replace({c}, '[,$%\\s]', '', 'g') IN ('', 'N/A', 'n/a', '-') THEN NULL "
        "WHEN lower(regexp_replace({c}, '[,$%\\s]', '', 'g')) IN "
        "('inf','-inf','infinity','-infinity','nan') THEN NULL "
        "ELSE regexp_replace({c}, '[,$%\\s]', '', 'g') END"
    )
    # converter pass (transform.py:181-182): 0 < v < 1e6 guard
    rescale_once = "CASE WHEN {x} > 0 AND {x} < 1000000 THEN {x} * 1000000 ELSE {x} END"
    # validator pass (config.py:89-97): v < 1e6, NO positivity bound —
    # negative revenue/gross_profit IS rescaled by the reference
    rescale_validator = "CASE WHEN {x} < 1000000 THEN {x} * 1000000 ELSE {x} END"
    eps = "TRY_CAST(" + clean.format(c='COALESCE(eps, "netIncomePerShare")') + " AS DECIMAL(10,4))"
    return f"""
    WITH bronze AS (SELECT * FROM {fixtures.fmp_income_values_sql()}),
    parsed AS (
      SELECT symbol AS ticker,
             COALESCE(
               CAST(try_strptime(_date, '%Y-%m-%d') AS DATE),
               CAST(try_strptime(_date, '%Y-%m-%d %H:%M:%S') AS DATE),
               CAST(try_strptime(_date, '%m/%d/%Y') AS DATE),
               CASE WHEN TRY_CAST(_date AS INTEGER) IS NOT NULL
                    THEN make_date(TRY_CAST(_date AS INTEGER), 12, 31) END
             ) AS quarter_date,
             revenue, eps, "netIncomePerShare", "grossProfit"
      FROM bronze
    ),
    typed AS (
      SELECT *,
             TRY_CAST({clean.format(c='revenue')} AS DECIMAL(15,2)) AS rev0_d,
             TRY_CAST({clean.format(c='"grossProfit"')} AS DECIMAL(15,2)) AS gross0_d
      FROM parsed
    ),
    -- the millions-rescale heuristic runs TWICE end-to-end (reference
    -- transform.py:181-182 then config.py:89-97), revenue/gross only
    r1 AS (
      SELECT *,
             {rescale_once.format(x='CAST(rev0_d AS DOUBLE)')} AS rev1,
             {rescale_once.format(x='CAST(gross0_d AS DOUBLE)')} AS gross1
      FROM typed
    ),
    silver AS (
      SELECT ticker, quarter_date,
             CASE WHEN quarter_date IS NOT NULL
                  THEN printf('%d-Q%d', year(quarter_date), quarter(quarter_date)) END AS quarter_label,
             CAST({rescale_validator.format(x='rev1')} AS DECIMAL(15,2)) AS revenue,
             {eps} AS eps,
             CAST({rescale_validator.format(x='gross1')} AS DECIMAL(15,2)) AS gross_profit
      FROM r1
    )
    SELECT * FROM silver WHERE quarter_label IS NOT NULL
    """


def _silver_as_doubles(df: DataFrame) -> DataFrame:
    return df.select(
        "ticker",
        "quarter_date",
        "quarter_label",
        F.col("revenue").cast("double").alias("revenue"),
        F.col("eps").cast("double").alias("eps"),
        F.col("gross_profit").cast("double").alias("gross_profit"),
    )


@register(
    "pipeline_silver_fmp",
    f"""
    SELECT ticker, quarter_date, quarter_label,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(eps AS DOUBLE) AS eps,
           CAST(gross_profit AS DOUBLE) AS gross_profit
    FROM ({_silver_sql()})
    """,
)
def pipeline_silver_fmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 T-stage end-to-end on the golden fixture rows: PROJ-1/2, FN-1..5,
    FIL-2 — the whole reference transform as one hash-checked query."""
    return _silver_as_doubles(pipeline.silver_from_fmp(fixtures.fmp_income_raw(spark)))


@register(
    "pipeline_gold_dedup",
    f"""
    WITH silver AS ({_silver_sql()}),
    deduped AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY ticker, quarter_date
        ORDER BY revenue DESC NULLS LAST, eps DESC NULLS LAST) AS rn
      FROM silver
    ),
    top8 AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY ticker ORDER BY quarter_date DESC NULLS LAST) AS rk
      FROM deduped WHERE rn = 1
    )
    SELECT ticker, quarter_date, quarter_label,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(eps AS DOUBLE) AS eps,
           CAST(gross_profit AS DOUBLE) AS gross_profit
    FROM top8 WHERE rk <= 8
    """,
)
def pipeline_gold_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 gold stage: DEDUP-1 last-write-wins + LIM-1 top-8 quarters."""
    gold = pipeline.gold_financials(pipeline.silver_from_fmp(fixtures.fmp_income_raw(spark)))
    return _silver_as_doubles(gold)


@register(
    "v_golden_validation",
    f"""
    WITH silver AS ({_silver_sql()}),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY ticker, quarter_date
          ORDER BY revenue DESC NULLS LAST, eps DESC NULLS LAST) AS rn
        FROM silver) WHERE rn = 1
    ),
    golden AS (
      SELECT CAST(revenue AS DOUBLE) AS revenue, CAST(eps AS DOUBLE) AS eps
      FROM deduped WHERE ticker = 'TSLA' AND quarter_label = '2025-Q2'
    )
    SELECT bool_and(
             (CASE WHEN revenue IS NOT NULL AND revenue <> 0
                   THEN ABS(revenue - 22500000000.0) <= 22500000000.0 * 0.001
                   ELSE TRUE END)
             AND
             (CASE WHEN eps IS NOT NULL AND eps <> 0
                   THEN ABS(eps - 0.3709) <= 0.01
                   ELSE TRUE END)
           ) AS passes,
           COUNT(*) AS golden_rows
    FROM golden
    """,
)
def v_golden_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-4/V-5 golden-value validation (reference transform.py:232-262,
    load.py:248-287) as a deterministic boolean query (raise-semantics are
    exercised in tests, SURVEY §7.3)."""
    silver = pipeline.silver_from_fmp(fixtures.fmp_income_raw(spark))
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import topk

    deduped = topk.dedup_last_write_wins(
        silver, keys=["ticker", "quarter_date"], order_cols=["revenue", "eps"]
    )
    golden = deduped.filter(
        (F.col("ticker") == validation.GOLDEN_TICKER)
        & (F.col("quarter_label") == validation.GOLDEN_QUARTER)
    )
    check = validation.golden_checks(
        F.col("revenue").cast("double"), F.col("eps").cast("double")
    )
    return golden.agg(F.bool_and(check).alias("passes"), F.count("*").alias("golden_rows"))


@register(
    "v_summary_report",
    f"""
    WITH silver AS ({_silver_sql()}),
    seed AS (SELECT ticker, name FROM {seed_mod.companies_values_sql()}),
    counts AS (SELECT ticker, COUNT(*) AS financial_records FROM silver GROUP BY ticker)
    SELECT s.ticker, s.name, COALESCE(c.financial_records, 0) AS financial_records
    FROM seed s LEFT JOIN counts c ON c.ticker = s.ticker
    """,
)
def v_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-6 summary/health report (reference load.py:229-246) minus the
    wall-clock column (stamped by aggregates.data_summary in production)."""
    silver = pipeline.silver_from_fmp(fixtures.fmp_income_raw(spark))
    seed = seed_mod.seed_companies(spark).select("ticker", "name")
    counts = silver.groupBy("ticker").agg(F.count("*").alias("financial_records"))
    return seed.join(counts, "ticker", "left").select(
        "ticker",
        "name",
        F.coalesce(F.col("financial_records"), F.lit(0)).alias("financial_records"),
    )


_NET_INCOME_ROWS = [
    ("NIO", -510000000.0), ("NIO", -620000000.0), ("TSLA", 1264000000.0),
    ("XPEV", 50000.0), ("LCID", 0.0), ("RIVN", -1200000000.0),
]


@register(
    "pipeline_eps_share_lookup",
    f"""
    WITH yf AS (SELECT * FROM {fixtures.values_sql(_NET_INCOME_ROWS, "t(symbol, net_income)")}),
    shares AS (SELECT * FROM {seed_mod.share_counts_values_sql()})
    SELECT yf.symbol, yf.net_income,
           CASE WHEN yf.net_income IS NULL OR yf.net_income = 0 THEN NULL
                ELSE ROUND(
                  (CASE WHEN yf.net_income >= 1000000 THEN yf.net_income / 1000000
                        ELSE yf.net_income END)
                  / COALESCE(sh.shares_millions, 1000), 4) END AS eps
    FROM yf LEFT JOIN shares sh ON sh.ticker = yf.symbol
    """,
)
def pipeline_eps_share_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-6 + JOIN-5: EPS from net income via broadcast share-count lookup
    with default (reference _estimate_eps transform.py:188-201, transcribed
    exactly: no abs() on the >= 1e6 scale guard, so large negative net income
    divides unscaled; zero net income -> null). Fixture rows exercise all
    branches: big negative (NIO/RIVN), big positive (TSLA), small positive
    (XPEV), zero (LCID)."""
    yf = src.local_table(spark, _NET_INCOME_ROWS, StructType(
        [StructField("symbol", StringType()), StructField("net_income", DoubleType())]
    ))
    shares = seed_mod.share_counts(spark)
    joined = yf.join(F.broadcast(shares), yf.symbol == shares.ticker, "left").withColumn(
        "shares_millions", F.coalesce(F.col("shares_millions"), F.lit(seed_mod.SHARE_COUNT_DEFAULT))
    )
    return joined.select(
        "symbol",
        "net_income",
        scalars.eps_from_net_income(F.col("net_income"), F.col("shares_millions")).alias("eps"),
    )


def _silver_estimates_sql() -> str:
    return f"""
    SELECT symbol AS ticker,
           CAST(try_strptime(_date, '%Y-%m-%d') AS DATE) AS quarter_date,
           printf('%d-Q%d', year(CAST(try_strptime(_date, '%Y-%m-%d') AS DATE)),
                  quarter(CAST(try_strptime(_date, '%Y-%m-%d') AS DATE))) AS quarter_label,
           CAST("estimatedRevenue" AS DECIMAL(15,2)) AS estimated_revenue,
           CAST("estimatedEps" AS DECIMAL(10,4)) AS estimated_eps,
           CASE WHEN "numberAnalysts" >= 0 THEN "numberAnalysts" END AS analyst_count
    FROM {fixtures.estimates_values_sql()}
    """


@register(
    "pipeline_silver_estimates",
    f"""
    SELECT ticker, quarter_date, quarter_label,
           CAST(estimated_revenue AS DOUBLE) AS estimated_revenue,
           CAST(estimated_eps AS DOUBLE) AS estimated_eps,
           analyst_count
    FROM ({_silver_estimates_sql()})
    """,
)
def pipeline_silver_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analyst-estimates fact path (reference load.py:163-200): second fact
    table of the star schema, typed + constrained."""
    silver = pipeline.silver_estimates(fixtures.fmp_estimates_raw(spark))
    return silver.select(
        "ticker", "quarter_date", "quarter_label",
        F.col("estimated_revenue").cast("double").alias("estimated_revenue"),
        F.col("estimated_eps").cast("double").alias("estimated_eps"),
        "analyst_count",
    )


@register(
    "pipeline_actual_vs_estimate",
    f"""
    WITH silver AS ({{silver}}),
    gold AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY ticker, quarter_date
          ORDER BY revenue DESC NULLS LAST, eps DESC NULLS LAST) AS rn
        FROM silver) WHERE rn = 1
    ),
    est AS ({{est}})
    SELECT g.ticker, g.quarter_date, g.quarter_label,
           CAST(g.revenue AS DOUBLE) AS revenue,
           CAST(e.estimated_revenue AS DOUBLE) AS estimated_revenue,
           CAST(g.revenue AS DOUBLE) - CAST(e.estimated_revenue AS DOUBLE) AS revenue_surprise,
           CAST(g.eps AS DOUBLE) AS eps,
           CAST(e.estimated_eps AS DOUBLE) AS estimated_eps,
           ROUND(CAST(g.eps AS DOUBLE) - CAST(e.estimated_eps AS DOUBLE), 4) AS eps_surprise,
           CASE WHEN e.estimated_revenue IS NULL OR e.estimated_eps IS NULL THEN NULL
                WHEN CAST(g.revenue AS DOUBLE) >= CAST(e.estimated_revenue AS DOUBLE)
                     AND CAST(g.eps AS DOUBLE) >= CAST(e.estimated_eps AS DOUBLE) THEN 'beat'
                WHEN CAST(g.revenue AS DOUBLE) < CAST(e.estimated_revenue AS DOUBLE)
                     AND CAST(g.eps AS DOUBLE) < CAST(e.estimated_eps AS DOUBLE) THEN 'miss'
                ELSE 'mixed' END AS verdict
    FROM gold g
    LEFT JOIN est e ON e.ticker = g.ticker AND e.quarter_date = g.quarter_date
                    AND e.quarter_label = g.quarter_label
    """,
)
def pipeline_actual_vs_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-7 on the financial star schema: actual-vs-estimate report with
    beat/miss/mixed classification — the query the schema was built for."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import topk

    silver = pipeline.silver_from_fmp(fixtures.fmp_income_raw(spark))
    gold = topk.dedup_last_write_wins(
        silver, keys=["ticker", "quarter_date"], order_cols=["revenue", "eps"]
    ).drop("__rn")
    est = pipeline.silver_estimates(fixtures.fmp_estimates_raw(spark))
    return pipeline.actuals_vs_estimates(gold, est)


# fill in the oracle's CTE bodies now that both silver builders exist
_avse_fn, _avse_sql = REGISTRY["pipeline_actual_vs_estimate"]
REGISTRY["pipeline_actual_vs_estimate"] = (
    _avse_fn,
    _avse_sql.format(silver=_silver_sql(), est=_silver_estimates_sql()),
)


# ===========================================================================
# SRC-1/2/3: REST ingestion via the Python Data Source API (offline replay)
# ===========================================================================


def _rest_oracle() -> str:
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import rest

    return f"""
    SELECT ticker, source, status, _date AS date, symbol, revenue, eps,
           "netIncomePerShare", "grossProfit"
    FROM {rest.fixture_values_sql()}
    """


def _src_rest_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-1/2/3 + SRC-5: custom DataSource partitioned per ticker with
    fmp->yfinance failover tagging (reference extract.py:97-254). Offline
    replay of fixture payloads; the partition/schema/failover plumbing is the
    production surface."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import rest

    rest.register(spark)
    return spark.read.format("fmp_replay").load().withColumnRenamed("_date", "date")


register("src_rest_datasource", _rest_oracle())(_src_rest_datasource)


# ===========================================================================
# SNK round-trips (write paths verified by reading back; oracle = source agg)
# ===========================================================================


@register(
    "snk_parquet_roundtrip",
    f"""
    SELECT o_orderstatus, COUNT(*) AS cnt, {_dsum('o_totalprice', 2)} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def snk_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK-3: partitioned parquet append sink — written, read back, aggregated;
    parity with the source proves the write path is lossless."""
    orders = src.load_table(spark, sf_dir, "orders")
    path = scratch("snk_parquet_") + "/orders"
    src.write_parquet(orders, path, partition_by=["o_orderstatus"], mode="overwrite")
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"), agg.exact_sum(F.col("o_totalprice"), scale=2).alias("total")
    )


@register(
    "snk_csv_roundtrip",
    f"""
    SELECT c_mktsegment, COUNT(*) AS cnt, {_dsum('c_acctbal', 2)} AS bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def snk_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK-2 + SRC-6: CSV export then typed re-ingestion (reference
    transform.py:281-289 export, load.py:202-227 re-ingest)."""
    customer = src.load_table(spark, sf_dir, "customer")
    path = scratch("snk_csv_") + "/customer"
    src.write_csv(customer, path)
    back = src.read_csv_typed(
        spark,
        path,
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("cnt"), agg.exact_sum(F.col("c_acctbal"), scale=2).alias("bal")
    )


@register(
    "snk_json_bronze_roundtrip",
    f"""
    SELECT o_orderstatus, COUNT(*) AS cnt, {_dsum('o_totalprice', 2)} AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def snk_json_bronze_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK-1: raw JSON bronze sink partitioned by key (reference
    extract.py:104-107), read back and aggregated."""
    orders = src.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = scratch("snk_json_") + "/orders"
    src.write_json_bronze(orders, path, partition_col="o_orderstatus")
    back = spark.read.json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("cnt"), agg.exact_sum(F.col("o_totalprice"), scale=2).alias("total")
    )


@register(
    "snk_merge_upsert",
    """
    WITH staged AS (
      SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 'restated' AS o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
    ), current AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    )
    SELECT COALESCE(s.o_orderkey, c.o_orderkey) AS o_orderkey,
           COALESCE(s.o_totalprice, c.o_totalprice) AS o_totalprice,
           COALESCE(s.o_orderpriority, c.o_orderpriority) AS o_orderpriority
    FROM staged s FULL OUTER JOIN current c ON s.o_orderkey = c.o_orderkey
    """,
)
def snk_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK-4: the engine's merge_upsert (union + window, one shuffle) must
    agree with the declarative full-outer-join MERGE semantics."""
    orders = src.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    staged = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderpriority", F.lit("restated"))
    )
    return merge_mod.merge_upsert(orders, staged, keys=["o_orderkey"])
