"""Registry batch 6: sliding windows (batch + streaming), broadcast-lexicon
sentiment scoring, per-language corpus statistics, and additional TPC-H-style
query shapes (Q6/Q12/Q14/Q18)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import aggregates as agg
from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry import _dsum, net_revenue, register
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

# ===========================================================================
# Sliding event-time windows (1h window, 30m slide -> each event in 2 windows)
# ===========================================================================

_SLIDING_ORACLE = f"""
    WITH slid AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS w0,
             event_type, value
      FROM events
    ),
    both_windows AS (
      SELECT w0 AS window_start, event_type, value FROM slid
      UNION ALL
      SELECT w0 - INTERVAL 30 MINUTE, event_type, value FROM slid
    )
    SELECT window_start, event_type, COUNT(*) AS cnt, {_dsum('value')} AS value_sum
    FROM both_windows GROUP BY 1, 2
    """


@register("evt_sliding_window", _SLIDING_ORACLE)
def evt_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: F.window(ts, '1 hour', '30 minutes') — each event
    lands in two windows; oracle derives both window starts arithmetically."""
    ev = src.load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), agg.exact_sum(F.col("value")).alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum")
    )


@register("x9_stream_sliding", _SLIDING_ORACLE)
def x9_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9e: the same sliding windows through the streaming engine."""
    ev = strm.stream_events(spark, sf_dir)
    sdf = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum")
    )
    return strm.run_to_table(spark, sdf)


# ===========================================================================
# X-5e: broadcast-lexicon sentiment scoring (SURVEY §2.9 X-5)
# ===========================================================================

SENTIMENT_LEXICON = [
    ("fast", 2), ("big", 1), ("value", 1), ("spark", 2), ("small", -1),
    ("slow", -2), ("dup", -1), ("stream", 1),
]


def _lexicon_values() -> str:
    rows = ", ".join(f"('{w}', {s})" for w, s in SENTIMENT_LEXICON)
    return f"(VALUES {rows}) AS lex(tok, score)"


@register(
    "x5_lexicon_sentiment",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
      FROM documents
    ),
    scored AS (
      SELECT t.doc_id, CAST(SUM(lex.score) AS BIGINT) AS sentiment,
             COUNT(lex.tok) AS lexicon_hits
      FROM toks t JOIN {_lexicon_values()} ON lex.tok = t.tok
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.sentiment, 0) AS sentiment,
           COALESCE(s.lexicon_hits, 0) AS lexicon_hits
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    """,
)
def x5_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5e: sentiment via broadcast lexicon join — explode tokens, join the
    tiny lexicon (broadcast: the corpus never shuffles), sum scores per doc."""
    # r13: tokenize map side spread across cores (guide §2.5)
    docs = src.spread(src.load_table(spark, sf_dir, "documents"), "doc_id")
    lex = spark.createDataFrame(SENTIMENT_LEXICON, "tok string, score int")
    toks = docs.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok"))
    scored = (
        toks.join(F.broadcast(lex), "tok")
        .groupBy("doc_id")
        .agg(F.sum("score").alias("sentiment"), F.count("*").alias("lexicon_hits"))
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("sentiment"), F.lit(0)).alias("sentiment"),
        F.coalesce(F.col("lexicon_hits"), F.lit(0)).alias("lexicon_hits"),
    )


@register(
    "x5_per_language_stats",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(len(string_split_regex(text, '\\s+')) AS DECIMAL(38,0))) AS BIGINT) AS total_tokens
    FROM documents GROUP BY lang
    """,
)
def x5_per_language_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5f: per-language corpus statistics (the mix report every pre-training
    pipeline maintains)."""
    docs = src.load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("bigint").alias("total_chars"),
        F.sum(tx.token_count(F.col("text")).cast("decimal(38,0)")).cast("bigint").alias("total_tokens"),
    )


# ===========================================================================
# Additional TPC-H-style shapes
# ===========================================================================


@register(
    "q6_forecast_revenue",
    f"""
    SELECT {_dsum('l_extendedprice * l_discount')} AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive pushdown filter + one global
    agg, whose partial aggregate runs in the scan's own tasks."""
    return (
        src.load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(agg.exact_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue_delta"))
    )


@register(
    "q12_shipmode_priority",
    """
    SELECT l.l_linestatus,
           CAST(count_if(o.o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_count,
           CAST(count_if(o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional counts by category."""
    o = src.load_table(spark, sf_dir, "orders")
    # r13 (revised): probe-side spread measured SLOWER warm (tpch_suite
    # +24% interleaved A/B) — cheap probe map work, extra raw-row
    # exchange. Reverted (guide §2.3 over §2.5).
    li = src.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "1997-01-01"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count_if(high).alias("high_count"),
            F.count_if(~high).alias("low_count"),
        )
    )


def q14_shipped() -> Column:
    """Q14's lineitem predicate: shipped in September 1996."""
    return (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")


def q14_promo_revenue() -> Column:
    """Q14's numerator measure: the revenue of promotion parts, 0 otherwise.
    Its denominator measure is ``net_revenue``."""
    return F.when(F.col("p_type").like("TYPE_1%"), net_revenue()).otherwise(F.lit(0.0))


def q14_pct(promo: Column, total: Column) -> Column:
    """Q14's result: promotion revenue as a percentage of all revenue."""
    return F.lit(100.0) * promo / total


@register(
    "q14_promo_ratio",
    f"""
    SELECT CAST(100.0 * a / b AS DOUBLE) AS promo_revenue_pct FROM (
      SELECT {_dsum("CASE WHEN p.p_type LIKE 'TYPE_1%' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")} AS a,
             {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS b
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-09-01' AND l.l_shipdate < TIMESTAMP '1996-10-01'
    )
    """,
)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio over a dim join."""
    li = src.load_table(spark, sf_dir, "lineitem").filter(q14_shipped())
    p = src.load_table(spark, sf_dir, "part")
    totals = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        agg.exact_sum(q14_promo_revenue()).alias("a"), agg.exact_sum(net_revenue()).alias("b")
    )
    return totals.select(q14_pct(F.col("a"), F.col("b")).alias("promo_revenue_pct"))


@register(
    "q18_large_orders",
    f"""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, li.total_qty
    FROM orders o
    JOIN (
      SELECT l_orderkey, {_dsum('l_quantity', 2)} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,2))) > 150
    ) li ON li.l_orderkey = o.o_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: groupBy + HAVING threshold, joined back to orders."""
    # r13: spread keyed on the GROUPING key, so the aggregation REUSES this
    # exchange (guide §2.4) — the single-task scan now only hashes rows out
    # instead of running the whole decimal aggregation alone (guide §2.5)
    li = src.spread(src.load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    big = (
        li.groupBy("l_orderkey")
        .agg(agg.exact_sum(F.col("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = src.load_table(spark, sf_dir, "orders")
    return o.join(big, o.o_orderkey == big.l_orderkey).select(
        "o_orderkey", "o_custkey", "o_totalprice", "total_qty"
    )
