"""Query registry: every SURVEY.md §2 operator as a (Spark builder, DuckDB
oracle SQL) pair over the driver testdata tables.

Driver contract (__spark_entry__.py): each builder takes (spark, sf_dir) and
returns a DataFrame; the oracle is ANSI SQL DuckDB runs on the same parquet
(views: region nation customer supplier part orders lineitem events documents
embeddings). Column names are aliased identically on both sides — the driver
sorts columns by name before value-hashing.

Determinism rules used throughout (so value-hashes match exactly):
- double sums go through an exact decimal accumulator (operators.aggregates
  .exact_sum) — summation order then cannot matter;
- averages divide two exact values in double space;
- every LIMIT/row_number has a total order (unique tiebreaker column);
- timestamps are projected as DATE or truncated; events.ts (ns) is floored to
  microseconds identically in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import aggregates as agg
from tesla_competitive_intelligence_etl_pipeline_spark.operators import joins as J
from tesla_competitive_intelligence_etl_pipeline_spark.operators import topk
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
from tesla_competitive_intelligence_etl_pipeline_spark.sources import seed as seed_mod

# name -> (builder(spark, sf_dir) -> DataFrame, oracle_sql | None)
REGISTRY: dict[str, tuple] = {}


def register(name: str, oracle: str | None):
    def deco(fn):
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# exact decimal accumulator twin for oracle SQL
def _dsum(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,{scale}))) AS DOUBLE)"


def net_revenue() -> Column:
    """A line's discounted revenue, ``l_extendedprice * (1 - l_discount)``."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ===========================================================================
# Flagship (entry): customer ⋈ nation revenue summary — SURVEY §7.2 step 2
# (reference summary query JOIN-4 + AGG-1 + SORT-1, load.py:229-246)
# ===========================================================================


@register(
    "flagship_customer_revenue",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           COUNT(*) AS order_cnt,
           {_dsum('o.o_totalprice')} AS total_spent
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY total_spent DESC, c_custkey
    LIMIT 100
    """,
)
def flagship_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = src.load_table(spark, sf_dir, "customer")
    # r13 (revised): an earlier spread(orders, o_custkey) here measured
    # SLOWER warm — the map side is a cheap count+sum, so the keyed
    # exchange shipped every raw order row where map-side partial
    # aggregation previously collapsed them before the shuffle
    # (guide §2.3 "aggregate before you shuffle" beats §2.5 spreading
    # when per-row work is light). Interleaved A/B: 0.48 -> 0.60 s warm
    # with the spread; reverted.
    orders = src.load_table(spark, sf_dir, "orders")
    nation = src.load_table(spark, sf_dir, "nation")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("order_cnt"),
        agg.exact_sum(F.col("o_totalprice")).alias("total_spent"),
    )
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "order_cnt", "total_spent")
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(100)
    )


# ===========================================================================
# §2.1 Scans / sources / sinks
# ===========================================================================


@register(
    "src_scan_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_quantity > 30
    """,
)
def src_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROJ-1 + pushdown: projection and predicate reach the parquet scan
    (reference reads 4-5 fields of a wide payload, transform.py:81-83)."""
    return (
        src.load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_quantity") > 30))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@register(
    "src_seed_dim",
    f"SELECT * FROM {seed_mod.companies_values_sql()}",
)
def src_seed_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-7: literal seed dimension (reference schema.sql:57-61)."""
    return seed_mod.seed_companies(spark)


@register(
    "src_unpivot_melt",
    """
    WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
                FROM lineitem WHERE l_orderkey <= 1000)
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM li
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM li
    """,
)
def src_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-4 (unpivot half): matrix -> long records (reference
    _format_yfinance_data extract.py:158-187)."""
    return (
        src.load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .melt(
            ids=["l_orderkey", "l_linenumber"],
            values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            variableColumnName="metric",
            valueColumnName="value",
        )
    )


@register(
    "src_pivot_back",
    f"""
    SELECT l_returnflag,
           {_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F,
           {_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def src_pivot_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-4 (pivot half): long -> wide on a low-cardinality key. Explicit
    pivot values — no extra distinct-scan job at scale."""
    li = src.load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(agg.exact_sum(F.col("l_quantity")))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_F"),
            F.col("O").alias("qty_O"),
        )
    )


@register(
    "src_failover_union",
    """
    SELECT * FROM (VALUES
      ('TSLA', 'fmp', 'success'), ('RIVN', 'fmp', 'success'),
      ('LCID', 'yfinance', 'partial'), ('NIO', NULL, 'failed')
    ) AS t(ticker, source, status)
    WHERE status IN ('success', 'partial')
    """,
)
def src_failover_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-5 + FIL-1: failover tagging then status filter (reference
    extract.py:190-254, transform.py:208-210). Two source branches with
    lit() tags, unioned by name, filtered."""
    fmp = spark.createDataFrame(
        [("TSLA",), ("RIVN",)], "ticker string"
    ).select("ticker", F.lit("fmp").alias("source"), F.lit("success").alias("status"))
    yf = spark.createDataFrame([("LCID",)], "ticker string").select(
        "ticker", F.lit("yfinance").alias("source"), F.lit("partial").alias("status")
    )
    failed = spark.createDataFrame([("NIO",)], "ticker string").select(
        "ticker", F.lit(None).cast("string").alias("source"), F.lit("failed").alias("status")
    )
    return (
        fmp.unionByName(yf)
        .unionByName(failed)
        .filter(F.col("status").isin("success", "partial"))
    )


# ===========================================================================
# §2.3 Filters
# ===========================================================================


@register(
    "fil_status_in",
    "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus IN ('O', 'P')",
)
def fil_status_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIL-1/FIL-4 IN-list predicate (reference load.py:65)."""
    return (
        src.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "P"))
        .select("o_orderkey", "o_orderstatus")
    )


@register(
    "fil_conj_eq",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_returnflag = 'R' AND l_linestatus = 'F'
    """,
)
def fil_conj_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIL-3 conjunctive equality (reference transform.py:236-239)."""
    return (
        src.load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "fil_null_gated",
    "SELECT event_id, value FROM events WHERE value IS NOT NULL AND value <> 0",
)
def fil_null_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIL-6 truthiness quirk: 0 treated as missing (reference transform.py:248)."""
    return (
        src.load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") != 0))
        .select("event_id", "value")
    )


# ===========================================================================
# §2.4 Joins
# ===========================================================================


@register(
    "join_enrich_broadcast",
    """
    SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    """,
)
def join_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-1: fact->dim enrichment as broadcast inner joins (reference
    hash-map probe load.py:102-107). No shuffle of the big side."""
    customer = src.load_table(spark, sf_dir, "customer")
    nation = src.load_table(spark, sf_dir, "nation")
    region = src.load_table(spark, sf_dir, "region")
    return (
        J.enrich_with_dim(customer, nation, customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@register(
    "join_anti_new_keys",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-2: anti-join (reference insert-tickers-not-in-set load.py:65-74)."""
    customer = src.load_table(spark, sf_dir, "customer")
    orders = src.load_table(spark, sf_dir, "orders")
    return J.new_keys(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    ).select("c_custkey", "c_name")


@register(
    "join_semi_exists",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-3: semi-join existence probe (reference load.py:252-266)."""
    customer = src.load_table(spark, sf_dir, "customer")
    big_orders = (
        src.load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return J.existing_keys(customer, big_orders, "c_custkey").select("c_custkey", "c_name")


@register(
    "join_dim_fact_left",
    """
    SELECT n.n_nationkey, n.n_name, COUNT(c.c_custkey) AS customer_cnt
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    """,
)
def join_dim_fact_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-4: the reference's per-company N+1 loop (load.py:234-241) as ONE
    left join + hash aggregate."""
    nation = src.load_table(spark, sf_dir, "nation")
    customer = src.load_table(spark, sf_dir, "customer")
    return (
        J.dim_fan_out(nation, customer, nation.n_nationkey == customer.c_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("c_custkey").alias("customer_cnt"))
    )


@register(
    "join_lookup_default",
    """
    SELECT c.c_custkey, c.c_mktsegment,
           COALESCE(lk.priority, 99) AS priority
    FROM customer c
    LEFT JOIN (VALUES ('AUTOMOBILE', 1), ('BUILDING', 2), ('MACHINERY', 3))
         AS lk(c_mktsegment, priority)
      ON lk.c_mktsegment = c.c_mktsegment
    """,
)
def join_lookup_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-5: broadcast lookup with default for misses (reference
    share_counts.get(ticker, 1000), transform.py:193-194)."""
    customer = src.load_table(spark, sf_dir, "customer")
    lookup = spark.createDataFrame(
        [("AUTOMOBILE", 1), ("BUILDING", 2), ("MACHINERY", 3)],
        "c_mktsegment string, priority int",
    )
    return J.enrich_lookup(customer, lookup, "c_mktsegment", "priority", 99).select(
        "c_custkey", "c_mktsegment", "priority"
    )


@register(
    "join_merge_routing",
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
def join_merge_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-6: upsert routing via full-outer join + coalesce (reference
    load.py:135-149 SELECT->UPDATE-else-INSERT per row)."""
    orders = src.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    staged = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderpriority", F.lit("restated"))
    )
    return J.merge_routing(orders, staged, keys=["o_orderkey"])


@register(
    "join_actual_vs_estimate",
    f"""
    SELECT o.o_orderkey, o.o_totalprice AS estimated_total, li.actual_total
    FROM orders o
    LEFT JOIN (
      SELECT l_orderkey, {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS actual_total
      FROM lineitem GROUP BY l_orderkey
    ) li ON li.l_orderkey = o.o_orderkey
    """,
)
def join_actual_vs_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-7: actual-vs-estimate conformance across fact tables on the shared
    natural key (schema.sql:30 vs :46)."""
    orders = src.load_table(spark, sf_dir, "orders")
    # r13: spread keyed on the grouping key — the groupBy reuses this
    # exchange (guide §2.4/§2.5)
    li = src.spread(src.load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    actual = li.groupBy("l_orderkey").agg(
        agg.exact_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("actual_total")
    )
    return J.actual_vs_estimate(
        orders.select("o_orderkey", F.col("o_totalprice").alias("estimated_total")),
        actual.select(F.col("l_orderkey").alias("o_orderkey"), "actual_total"),
        ["o_orderkey"],
    )


# ===========================================================================
# §2.5 Aggregations
# ===========================================================================


@register(
    "agg_count_per_group",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_count_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-1 (reference load.py:236-241)."""
    return agg.count_per_group(
        src.load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus"
    )


@register("agg_global_count", "SELECT COUNT(*) AS cnt FROM orders")
def agg_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-2 (reference load.py:243)."""
    return agg.global_count(src.load_table(spark, sf_dir, "orders"))


@register(
    "agg_conditional_count",
    "SELECT CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS cnt FROM orders",
)
def agg_conditional_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-3 (reference extract.py:251)."""
    return agg.conditional_count(
        src.load_table(spark, sf_dir, "orders"), F.col("o_orderpriority") == "1-URGENT"
    )


@register(
    "agg_sum_over_groups",
    """
    SELECT CAST(SUM(cnt) AS BIGINT) AS total_records FROM (
      SELECT COUNT(*) AS cnt FROM customer GROUP BY c_nationkey
    )
    """,
)
def agg_sum_over_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-4: sum of per-group counts (reference main.py:128)."""
    per_group = agg.count_per_group(src.load_table(spark, sf_dir, "customer"), "c_nationkey")
    return per_group.agg(F.sum("cnt").alias("total_records"))


@register("agg_distinct", "SELECT DISTINCT c_mktsegment FROM customer")
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-5 (reference main.py:122)."""
    return agg.distinct_values(src.load_table(spark, sf_dir, "customer"), "c_mktsegment")


@register(
    "agg_first_match",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 100000
    ORDER BY CAST(o_orderdate AS DATE), o_orderkey LIMIT 1
    """,
)
def agg_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-6: first record matching a filter — deterministic via total order
    (reference transform.py:236-239 'first match wins')."""
    orders = src.load_table(spark, sf_dir, "orders")
    return agg.first_match(
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000),
        [F.col("o_orderdate").cast("date"), F.col("o_orderkey")],
    ).drop("o_orderdate")


@register(
    "agg_bool_and",
    """
    SELECT l_returnflag,
           bool_and(l_quantity > 0 AND l_extendedprice > 0) AS all_positive
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bool_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-7: boolean-and validation verdict (reference transform.py:232-262)."""
    return (
        src.load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.bool_and((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)).alias(
                "all_positive"
            )
        )
    )


@register(
    "agg_stage_metrics",
    """
    SELECT 'orders' AS stage, COUNT(*) AS cnt FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL
    SELECT 'customer', COUNT(*) FROM customer
    """,
)
def agg_stage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-8: per-stage record counts (reference main.py:27-36 metrics dict),
    as one unioned plan instead of driver-side .count() loops."""
    counts = [
        src.load_table(spark, sf_dir, t)
        .agg(F.count("*").alias("cnt"))
        .select(F.lit(t).alias("stage"), "cnt")
        for t in ("orders", "lineitem", "customer")
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# ===========================================================================
# §2.6 Sorts / limits / top-k / dedup / set ops
# ===========================================================================


@register(
    "sort_multikey",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ORDER BY c_mktsegment ASC, c_acctbal DESC, c_custkey ASC LIMIT 50
    """,
)
def sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORT-1 multi-key mixed-direction sort (reference transform.py:277);
    LIMIT makes the result set order-sensitive so the oracle checks the sort."""
    return (
        src.load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .orderBy(F.asc("c_mktsegment"), F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(50)
    )


@register(
    "topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIM-1: k most-recent rows per group — the reference's only implicit
    window fn (limit=8 quarters/ticker, extract.py:97). Unique tiebreaker
    (o_orderkey) keeps row_number deterministic."""
    # r13: spread keyed on the window partition key — the window reuses
    # this exchange (guide §2.4/§2.5)
    orders = src.spread(src.load_table(spark, sf_dir, "orders"), "o_custkey")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "limit_first",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
    """,
)
def limit_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIM-2 deterministic .first() (reference load.py:140,252,262)."""
    return topk.first_row(
        src.load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
    )


@register(
    "dedup_last_write_wins",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-1: natural-key uniqueness, last write wins (reference
    schema.sql:30 UNIQUE + upsert load.py:128-154)."""
    # r13: spread keyed on the dedup key — the window reuses this exchange
    orders = src.spread(src.load_table(spark, sf_dir, "orders"), "o_custkey")
    return topk.dedup_last_write_wins(
        orders,
        keys=["o_custkey"],
        order_cols=[F.col("o_orderdate").cast("date").desc(), F.col("o_orderkey").desc()],
    ).select("o_custkey", "o_orderkey", "o_totalprice")


@register(
    "set_insert_if_absent",
    """
    SELECT c.c_custkey,
           CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                THEN 'existing' ELSE 'inserted' END AS row_source
    FROM customer c
    """,
)
def set_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-1: ON CONFLICT DO NOTHING (reference schema.sql:57-61) — existing
    keys kept, absent keys inserted, each row tagged with its provenance."""
    customer = src.load_table(spark, sf_dir, "customer").select("c_custkey")
    with_orders = src.load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    existing = customer.join(with_orders.distinct(), "c_custkey", "left_semi").withColumn(
        "row_source", F.lit("existing")
    )
    inserted = customer.join(with_orders.distinct(), "c_custkey", "left_anti").withColumn(
        "row_source", F.lit("inserted")
    )
    return existing.unionByName(inserted)


@register(
    "set_union_branches",
    """
    SELECT o_orderkey AS record_key, o_totalprice AS amount, 'fmp' AS source,
           o_orderpriority AS priority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice * 1.0, 'yfinance', CAST(NULL AS VARCHAR)
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def set_union_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-2: union of source branches with differing columns (reference
    transform.py:203-230) — unionByName(allowMissingColumns=True)."""
    orders = src.load_table(spark, sf_dir, "orders")
    fmp = (
        orders.filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.col("o_orderkey").alias("record_key"),
            F.col("o_totalprice").alias("amount"),
            F.lit("fmp").alias("source"),
            F.col("o_orderpriority").alias("priority"),
        )
    )
    yf = (
        orders.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            F.col("o_orderkey").alias("record_key"),
            F.col("o_totalprice").alias("amount"),
            F.lit("yfinance").alias("source"),
        )
    )
    return topk.union_branches(fmp, yf)
