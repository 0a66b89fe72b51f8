"""Registry batch 7: composite window queries.

The driver's correctness gate hash-checks the FIRST 50 registry entries
(CORRECTNESS_r01 covered exactly positions 1-50), so every SURVEY.md §2
operator must have an oracle-backed verifying query inside that window.
This module folds the fine-grained per-operator queries into composite
entries — same operator implementations, exercised together and checked
against one combined oracle — so the whole surface fits. The fine-grained
originals stay registered after the window for bench/local-parity and for
users who want the narrow call.

Folding pattern: branches are harmonized to one schema and unioned with a
``branch``/``kind`` tag column; the oracle is the UNION ALL of the original
oracles with the same tags. Every alias matches between Spark and SQL (the
driver sorts columns by name before value-hashing).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesla_competitive_intelligence_etl_pipeline_spark.functions import scalars, validation
from tesla_competitive_intelligence_etl_pipeline_spark.operators import aggregates as agg
from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
from tesla_competitive_intelligence_etl_pipeline_spark.operators import joins as J
from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
from tesla_competitive_intelligence_etl_pipeline_spark.operators import topk
from tesla_competitive_intelligence_etl_pipeline_spark.plans import oracle_vec as _oracle_vec
from tesla_competitive_intelligence_etl_pipeline_spark.plans import pipeline
from tesla_competitive_intelligence_etl_pipeline_spark.plans.artifacts import scratch
from tesla_competitive_intelligence_etl_pipeline_spark.plans import registry_fns as rf
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry import _dsum, register
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry_ext import _NORM, _lang_id_sql
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry_more import (
    _SLIDING_ORACLE,
    SENTIMENT_LEXICON,
    _lexicon_values,
)
from tesla_competitive_intelligence_etl_pipeline_spark.sources import fixtures
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
from tesla_competitive_intelligence_etl_pipeline_spark.sources import merge as merge_mod
from tesla_competitive_intelligence_etl_pipeline_spark.sources import seed as seed_mod
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm


# ===========================================================================
# SRC-4: unpivot -> pivot round trip (melt + pivot in one plan)
# ===========================================================================


@register(
    "src_reshape_roundtrip",
    f"""
    SELECT l_orderkey,
           {_dsum('l_quantity')} AS l_quantity,
           {_dsum('l_extendedprice')} AS l_extendedprice,
           {_dsum('l_discount')} AS l_discount,
           {_dsum('l_tax')} AS l_tax
    FROM lineitem WHERE l_orderkey <= 1000
    GROUP BY l_orderkey
    """,
)
def src_reshape_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRC-4 both halves in one plan: melt the metric matrix to long records
    (reference _format_yfinance_data extract.py:158-187), then pivot the long
    records back to wide per-order sums with EXPLICIT pivot values (no
    distinct-scan job at scale). The oracle is the algebraic identity: plain
    per-metric grouped sums."""
    melted = (
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
    return (
        melted.groupBy("l_orderkey")
        .pivot("metric", ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
        .agg(agg.exact_sum(F.col("value")))
    )


# ===========================================================================
# SNK-1/2/3 + SRC-6: all three sink round-trips in one query
# ===========================================================================

_SNK_AGG = f"""
    SELECT '{{fmt}}' AS fmt, o_orderstatus, COUNT(*) AS cnt, {_dsum('o_totalprice', 2)} AS total
    FROM orders GROUP BY o_orderstatus
"""


@register(
    "snk_roundtrips",
    " UNION ALL ".join(_SNK_AGG.format(fmt=f) for f in ("parquet", "csv", "json")),
)
def snk_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK-1 (JSON bronze, partitioned) + SNK-2/SRC-6 (CSV export + typed
    re-ingestion) + SNK-3 (partitioned parquet append): each sink written,
    read back, aggregated, tagged; parity with the source aggregate proves
    every write path is lossless."""
    orders = src.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = scratch("snk_rt_")

    src.write_parquet(orders, base + "/pq", partition_by=["o_orderstatus"], mode="overwrite")
    pq_back = spark.read.parquet(base + "/pq")

    src.write_csv(orders, base + "/csv")
    csv_back = src.read_csv_typed(
        spark, base + "/csv", "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    )

    src.write_json_bronze(orders, base + "/json", partition_col="o_orderstatus")
    json_back = spark.read.json(base + "/json")

    def summarize(df: DataFrame, fmt: str) -> DataFrame:
        return (
            df.groupBy("o_orderstatus")
            .agg(F.count("*").alias("cnt"), agg.exact_sum(F.col("o_totalprice"), 2).alias("total"))
            .select(F.lit(fmt).alias("fmt"), "o_orderstatus", "cnt", "total")
        )

    return (
        summarize(pq_back, "parquet")
        .unionByName(summarize(csv_back, "csv"))
        .unionByName(summarize(json_back, "json"))
    )


# ===========================================================================
# SNK-4 + JOIN-6: both merge implementations against one oracle
# ===========================================================================

_MERGE_ORACLE_BRANCH = """
    SELECT '{impl}' AS impl, COALESCE(s.o_orderkey, c.o_orderkey) AS o_orderkey,
           COALESCE(s.o_totalprice, c.o_totalprice) AS o_totalprice,
           COALESCE(s.o_orderpriority, c.o_orderpriority) AS o_orderpriority
    FROM (SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 'restated' AS o_orderpriority
          FROM orders WHERE o_orderkey % 10 = 0) s
    FULL OUTER JOIN (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders) c
      ON s.o_orderkey = c.o_orderkey
"""


@register(
    "snk_merge_upsert_impls",
    _MERGE_ORACLE_BRANCH.format(impl="routing")
    + " UNION ALL "
    + _MERGE_ORACLE_BRANCH.format(impl="window"),
)
def snk_merge_upsert_impls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK-4 + JOIN-6: the engine's TWO merge strategies — full-outer-join +
    per-column coalesce routing (operators.joins.merge_routing) and union +
    window last-write-wins (sources.merge.merge_upsert, what Delta MERGE
    compiles to for whole-row updates) — both checked against the same
    declarative MERGE oracle (reference load.py:128-154)."""
    orders = src.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    staged = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderpriority", F.lit("restated"))
    )
    routing = J.merge_routing(orders, staged, keys=["o_orderkey"]).select(
        F.lit("routing").alias("impl"), "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    window = merge_mod.merge_upsert(orders, staged, keys=["o_orderkey"]).select(
        F.lit("window").alias("impl"), "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    return routing.unionByName(window)


# ===========================================================================
# SNK-4b: created_at/updated_at trigger policy (schema.sql:63-82)
# ===========================================================================

_T0 = "TIMESTAMP '2024-01-01 00:00:00'"
_NOW = "TIMESTAMP '2025-06-30 12:00:00'"


@register(
    "snk_merge_trigger",
    f"""
    WITH current AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             {_T0} AS created_at, {_T0} AS updated_at
      FROM orders
    ),
    staged AS (
      SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice, 'restated' AS o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, 'new'
      FROM orders WHERE o_orderkey % 10 = 3
    )
    SELECT COALESCE(c.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE c.o_totalprice END AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE c.o_orderpriority END AS o_orderpriority,
           CASE WHEN c.o_orderkey IS NOT NULL THEN c.created_at ELSE {_NOW} END AS created_at,
           CASE WHEN s.o_orderkey IS NOT NULL THEN {_NOW} ELSE c.updated_at END AS updated_at
    FROM current c FULL OUTER JOIN staged s ON s.o_orderkey = c.o_orderkey
    """,
)
def snk_merge_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's audit-column trigger policy end-to-end
    (schema.sql:63-82: BEFORE UPDATE sets updated_at=CURRENT_TIMESTAMP;
    created_at only defaults on INSERT): matched rows take staged values but
    PRESERVE created_at and refresh updated_at; inserted rows stamp both;
    untouched rows keep both. ``now`` is a literal so the check is
    deterministic; production passes F.current_timestamp()."""
    now = F.lit("2025-06-30 12:00:00").cast("timestamp")
    t0 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    orders = src.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    current = orders.withColumn("created_at", t0).withColumn("updated_at", t0)
    staged = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("o_orderpriority", F.lit("restated"))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 3)
            .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
            .withColumn("o_orderpriority", F.lit("new"))
        )
    )
    return merge_mod.merge_with_audit(current, staged, keys=["o_orderkey"], now=now)


# ===========================================================================
# FIL-1/3/4/5: predicate branches in one scan-shaped query
# ===========================================================================


@register(
    "fil_predicates",
    """
    SELECT 'status_in' AS branch, o_orderkey, o_orderstatus AS val
    FROM orders WHERE o_orderstatus IN ('O', 'P')
    UNION ALL
    SELECT 'conj_eq', o_orderkey, o_orderpriority
    FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
    """,
)
def fil_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIL-1/FIL-4 (IN-list, reference load.py:65) + FIL-3/FIL-5 (conjunctive
    equality lookup, transform.py:236-239) as tagged branches; both
    predicates push down to the parquet scan."""
    orders = src.load_table(spark, sf_dir, "orders")
    status_in = orders.filter(F.col("o_orderstatus").isin("O", "P")).select(
        F.lit("status_in").alias("branch"), "o_orderkey", F.col("o_orderstatus").alias("val")
    )
    conj = orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT")
    ).select(F.lit("conj_eq").alias("branch"), "o_orderkey", F.col("o_orderpriority").alias("val"))
    return status_in.unionByName(conj)


# ===========================================================================
# JOIN-1 + JOIN-5: broadcast enrichment + lookup-with-default in one plan
# ===========================================================================


@register(
    "join_enrich_lookup",
    """
    SELECT c.c_custkey, n.n_name, r.r_name, COALESCE(lk.priority, 99) AS priority
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    LEFT JOIN (VALUES ('AUTOMOBILE', 1), ('BUILDING', 2), ('MACHINERY', 3))
         AS lk(c_mktsegment, priority)
      ON lk.c_mktsegment = c.c_mktsegment
    """,
)
def join_enrich_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-1 (fact->dim broadcast enrichment, reference hash-map probe
    load.py:102-107) + JOIN-5 (lookup with default for misses,
    share_counts.get(ticker, 1000) transform.py:193-194) — the big side
    never shuffles: every dim is broadcast."""
    customer = src.load_table(spark, sf_dir, "customer")
    nation = src.load_table(spark, sf_dir, "nation")
    region = src.load_table(spark, sf_dir, "region")
    lookup = spark.createDataFrame(
        [("AUTOMOBILE", 1), ("BUILDING", 2), ("MACHINERY", 3)],
        "c_mktsegment string, priority int",
    )
    return (
        J.enrich_with_dim(customer, nation, customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .join(F.broadcast(lookup), "c_mktsegment", "left")
        .select(
            "c_custkey", "n_name", "r_name",
            F.coalesce(F.col("priority"), F.lit(99)).alias("priority"),
        )
    )


# ===========================================================================
# JOIN-2 + JOIN-3: anti and semi branches
# ===========================================================================


@register(
    "join_anti_semi",
    """
    SELECT 'anti' AS branch, c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'semi', c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_anti_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-2 (anti: keys not in set, reference load.py:65-74) + JOIN-3
    (semi: existence probe, load.py:252-266) as tagged branches."""
    customer = src.load_table(spark, sf_dir, "customer")
    orders = src.load_table(spark, sf_dir, "orders")
    anti = J.new_keys(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    ).select(F.lit("anti").alias("branch"), "c_custkey", "c_name")
    big = (
        orders.filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    semi = J.existing_keys(customer, big, "c_custkey").select(
        F.lit("semi").alias("branch"), "c_custkey", "c_name"
    )
    return anti.unionByName(semi)


# ===========================================================================
# AGG-1 + AGG-7: grouped suite; AGG-2..6/8 + LIM-2: scalar metric suite
# ===========================================================================


@register(
    "agg_grouped_suite",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           bool_and(l_quantity > 0 AND l_extendedprice > 0) AS all_positive
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_grouped_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-1 (count per group, reference load.py:236-241) + AGG-7
    (boolean-and validation verdict, transform.py:232-262) in one grouped
    pass — map-side partial aggregation for both."""
    return (
        src.load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.bool_and((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)).alias(
                "all_positive"
            ),
        )
    )


@register(
    "agg_scalar_suite",
    """
    SELECT 'orders_cnt' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM orders
    UNION ALL
    SELECT 'lineitem_cnt', CAST(COUNT(*) AS DOUBLE) FROM lineitem
    UNION ALL
    SELECT 'customer_cnt', CAST(COUNT(*) AS DOUBLE) FROM customer
    UNION ALL
    SELECT 'urgent_cnt', CAST(count_if(o_orderpriority = '1-URGENT') AS DOUBLE) FROM orders
    UNION ALL
    SELECT 'total_via_groups', CAST(SUM(cnt) AS DOUBLE) FROM (
      SELECT COUNT(*) AS cnt FROM customer GROUP BY c_nationkey)
    UNION ALL
    SELECT 'distinct_segments', CAST(COUNT(DISTINCT c_mktsegment) AS DOUBLE) FROM customer
    UNION ALL
    SELECT 'first_match_orderkey', CAST(o_orderkey AS DOUBLE) FROM (
      SELECT o_orderkey FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 100000
      ORDER BY CAST(o_orderdate AS DATE), o_orderkey LIMIT 1)
    """,
)
def agg_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG-2 (global count) + AGG-3 (conditional count) + AGG-4 (sum of
    per-group counts) + AGG-5 (distinct, as cardinality) + AGG-6/LIM-2
    (deterministic first-match via total order) + AGG-8 (per-stage metrics,
    main.py:27-36) — one long-format metrics report, the shape the
    reference's run-summary dict takes."""
    orders = src.load_table(spark, sf_dir, "orders")
    lineitem = src.load_table(spark, sf_dir, "lineitem")
    customer = src.load_table(spark, sf_dir, "customer")

    def metric(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("metric"), F.col("value").cast("double").alias("value"))

    parts = [
        metric("orders_cnt", agg.global_count(orders).select(F.col("cnt").alias("value"))),
        metric("lineitem_cnt", agg.global_count(lineitem).select(F.col("cnt").alias("value"))),
        metric("customer_cnt", agg.global_count(customer).select(F.col("cnt").alias("value"))),
        metric(
            "urgent_cnt",
            agg.conditional_count(orders, F.col("o_orderpriority") == "1-URGENT").select(
                F.col("cnt").alias("value")
            ),
        ),
        metric(
            "total_via_groups",
            agg.count_per_group(customer, "c_nationkey").agg(F.sum("cnt").alias("value")),
        ),
        metric(
            "distinct_segments",
            agg.distinct_values(customer, "c_mktsegment").agg(
                F.count("*").alias("value")
            ),
        ),
        metric(
            "first_match_orderkey",
            topk.first_row(
                orders.filter(
                    (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000)
                ).select("o_orderkey", "o_orderdate"),
                [F.col("o_orderdate").cast("date").asc(), F.col("o_orderkey").asc()],
            ).select(F.col("o_orderkey").alias("value")),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ===========================================================================
# SET-1 + SET-2: set-operation branches
# ===========================================================================


@register(
    "set_ops_suite",
    """
    SELECT 'insert_if_absent' AS branch, c.c_custkey AS k,
           CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
                THEN 'existing' ELSE 'inserted' END AS tag,
           CAST(NULL AS DOUBLE) AS amount
    FROM customer c
    UNION ALL
    SELECT 'union_branches', o_orderkey,
           'fmp:' || o_orderpriority, o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 'union_branches', o_orderkey, 'yfinance:none', o_totalprice
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def set_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-1 (ON CONFLICT DO NOTHING provenance tagging, schema.sql:57-61)
    + SET-2 (union of source branches with differing columns,
    transform.py:203-230; the missing column surfaces as the 'none' tag) in
    one harmonized result."""
    customer = src.load_table(spark, sf_dir, "customer").select("c_custkey")
    with_orders = (
        src.load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    existing = customer.join(with_orders, "c_custkey", "left_semi").withColumn(
        "tag", F.lit("existing")
    )
    inserted = customer.join(with_orders, "c_custkey", "left_anti").withColumn(
        "tag", F.lit("inserted")
    )
    ins = existing.unionByName(inserted).select(
        F.lit("insert_if_absent").alias("branch"),
        F.col("c_custkey").alias("k"),
        "tag",
        F.lit(None).cast("double").alias("amount"),
    )

    orders = src.load_table(spark, sf_dir, "orders")
    fmp = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("amount"),
        F.lit("fmp").alias("source"),
        F.col("o_orderpriority").alias("priority"),
    )
    yf = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("amount"),
        F.lit("yfinance").alias("source"),
    )
    unioned = topk.union_branches(fmp, yf).select(
        F.lit("union_branches").alias("branch"),
        "k",
        F.concat(F.col("source"), F.lit(":"), F.coalesce(F.col("priority"), F.lit("none"))).alias(
            "tag"
        ),
        "amount",
    )
    return ins.unionByName(unioned)


# ===========================================================================
# FN-1/2/10: parse -> label -> format in one pass
# ===========================================================================


@register(
    "fn_parse_label_format",
    """
    WITH s AS (
      SELECT o_orderkey, o_orderpriority,
             CASE o_orderkey % 4
               WHEN 0 THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
               WHEN 1 THEN strftime(CAST(o_orderdate AS DATE), '%m/%d/%Y')
               WHEN 2 THEN strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d %H:%M:%S')
               ELSE CAST(year(o_orderdate) AS VARCHAR)
             END AS raw
      FROM orders
    ),
    p AS (
      SELECT *,
             COALESCE(
               CAST(try_strptime(raw, '%Y-%m-%d') AS DATE),
               CAST(try_strptime(raw, '%Y-%m-%d %H:%M:%S') AS DATE),
               CAST(try_strptime(raw, '%m/%d/%Y') AS DATE),
               CASE WHEN TRY_CAST(raw AS INTEGER) IS NOT NULL
                    THEN make_date(TRY_CAST(raw AS INTEGER), 12, 31) END
             ) AS parsed
      FROM s
    )
    SELECT o_orderkey, raw, parsed,
           CASE WHEN parsed IS NOT NULL
                THEN printf('%d-Q%d', year(parsed), quarter(parsed)) END AS quarter_label,
           printf('%s-%05d', o_orderpriority, o_orderkey) AS order_tag
    FROM p
    """,
)
def fn_parse_label_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-1 (multi-format date parse over all four accepted shapes, reference
    _parse_date transform.py:141-166) -> FN-2 (quarter label,
    transform.py:31-57) -> FN-10 (printf-style tag, transform.py:53) chained
    in one whole-stage-codegen pass."""
    # r13: per-row parse chain — spread across cores (guide §2.5)
    orders = src.spread(src.load_table(spark, sf_dir, "orders"), "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    raw = (
        F.when(F.col("o_orderkey") % 4 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 4 == 1, F.date_format(d, "MM/dd/yyyy"))
        .when(F.col("o_orderkey") % 4 == 2, F.date_format(d, "yyyy-MM-dd HH:mm:ss"))
        .otherwise(F.year(d).cast("string"))
    )
    parsed = scalars.parse_date_multi(raw)
    return orders.select(
        "o_orderkey",
        raw.alias("raw"),
        parsed.alias("parsed"),
        scalars.quarter_label(parsed).alias("quarter_label"),
        F.format_string("%s-%05d", F.col("o_orderpriority"), F.col("o_orderkey")).alias(
            "order_tag"
        ),
    )


# ===========================================================================
# FN-3/4/5: cleanup -> safe cast -> double rescale over the dirty fixtures
# ===========================================================================

_CLEAN_SQL = (
    "CASE WHEN regexp_replace({c}, '[,$%\\s]', '', 'g') IN ('', 'N/A', 'n/a', '-')"
    " THEN NULL ELSE regexp_replace({c}, '[,$%\\s]', '', 'g') END"
)
_RESCALE_ONCE_SQL = "CASE WHEN {x} > 0 AND {x} < 1000000 THEN {x} * 1000000 ELSE {x} END"
_RESCALE_VALIDATOR_SQL = "CASE WHEN {x} < 1000000 THEN {x} * 1000000 ELSE {x} END"


@register(
    "fn_numeric_suite",
    f"""
    WITH cleaned AS (
      SELECT v, {_CLEAN_SQL.format(c='v')} AS c FROM {rf._DIRTY_VALUES}
    ),
    typed AS (
      SELECT v, c,
             CAST(CASE WHEN lower(c) IN ('inf','-inf','infinity','-infinity','nan') THEN NULL
                       ELSE TRY_CAST(c AS DECIMAL(15,2)) END AS DOUBLE) AS n
      FROM cleaned
    )
    SELECT v, c AS cleaned, n AS as_number,
           {_RESCALE_ONCE_SQL.format(x='n')} AS rescaled_once,
           {_RESCALE_VALIDATOR_SQL.format(x=_RESCALE_ONCE_SQL.format(x='n'))} AS rescaled_pipeline
    FROM typed
    """,
)
def fn_numeric_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-3 (numeric string cleanup) -> FN-4 (safe decimal cast; inf/nan ->
    null) -> FN-5 (the reference's DOUBLE rescale: converter guard 0<v<1e6,
    then validator guard v<1e6 with no positivity bound — the '-1000000' row
    exercises the negative-value validator branch: -1e6 -> -1e12) over the
    reference's documented dirty inputs (tests/test_edge_cases.py:366-381)."""
    vals = [
        ("22,500,000,000",), ("$1,000.50",), ("  42 ",), ("99%",), ("N/A",), ("n/a",),
        ("-",), ("",), ("inf",), ("-inf",), ("nan",), ("junk",), (None,), ("0",),
        ("-1000000",), ("732.5",), ("1.25",),
    ]
    df = spark.createDataFrame(vals, "v string")
    n = scalars.safe_decimal(F.col("v"), 15, 2).cast("double")
    return df.select(
        "v",
        scalars.clean_numeric_string(F.col("v")).alias("cleaned"),
        n.alias("as_number"),
        scalars.rescale_millions(n).alias("rescaled_once"),
        scalars.rescale_millions_pipeline(n).alias("rescaled_pipeline"),
    )


# ===========================================================================
# FN-7/8/9: stamping, decimal->float boundary, tolerance compare
# ===========================================================================


@register(
    "fn_boundary_tolerance",
    f"""
    WITH actual AS (
      SELECT l_orderkey, {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS actual_total
      FROM lineitem GROUP BY l_orderkey
    ),
    tol AS (
      SELECT CAST(count_if(ABS(o.o_totalprice - a.actual_total) <= ABS(a.actual_total) * 0.001) AS BIGINT) AS within_rel_tol,
             CAST(count_if(ABS(o.o_totalprice - a.actual_total) <= 0.01) AS BIGINT) AS within_abs_tol,
             COUNT(*) AS total_joined
      FROM orders o JOIN actual a ON a.l_orderkey = o.o_orderkey
    ),
    stamped AS (SELECT COUNT(*) AS cnt, COUNT(*) AS with_ts FROM orders),
    boundary AS (
      SELECT {_dsum('CAST(CAST(l_quantity AS DECIMAL(15,2)) AS DOUBLE)', 2)} AS qty_sum_boundary
      FROM lineitem
    )
    SELECT s.cnt, s.with_ts, b.qty_sum_boundary, t.within_rel_tol, t.within_abs_tol, t.total_joined
    FROM stamped s, boundary b, tol t
    """,
)
def fn_boundary_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FN-7 (processed_at stamping — wall-clock, so presence is checked, not
    equality; transform.py:274) + FN-8 (Decimal compute degraded to float at
    the boundary, load.py:113-115) + FN-9 (tolerance compare: 0.1% relative
    revenue rule + 0.01 absolute eps rule, transform.py:245-259) — one
    single-row metrics report from three tiny aggregates cross-joined."""
    orders = src.load_table(spark, sf_dir, "orders")
    # r13: spread keyed on the grouping key — the actual-total groupBy
    # reuses the exchange; the boundary agg runs wide (guide §2.4/§2.5)
    li = src.spread(src.load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    stamped = orders.withColumn("processed_at", scalars.processed_at()).agg(
        F.count("*").alias("cnt"),
        F.count_if(F.col("processed_at").isNotNull()).alias("with_ts"),
    )
    boundary = li.agg(
        agg.exact_sum(
            scalars.decimal_to_float(F.col("l_quantity").cast("decimal(15,2)")), scale=2
        ).alias("qty_sum_boundary")
    )
    actual = li.groupBy("l_orderkey").agg(
        agg.exact_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("actual_total")
    )
    joined = orders.join(actual, orders.o_orderkey == actual.l_orderkey)
    tol = joined.agg(
        F.count_if(
            scalars.within_relative_tolerance(F.col("o_totalprice"), F.col("actual_total"), 0.001)
        ).alias("within_rel_tol"),
        F.count_if(
            scalars.within_tolerance(F.col("o_totalprice"), F.col("actual_total"), F.lit(0.01))
        ).alias("within_abs_tol"),
        F.count("*").alias("total_joined"),
    )
    return stamped.crossJoin(boundary).crossJoin(tol)


# ===========================================================================
# V-1..V-6: the whole validation surface as one long-format report
# ===========================================================================


def _v_suite_sql() -> str:
    silver = rf._silver_sql()
    return f"""
    WITH lbl AS (
      SELECT CASE WHEN o_orderkey % 5 = 0
                  THEN printf('%d-X%d', year(o_orderdate), quarter(o_orderdate))
                  ELSE printf('%d-Q%d', year(o_orderdate), quarter(o_orderdate)) END AS quarter_label
      FROM orders
    ),
    silver AS ({silver}),
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
    ),
    seed AS (SELECT ticker, name FROM {seed_mod.companies_values_sql()}),
    counts AS (SELECT ticker, COUNT(*) AS fr FROM silver GROUP BY ticker)
    SELECT 'pattern_valid_cnt' AS metric,
           CAST(count_if(regexp_matches(quarter_label, '^\\d{{4}}-Q[1-4]$')) AS DOUBLE) AS value
    FROM lbl
    UNION ALL
    SELECT 'pattern_invalid_cnt',
           CAST(count_if(NOT regexp_matches(quarter_label, '^\\d{{4}}-Q[1-4]$')) AS DOUBLE)
    FROM lbl
    UNION ALL
    SELECT 'len_ok_cnt', CAST(count_if(length(c_mktsegment) BETWEEN 1 AND 10) AS DOUBLE)
    FROM customer
    UNION ALL
    SELECT 'non_negative_cnt', CAST(count_if(c_acctbal >= 0) AS DOUBLE) FROM customer
    UNION ALL
    SELECT 'customer_total', CAST(COUNT(*) AS DOUBLE) FROM customer
    UNION ALL
    SELECT 'golden_passes',
           CAST(CASE WHEN bool_and(
             (CASE WHEN revenue IS NOT NULL AND revenue <> 0
                   THEN ABS(revenue - 22500000000.0) <= 22500000000.0 * 0.001
                   ELSE TRUE END)
             AND
             (CASE WHEN eps IS NOT NULL AND eps <> 0
                   THEN ABS(eps - 0.3709) <= 0.01
                   ELSE TRUE END)) THEN 1 ELSE 0 END AS DOUBLE)
    FROM golden
    UNION ALL
    SELECT 'golden_rows', CAST(COUNT(*) AS DOUBLE) FROM golden
    UNION ALL
    SELECT 'golden_good_passes',
           CAST(CASE WHEN bool_and(
             ABS(22511250000.0 - 22500000000.0) <= 22500000000.0 * 0.001
             AND ABS(0.3659 - 0.3709) <= 0.01) THEN 1 ELSE 0 END AS DOUBLE)
    FROM golden
    UNION ALL
    SELECT 'records_' || s.ticker, CAST(COALESCE(c.fr, 0) AS DOUBLE)
    FROM seed s LEFT JOIN counts c ON c.ticker = s.ticker
    """


@register("v_suite", _v_suite_sql())
def v_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-1 (pattern, config.py:84, with a corrupted branch so both outcomes
    appear) + V-2 (length 1..10, config.py:82) + V-3 (range >= 0,
    config.py:108) + V-4/V-5 (golden-value validation as a deterministic
    0/1 verdict — soft-False on the canonical fixtures, faithful to the
    reference constants; raise-semantics exercised in tests) + V-6
    (per-ticker summary report, load.py:229-246) — one long-format
    validation report."""
    orders = src.load_table(spark, sf_dir, "orders")
    customer = src.load_table(spark, sf_dir, "customer")

    good = scalars.quarter_label(F.col("o_orderdate"))
    bad = F.format_string("%d-X%d", F.year("o_orderdate"), F.quarter("o_orderdate"))
    lbl = F.when(F.col("o_orderkey") % 5 == 0, bad).otherwise(good)
    valid = validation.quarter_label_valid(lbl)
    pattern = orders.agg(
        F.count_if(valid).alias("pattern_valid_cnt"),
        F.count_if(~valid).alias("pattern_invalid_cnt"),
    )

    cust = customer.agg(
        F.count_if(validation.ticker_length_valid(F.col("c_mktsegment"))).alias("len_ok_cnt"),
        F.count_if(validation.non_negative(F.col("c_acctbal"))).alias("non_negative_cnt"),
        F.count("*").alias("customer_total"),
    )

    silver = pipeline.silver_from_fmp(fixtures.fmp_income_raw(spark))
    deduped = topk.dedup_last_write_wins(
        silver, keys=["ticker", "quarter_date"], order_cols=["revenue", "eps"]
    )
    golden = deduped.filter(
        (F.col("ticker") == validation.GOLDEN_TICKER)
        & (F.col("quarter_label") == validation.GOLDEN_QUARTER)
    )
    check = validation.golden_checks(F.col("revenue").cast("double"), F.col("eps").cast("double"))
    # twin fixtures through the SAME check expression (VERDICT r2 item 5):
    # the canonical fixture fails tolerance (golden_passes = 0, the reference
    # soft-False path), an in-tolerance fixture (+0.05% revenue, -0.005 eps)
    # must pass (golden_good_passes = 1) — both outcomes driver-checked.
    good_check = validation.golden_checks(
        F.lit(validation.GOLDEN_REVENUE * 1.0005), F.lit(validation.GOLDEN_EPS - 0.005)
    )
    golden_agg = golden.agg(
        F.when(F.bool_and(check), 1).otherwise(0).alias("golden_passes"),
        F.count("*").alias("golden_rows"),
        F.when(F.bool_and(good_check), 1).otherwise(0).alias("golden_good_passes"),
    )

    seed = seed_mod.seed_companies(spark).select("ticker")
    counts = silver.groupBy("ticker").agg(F.count("*").alias("fr"))
    records = seed.join(counts, "ticker", "left").select(
        F.concat(F.lit("records_"), F.col("ticker")).alias("metric"),
        F.coalesce(F.col("fr"), F.lit(0)).cast("double").alias("value"),
    )

    def explode_metrics(df: DataFrame) -> DataFrame:
        cols = df.columns
        parts = [
            df.select(F.lit(c).alias("metric"), F.col(c).cast("double").alias("value"))
            for c in cols
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return (
        explode_metrics(pattern)
        .unionByName(explode_metrics(cust))
        .unionByName(explode_metrics(golden_agg))
        .unionByName(records)
    )


# ===========================================================================
# X-5 (a/b/c/d) + X-10: per-document text profile in one wide pass
# ===========================================================================


def _text_profile_sql() -> str:
    return f"""
    WITH lang AS ({_lang_id_sql()}),
    f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split_regex(text, '\\s+')) AS n_tokens,
             len(list_distinct(string_split_regex(text, '\\s+'))) AS n_uniq,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             len(regexp_extract_all(text, '[0-9]')) AS n_digit,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
             md5({_NORM.format(c='text')}) AS fp
      FROM documents
    )
    SELECT l.doc_id, l.lang_tag, l.predicted_lang,
           f.n_chars, f.n_tokens,
           CAST(f.n_uniq AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) AS uniq_token_ratio,
           ROUND((least(CAST(f.n_tokens AS DOUBLE) / 20.0, 1.0)
                  + CAST(f.n_uniq AS DOUBLE) / CAST(f.n_tokens AS DOUBLE)
                  + (1.0 - least(CAST(f.n_punct AS DOUBLE) / CAST(f.n_chars AS DOUBLE)
                                 + CAST(f.n_digit AS DOUBLE) / CAST(f.n_chars AS DOUBLE), 1.0)))
                 / 3.0, 6) AS quality,
           f.bpe_tokens, f.n_tokens AS udf_tokens, f.fp
    FROM lang l JOIN f ON f.doc_id = l.doc_id
    """


@register("x5_text_profile", _text_profile_sql())
def x5_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5a (heuristic language ID) + X-5b (quality scoring) + X-5c (token
    counting, whitespace + BPE-ish) + X-5d (md5 fingerprint) + X-10 (scalar
    pandas_udf whose Arrow round-trip must agree with the JVM-native token
    count) — the per-document profile a pre-training pipeline materializes
    in ONE pass over the corpus."""

    @F.pandas_udf(T.LongType())
    def n_tokens_udf(texts: pd.Series) -> pd.Series:
        return texts.str.split(r"\s+").str.len().astype("int64")

    # r13: regex/UDF-heavy per-row profile — spread across cores (§2.5)
    docs = src.spread(src.load_table(spark, sf_dir, "documents"), "doc_id")
    feats = tx.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_tag"),
        tx.predicted_lang(F.col("text")).alias("predicted_lang"),
        feats["n_chars"].cast("long").alias("n_chars"),
        feats["n_tokens"].cast("long").alias("n_tokens"),
        feats["uniq_token_ratio"].alias("uniq_token_ratio"),
        tx.quality_score(F.col("text")).alias("quality"),
        tx.bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
        n_tokens_udf(F.col("text")).alias("udf_tokens"),
        tx.fingerprint_md5(F.col("text")).alias("fp"),
    )


# ===========================================================================
# X-5 (e/f): sentiment + per-language corpus statistics
# ===========================================================================


@register(
    "x5_sentiment_language",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents
    ),
    doc_sent AS (
      SELECT t.doc_id, CAST(SUM(lex.score) AS BIGINT) AS sentiment, COUNT(lex.tok) AS hits
      FROM toks t JOIN {_lexicon_values()} ON lex.tok = t.tok
      GROUP BY t.doc_id
    )
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(d.n_chars AS DECIMAL(38,0))) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(len(string_split_regex(d.text, '\\s+')) AS DECIMAL(38,0))) AS BIGINT) AS total_tokens,
           CAST(SUM(COALESCE(s.sentiment, 0)) AS BIGINT) AS total_sentiment,
           CAST(SUM(COALESCE(s.hits, 0)) AS BIGINT) AS lexicon_hits
    FROM documents d LEFT JOIN doc_sent s ON s.doc_id = d.doc_id
    GROUP BY d.lang
    """,
)
def x5_sentiment_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5e (sentiment via broadcast lexicon join — the corpus never
    shuffles for the lexicon) + X-5f (per-language mix report) rolled up to
    language granularity."""
    # r13: tokenize map side spread across cores (guide §2.5). r14 (guide
    # §1.2 step 1 — don't compute it twice): tokenize ONCE below the spread
    # exchange — the sentiment branch exploded tokens(text) while the final
    # aggregate re-split the same text for token_count; projecting the token
    # array (and dropping the raw text) before the shuffle lets BOTH
    # branches reuse the one exchange AND the one tokenization, and ships
    # no byte twice. total_tokens = size(__toks) is definitionally
    # token_count (same split expression).
    docs = src.spread(
        src.load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars", tx.tokens(F.col("text")).alias("__toks")
        ),
        "doc_id",
    )
    lex = spark.createDataFrame(SENTIMENT_LEXICON, "tok string, score int")
    toks = docs.select("doc_id", F.explode("__toks").alias("tok"))
    doc_sent = (
        toks.join(F.broadcast(lex), "tok")
        .groupBy("doc_id")
        .agg(F.sum("score").alias("sentiment"), F.count("*").alias("hits"))
    )
    return (
        docs.join(doc_sent, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("bigint").alias("total_chars"),
            F.sum(F.size("__toks").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("total_tokens"),
            F.sum(F.coalesce(F.col("sentiment"), F.lit(0))).cast("bigint").alias("total_sentiment"),
            F.sum(F.coalesce(F.col("hits"), F.lit(0))).cast("bigint").alias("lexicon_hits"),
        )
    )


# ===========================================================================
# X-7: rollup + cube + grouping sets, harmonized
# ===========================================================================


@register(
    "x7_multilevel",
    f"""
    SELECT 'rollup' AS kind, r.r_name AS d1, n.n_name AS d2, COUNT(*) AS cnt,
           {_dsum('c.c_acctbal', 2)} AS val,
           CAST(GROUPING(r.r_name, n.n_name) AS BIGINT) AS gid
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    UNION ALL
    SELECT 'cube', c.c_mktsegment, o.o_orderstatus, COUNT(*),
           {_dsum('o.o_totalprice', 2)},
           CAST(GROUPING(c.c_mktsegment, o.o_orderstatus) AS BIGINT)
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY CUBE(c.c_mktsegment, o.o_orderstatus)
    UNION ALL
    SELECT 'gsets', l_returnflag, l_linestatus, COUNT(*),
           {_dsum('l_quantity', 2)},
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT)
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def x7_multilevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-7 all three multi-level aggregation forms — hierarchical ROLLUP
    (region -> nation -> grand total), full CUBE (segment x status), and
    explicit GROUPING SETS via Spark SQL — harmonized into one result with
    grouping_id disambiguating levels."""
    c = src.load_table(spark, sf_dir, "customer")
    n = src.load_table(spark, sf_dir, "nation")
    r = src.load_table(spark, sf_dir, "region")
    # r13: spread the two fact sides of the cube/gsets branches (§2.5)
    o = src.spread(src.load_table(spark, sf_dir, "orders"), "o_orderkey")
    li = src.spread(src.load_table(spark, sf_dir, "lineitem"), "l_orderkey")

    rollup = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("cnt"),
            agg.exact_sum(F.col("c_acctbal"), scale=2).alias("val"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.lit("rollup").alias("kind"),
            F.col("r_name").alias("d1"),
            F.col("n_name").alias("d2"),
            "cnt", "val", "gid",
        )
    )
    cube = (
        o.join(c, c.c_custkey == o.o_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(
            F.count("*").alias("cnt"),
            agg.exact_sum(F.col("o_totalprice"), scale=2).alias("val"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.lit("cube").alias("kind"),
            F.col("c_mktsegment").alias("d1"),
            F.col("o_orderstatus").alias("d2"),
            "cnt", "val", "gid",
        )
    )
    li.createOrReplaceTempView("__ml_lineitem")
    gsets = spark.sql(
        """
        SELECT 'gsets' AS kind, l_returnflag AS d1, l_linestatus AS d2,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS val,
               CAST(grouping_id() AS BIGINT) AS gid
        FROM __ml_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )
    return rollup.unionByName(cube).unionByName(gsets)


# ===========================================================================
# X-8: every window-analytics form over one table
# ===========================================================================


@register(
    "x8_window_suite",
    """
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER wc AS prev_total,
           o_totalprice - lag(o_totalprice) OVER wc AS delta,
           lead(o_totalprice) OVER wc AS next_total,
           first_value(o_totalprice) OVER wc AS first_total,
           last_value(o_totalprice) OVER
             (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
             (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           rank() OVER wr AS rnk,
           dense_rank() OVER wr AS drnk,
           ntile(4) OVER wr AS quartile,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
             (PARTITION BY o_custkey ORDER BY o_totalprice
              RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS price_band_sum
    FROM orders
    WINDOW wc AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
           wr AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def x8_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-8 complete: lag/delta (QoQ deltas), lead, first/last, running ROWS
    frame (exact decimal accumulation), rank/dense_rank/ntile over a second
    partitioning, and a value-based RANGE frame — every window form in one
    query; each OVER clause has a total order so results hash
    deterministically."""
    o = src.load_table(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").cast("date"), "o_orderkey")
    wc_full = wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wc_run = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wr = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    wrange = Window.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-1000, 0)
    prev = F.lag("o_totalprice").over(wc)
    dec_price = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_custkey", "o_orderkey",
        prev.alias("prev_total"),
        (F.col("o_totalprice") - prev).alias("delta"),
        F.lead("o_totalprice").over(wc).alias("next_total"),
        F.first("o_totalprice").over(wc).alias("first_total"),
        F.last("o_totalprice").over(wc_full).alias("last_total"),
        F.sum(dec_price).over(wc_run).cast("double").alias("running_total"),
        F.rank().over(wr).cast("long").alias("rnk"),
        F.dense_rank().over(wr).cast("long").alias("drnk"),
        F.ntile(4).over(wr).cast("long").alias("quartile"),
        F.sum(dec_price).over(wrange).cast("double").alias("price_band_sum"),
    )


# ===========================================================================
# Event-time batch suite + X-9 streaming suites (reuse the registered
# builders/oracles; harmonize to (kind, k1, wstart, cnt, val))
# ===========================================================================

from tesla_competitive_intelligence_etl_pipeline_spark.plans import (  # noqa: E402
    registry_streaming,  # noqa: F401  (side-effect: registers x9_stream_* used below)
)
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry import REGISTRY  # noqa: E402


def _harmonized(kind: str, sql: str, k1: str, wstart: str, cnt: str, val: str) -> str:
    return (
        f"SELECT '{kind}' AS kind, {k1} AS k1, {wstart} AS wstart, "
        f"{cnt} AS cnt, {val} AS val FROM ({sql})"
    )


def _evt_suite_sql() -> str:
    return " UNION ALL ".join(
        [
            _harmonized(
                "json", REGISTRY["evt_json_extract"][1],
                "event_type", "CAST(NULL AS TIMESTAMP)", "cnt", "CAST(high_k AS DOUBLE)",
            ),
            _harmonized(
                "tumbl", REGISTRY["evt_tumbling_window"][1],
                "event_type", "window_start", "cnt", "value_sum",
            ),
            _harmonized(
                "slide", _SLIDING_ORACLE,
                "event_type", "window_start", "cnt", "value_sum",
            ),
            _harmonized(
                "sess", REGISTRY["evt_session_windows"][1],
                "CAST(user_id AS VARCHAR)", "session_start", "n_events", "value_sum",
            ),
        ]
    )


@register("evt_suite", _evt_suite_sql())
def evt_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch event-time surface in one result: JSON props extraction,
    tumbling windows, sliding windows (each event in 2), and 30-min-gap
    sessionization (gaps-and-islands, microsecond-exact, session_window
    boundary convention). Reuses the registered fine-grained builders and
    their oracles verbatim."""

    def h(kind: str, df: DataFrame, k1, wstart, cnt: str, val) -> DataFrame:
        return df.select(
            F.lit(kind).alias("kind"),
            k1.alias("k1"),
            wstart.alias("wstart"),
            F.col(cnt).cast("long").alias("cnt"),
            val.cast("double").alias("val"),
        )

    json_df = REGISTRY["evt_json_extract"][0](spark, sf_dir)
    tumb = REGISTRY["evt_tumbling_window"][0](spark, sf_dir)
    slide = REGISTRY["evt_sliding_window"][0](spark, sf_dir)
    sess = REGISTRY["evt_session_windows"][0](spark, sf_dir)
    return (
        h("json", json_df, F.col("event_type"), F.lit(None).cast("timestamp"), "cnt",
          F.col("high_k"))
        .unionByName(
            h("tumbl", tumb, F.col("event_type"), F.col("window_start"), "cnt",
              F.col("value_sum"))
        )
        .unionByName(
            h("slide", slide, F.col("event_type"), F.col("window_start"), "cnt",
              F.col("value_sum"))
        )
        .unionByName(
            h("sess", sess, F.col("user_id").cast("string"), F.col("session_start"),
              "n_events", F.col("value_sum"))
        )
    )


def _x9_windows_sql() -> str:
    return " UNION ALL ".join(
        [
            _harmonized(
                "tumbl", REGISTRY["x9_stream_tumbling"][1],
                "event_type", "window_start", "cnt", "value_sum",
            ),
            _harmonized(
                "slide", _SLIDING_ORACLE,
                "event_type", "window_start", "cnt", "value_sum",
            ),
            _harmonized(
                "sess", REGISTRY["x9_stream_session"][1],
                "CAST(user_id AS VARCHAR)", "session_start", "n_events", "value_sum",
            ),
        ]
    )


@register("x9_stream_windows", _x9_windows_sql())
def x9_stream_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9a/b/e through the REAL streaming engine: watermarked tumbling,
    sliding, and session windows each drained with Trigger.AvailableNow and
    hash-checked against the batch SQL oracles — the strongest correctness
    statement the driver protocol allows for streaming. The three streams
    START CONCURRENTLY (strm.start_to_table) so the composite pays
    max(stream time), not the sum."""
    sliding = (
        strm.stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum")
    )
    started = [
        strm.start_to_table(spark, strm.tumbling_counts(strm.stream_events(spark, sf_dir))),
        strm.start_to_table(spark, sliding),
        strm.start_to_table(spark, strm.session_aggregation(strm.stream_events(spark, sf_dir))),
    ]
    strm.await_drained(*(q for q, _ in started))
    tumb, slide, sess = (spark.table(name) for _, name in started)

    def h(kind: str, df: DataFrame, k1, wstart, cnt: str, val) -> DataFrame:
        return df.select(
            F.lit(kind).alias("kind"),
            k1.alias("k1"),
            wstart.alias("wstart"),
            F.col(cnt).cast("long").alias("cnt"),
            val.cast("double").alias("val"),
        )

    return (
        h("tumbl", tumb, F.col("event_type"), F.col("window_start"), "cnt", F.col("value_sum"))
        .unionByName(
            h("slide", slide, F.col("event_type"), F.col("window_start"), "cnt",
              F.col("value_sum"))
        )
        .unionByName(
            h("sess", sess, F.col("user_id").cast("string"), F.col("session_start"),
              "n_events", F.col("value_sum"))
        )
    )


@register(
    "x9_stream_state_merge",
    None,  # placeholder; real SQL assigned below from the component oracles
)
def x9_stream_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9c/d: the two keyed streaming state paths joined per user — custom
    applyInPandasWithState running totals AND the foreachBatch
    bucket-partitioned MERGE gold table — one row per user carrying both
    results; each must equal its batch aggregate after full replay. Both
    streams run concurrently (max, not sum, of replay times)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import stateful

    q1, tbl = strm.start_to_table(
        spark,
        stateful.running_user_totals(strm.stream_events(spark, sf_dir)),
        mode="update",
        # Python-stateful stage: state processing runs in Arrow workers, so
        # parallelism (not state-store overhead) dominates — keep the
        # session's full partitioning.
        state_partitions=None,
    )
    q2, target = strm.start_merge_latest(strm.stream_events(spark, sf_dir))
    strm.await_drained(q1, q2)
    # update-mode memory sink keeps every emitted snapshot; latest per user
    # is the final state (single batch here, but stay general)
    out = spark.table(tbl)
    totals = (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "value_sum")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.round(F.col("s.value_sum"), 6).alias("value_sum"),
        )
    )
    latest = strm.read_merged(spark, target)
    return totals.join(latest, "user_id").select(
        "user_id", "n_events", "value_sum", "last_event_type", "last_value"
    )


REGISTRY["x9_stream_state_merge"] = (
    x9_stream_state_merge,
    f"""
    SELECT t.user_id, t.n_events, t.value_sum, m.last_event_type, m.last_value
    FROM ({REGISTRY["x9_stream_stateful_totals"][1]}) t
    JOIN ({REGISTRY["x9_stream_foreachbatch_merge"][1]}) m ON m.user_id = t.user_id
    """,
)


# ===========================================================================
# X-2f: transitive near-dup clustering (connected components over LSH pairs)
# ===========================================================================


@register(
    "x2_cluster_dedup",
    _oracle_vec.minhash_fixture_cluster_sql(0.5, 256),
)
def x2_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2f: transitive near-dup clusters — connected components (iterative
    min-label propagation, lineage truncated per round) over the MinHash-LSH
    pair graph; one row per doc with its cluster representative (smallest
    id). Recall on a 3-doc transitive chain is pinned in tests/test_ext.py.
    Hash-checked since r10 (previously rows-only): the oracle closes the
    ENGINE's own pair graph — re-derived in SQL from the persisted xxhash64
    minhash fixture (plans/fixtures.py) — with a recursive reachability
    CTE, the same min-label fixpoint (VERDICT r9 item 4)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

    fixtures.ensure_minhash_fixture(spark, sf_dir)
    docs = src.load_table(spark, sf_dir, "documents")
    clusters = dd.near_dup_clusters(docs, threshold=0.5, max_bucket_size=256)
    return clusters.select("doc_id", "cluster_id")


# ===========================================================================
# Deterministic corpus sampling (training-data pipeline extension surface)
# ===========================================================================

from tesla_competitive_intelligence_etl_pipeline_spark.operators import sampling  # noqa: E402


def _bucket_sql(key: str, n: int) -> str:
    return f"TRY_CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8) AS BIGINT) % {n}"


@register(
    "xtra_sample_stable",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_bucket_sql('doc_id', 10000)} < 1000
    """,
)
def xtra_sample_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 10% corpus downsample: md5-bucket filter — map-side, no
    shuffle, reproducible across engines (the oracle computes the same md5
    buckets), and MONOTONE in the rate (raising 10%->20% only adds rows;
    property pinned in tests/test_ext.py)."""
    docs = src.load_table(spark, sf_dir, "documents")
    return sampling.sample_fraction(docs, "doc_id", 0.10).select("doc_id", "lang")


@register(
    "xtra_corpus_mixture",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {_bucket_sql('doc_id', 2147483648)}, doc_id) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
)
def xtra_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture quota sampling: at most 50 docs per language, picked in
    stable-hash order — the deterministic per-source quota pick a
    pre-training data mix uses."""
    docs = src.load_table(spark, sf_dir, "documents")
    return sampling.stratified_quota(docs, ["lang"], "doc_id", 50).select("doc_id", "lang")


@register(
    "xtra_split_counts",
    f"""
    SELECT split, lang, COUNT(*) AS cnt FROM (
      SELECT lang,
             CASE WHEN {_bucket_sql('doc_id', 100)} < 5 THEN 'val'
                  WHEN {_bucket_sql('doc_id', 100)} < 10 THEN 'test'
                  ELSE 'train' END AS split
      FROM documents
    ) GROUP BY split, lang
    """,
)
def xtra_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split assignment by stable bucket (5%/5%/90%):
    leakage-free (a doc_id always lands in the same split, across runs and
    engines), summarized per split x language."""
    docs = src.load_table(spark, sf_dir, "documents")
    return (
        sampling.split_assign(docs, "doc_id", val_pct=5, test_pct=5)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "x_split_leakage_safe",
    f"""
    WITH g AS (
      SELECT doc_id, md5({_NORM.format(c='text')}) AS fp FROM documents
    ),
    s AS (
      SELECT doc_id, fp,
             CASE WHEN {_bucket_sql('fp', 100)} < 5 THEN 'val'
                  WHEN {_bucket_sql('fp', 100)} < 10 THEN 'test'
                  ELSE 'train' END AS split
      FROM g
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups
    FROM s GROUP BY split
    """,
)
def x_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split (sampling.leakage_safe_split): the split bucket is
    computed on the CONTENT FINGERPRINT, not the doc id, so exact
    duplicates land on the same side of train/val/test by construction —
    the duplication-contamination guard for eval sets. Per-split doc and
    group counts; the straddle-free invariant (no group in two splits) is
    structural and pinned in tests with planted duplicates, including the
    near-dup-cluster variant that doc-keyed splits fail."""
    docs = src.load_table(spark, sf_dir, "documents")
    g = docs.withColumn("fp", tx.fingerprint_md5(F.col("text")))
    return (
        sampling.leakage_safe_split(g, F.col("fp"), val_pct=5, test_pct=5)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_groups"),
        )
    )


# ===========================================================================
# X-9f: streaming exact dedup (idempotent at-least-once ingestion)
# ===========================================================================


def _dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redelivered events stream deduped within watermark, aggregated —
    shared by the fine-grained entry and the x9_joins_suite composite."""
    redelivered = strm.stream_events(spark, sf_dir).unionByName(
        strm.stream_events(spark, sf_dir)
    )
    deduped = redelivered.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return deduped.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
    )


@register(
    "x9_stream_dedup",
    f"""
    SELECT event_type, COUNT(*) AS cnt, {_dsum('value')} AS value_sum
    FROM events GROUP BY event_type
    """,
)
def x9_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9f: streaming exact dedup — the events stream unioned with ITSELF
    (simulating at-least-once redelivery) then
    dropDuplicatesWithinWatermark(event_id): the duplicate copy is dropped
    while dedup state stays bounded by the watermark (the unbounded-state
    trap of plain dropDuplicates on an infinite stream). Final counts must
    equal the batch aggregate over the ORIGINAL events — proving ingestion
    is idempotent under redelivery."""
    return strm.run_to_table(spark, _dedup_stream(spark, sf_dir), mode="complete")


# ===========================================================================
# As-of (point-in-time) join — state-at-event-time lookup
# ===========================================================================

from tesla_competitive_intelligence_etl_pipeline_spark.operators import asof  # noqa: E402


@register(
    "xtra_asof_join",
    """
    WITH r AS (
      SELECT * FROM (
        SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ots, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders
      ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
           r.o_orderkey AS last_order_key, r.o_totalprice AS last_order_total
    FROM events e
    ASOF LEFT JOIN r ON r.o_custkey = e.user_id AND CAST(e.ts AS TIMESTAMP) >= r.ots
    """,
)
def xtra_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): for every event, the customer's most
    recent order AT THAT MOMENT — one shuffle + window forward-fill, zero
    row blowup; checked against DuckDB's native ASOF LEFT JOIN. The
    operator Spark lacks, re-expressed as the scalable union+fill plan."""
    ev = src.load_events(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = src.load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ots"),
        "o_orderkey",
        "o_totalprice",
    )
    out = asof.asof_join(
        ev,
        orders,
        on=["user_id"],
        left_ts="ts",
        right_ts="ots",
        payload_cols=["o_orderkey", "o_totalprice"],
        right_tiebreak="o_orderkey",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("o_orderkey").alias("last_order_key"),
        F.col("o_totalprice").alias("last_order_total"),
    )


# ===========================================================================
# Bucketized range join — pure temporal overlap, no equi-key
# ===========================================================================

from tesla_competitive_intelligence_etl_pipeline_spark.operators import rangejoin  # noqa: E402


@register(
    "xtra_range_join",
    f"""
    WITH iv AS (
      SELECT event_id AS window_id, CAST(ts AS TIMESTAMP) AS w_start,
             CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS w_end
      FROM events WHERE event_id % 200 = 0
    )
    SELECT iv.window_id, COUNT(*) AS cnt, {_dsum('e.value')} AS value_sum
    FROM iv JOIN events e
      ON CAST(e.ts AS TIMESTAMP) BETWEEN iv.w_start AND iv.w_end
    GROUP BY iv.window_id
    """,
)
def xtra_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (no equi-key): every 200th event opens a 2-hour
    window; count ALL events falling inside each window. Bucketized rewrite
    (operators/rangejoin.py) — an equi-join on 1-hour buckets replaces the
    BroadcastNestedLoop O(P x I) plan; exact bounds filtered after. Checked
    against DuckDB's plain inequality join."""
    ev = src.load_events(spark, sf_dir)
    points = ev.select("ts", "value")
    intervals = ev.filter(F.col("event_id") % 200 == 0).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    joined = rangejoin.interval_point_join(
        points, intervals, point_ts="ts", start_col="w_start", end_col="w_end",
        bucket_width_s=3600,
    )
    return joined.groupBy("window_id").agg(
        F.count("*").alias("cnt"),
        agg.exact_sum(F.col("value")).alias("value_sum"),
    )


# ===========================================================================
# Additional TPC-H shapes (Q4, Q7, Q10 — the remaining ones expressible
# without a partsupp table)
# ===========================================================================


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS (orders with a lineitem shipped
    more than 90 days after order date — this testdata has no commit/receipt
    dates) decorrelated to a semi-join whose condition mixes the equi-key
    with an inequality on BOTH tables' columns; grouped priority counts."""
    o = src.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = src.load_table(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2') AND n2.n_name IN ('NATION_1', 'NATION_2')
      AND n1.n_name <> n2.n_name
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume — two broadcast nation dims
    with an inequality between them, per-year revenue."""
    s = src.load_table(spark, sf_dir, "supplier")
    # r13 (revised): probe-side spread measured SLOWER warm across this
    # shape class (tpch_suite +24% interleaved A/B) — cheap probe map
    # work, extra raw-row exchange. Reverted (guide §2.3 over §2.5).
    li = src.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = src.load_table(spark, sf_dir, "orders")
    c = src.load_table(spark, sf_dir, "customer")
    nation = src.load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            agg.exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking — selective quarter +
    returnflag filters pushed to both fact scans, broadcast nation, top-20
    with a total order."""
    c = src.load_table(spark, sf_dir, "customer")
    o = src.load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    # r13 (revised): probe-side spread measured SLOWER warm (tpch_suite
    # +24% interleaved A/B) — reverted, see q7 note.
    li = src.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = src.load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            agg.exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q8_market_share",
    f"""
    WITH vol AS (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    )
    SELECT o_year,
           ROUND({_dsum("CASE WHEN supp_nation = 'NATION_0' THEN volume ELSE 0 END")}
                 / {_dsum('volume')}, 6) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — one nation's slice of a
    region's yearly volume for one part type. With q8/q21-minus-dates this
    completes every TPC-H query expressible on this testdata (Q2/9/11/16/20
    need partsupp; Q21 needs receipt/commit dates). The rows are
    ``q8_share_by_year``'s, ordered by year."""
    return q8_share_by_year(spark, sf_dir).orderBy("o_year")


def q8_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8's rows without its ORDER BY, for consumers that lose the order
    anyway (``tpch_suite``'s union): the sort would cost a range-partition
    sample job and a range shuffle. Seven-table snowflake: selective
    part-type and date filters pushed to the fact scans, all four dims
    broadcast, one groupBy on year with two exact-decimal sums divided in
    double space (reference parity: numeric discipline of
    transform.py:184-186). A probe-side spread measured slower warm
    (``tpch_suite`` +24% in an interleaved A/B), so the probe side is not
    spread."""
    li = src.load_table(spark, sf_dir, "lineitem")
    p = src.load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = src.load_table(spark, sf_dir, "supplier")
    o = src.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    c = src.load_table(spark, sf_dir, "customer")
    nation = src.load_table(spark, sf_dir, "nation")
    r = src.load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    vol = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    share = F.round(
        agg.exact_sum(
            F.when(F.col("supp_nation") == "NATION_0", F.col("volume")).otherwise(0.0)
        )
        / agg.exact_sum(F.col("volume")),
        6,
    )
    return vol.groupBy("o_year").agg(share.alias("mkt_share"))


# ===========================================================================
# Skew-safe join through the driver gate + range-clustered write
# ===========================================================================

from tesla_competitive_intelligence_etl_pipeline_spark.operators import skew  # noqa: E402


@register(
    "xtra_salted_join",
    """
    SELECT c.c_mktsegment, COUNT(*) AS cnt
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def xtra_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew mitigation end-to-end: the salted join (fact keys salted n ways,
    dim exploded n ways) must produce EXACTLY the plain join's result — the
    oracle is the unsalted SQL. At scale this is the planned fallback when
    one hot key (the TSLA problem) would pin a shuffle partition."""
    orders = src.load_table(spark, sf_dir, "orders").select("o_custkey")
    customer = src.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = skew.salted_join(orders, customer, "o_custkey", n_salts=8, how="inner")
    return joined.groupBy("c_mktsegment").agg(F.count("*").alias("cnt"))


@register(
    "xtra_clustered_write",
    f"""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           COUNT(*) AS cnt, {_dsum('value')} AS value_sum
    FROM events GROUP BY 1
    """,
)
def xtra_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered time-series layout: events rewritten with
    repartitionByRange(ts) + sortWithinPartitions so each parquet file holds
    a tight time band (row-group stats -> file skipping on ts predicates);
    the read-back daily rollup must equal the source aggregate."""
    ev = src.load_events(spark, sf_dir)
    path = scratch("clustered_") + "/events"
    src.write_parquet_clustered(ev, path, ["ts"], n_files=8)
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count("*").alias("cnt"), agg.exact_sum(F.col("value")).alias("value_sum"))
    )


# ===========================================================================
# X-9g/h: stream-static enrichment and stream-stream interval join
# ===========================================================================


@register(
    "x9_stream_static_join",
    f"""
    SELECT c.c_mktsegment, COUNT(*) AS cnt, {_dsum('e.value')} AS value_sum
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
)
def x9_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9g: stream-static join — the streaming events enriched against the
    static customer dim (broadcast; re-read per micro-batch in production so
    dim updates are picked up), then aggregated. The standard streaming
    enrichment topology."""
    return strm.run_to_table(spark, _static_join_stream(spark, sf_dir), mode="complete")


def _static_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = strm.stream_events(spark, sf_dir)
    customer = src.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(customer), "user_id")
    return joined.withWatermark("ts", "10 minutes").groupBy("c_mktsegment").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
    )


@register(
    "x9_stream_stream_join",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
    """,
)
def x9_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9h: stream-stream interval join (view -> purchase attribution within
    30 minutes, per user): both sides watermarked so the join state is
    bounded — Spark buffers only rows inside the watermark + interval bound.
    AvailableNow drain must equal the batch interval join (the oracle)."""
    out = strm.run_to_table(
        spark,
        _stream_stream_joined(spark, sf_dir).select("view_id", "purchase_id", "user_id"),
        mode="append",
    )
    return out


def _stream_stream_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = (
        strm.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "10 minutes")
    )
    purchases = (
        strm.stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "10 minutes")
    )
    return views.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    )


# ===========================================================================
# Distributed prefix sum -> GPT-style sequence packing
# ===========================================================================

from tesla_competitive_intelligence_etl_pipeline_spark.operators import packing  # noqa: E402


@register(
    "xtra_sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(text, '\\s+')) AS toks,
             {_bucket_sql('doc_id', 2147483648)} AS b
      FROM documents
    ),
    o AS (
      SELECT *, SUM(toks) OVER (ORDER BY b, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT CAST(FLOOR((cum - toks) / 4096.0) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens
    FROM o GROUP BY 1
    """,
)
def xtra_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: documents in stable-hash order,
    4096-token bins; per-bin doc/token stats. The global running token count
    comes from the two-pass distributed prefix sum (operators/packing.py) —
    the naive SUM() OVER (ORDER BY) would funnel the whole corpus through
    ONE task. The oracle uses the naive form (DuckDB is single-node anyway)
    and must agree exactly."""
    docs = src.load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        tx.token_count(F.col("text")).cast("long").alias("toks"),
        sampling.stable_bucket(F.col("doc_id"), 1 << 31).alias("b"),
    )
    packed = packing.pack_sequences(t, token_col="toks", order_cols=["b", "doc_id"], bin_tokens=4096)
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
    )


@register(
    "xtra_pack_chunks",
    f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(text, '\\s+')) AS toks,
             {_bucket_sql('doc_id', 2147483648)} AS b
      FROM documents
    ),
    o AS (
      SELECT *, SUM(toks) OVER (ORDER BY b, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    ),
    e AS (
      SELECT doc_id, toks, cum, cum - toks AS st,
             unnest(generate_series(CAST(FLOOR((cum - toks) / 4096.0) AS BIGINT),
                                    CAST(FLOOR((cum - 1) / 4096.0) AS BIGINT))) AS bin_id
      FROM o WHERE toks > 0
    )
    SELECT doc_id, bin_id,
           CAST(GREATEST(st, bin_id * 4096) - st AS BIGINT) AS tok_offset,
           CAST(LEAST(cum, (bin_id + 1) * 4096)
                - GREATEST(st, bin_id * 4096) AS BIGINT) AS chunk_tokens
    FROM e
    """,
)
def xtra_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHUNKING half of concat-then-chunk packing (r13, completes
    xtra_sequence_packing): every document exploded into its per-bin token
    slices — (doc_id, bin_id, tok_offset, chunk_tokens) rows a downstream
    splitter cuts token arrays with, no further coordination needed. The
    generate-series explode adds only straddle rows (≤ total_tokens/4096),
    never a cross join; the prefix sum underneath is the two-pass
    distributed rewrite. The oracle re-derives every slice from the naive
    window + generate_series and must agree row-for-row."""
    docs = src.load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        tx.token_count(F.col("text")).cast("long").alias("toks"),
        sampling.stable_bucket(F.col("doc_id"), 1 << 31).alias("b"),
    )
    chunks = packing.pack_chunks(
        t, token_col="toks", order_cols=["b", "doc_id"], bin_tokens=4096
    )
    return chunks.select("doc_id", "bin_id", "tok_offset", "chunk_tokens")


# ===========================================================================
# PII scan + redaction (pre-training scrub pass)
# ===========================================================================


@register(
    "xtra_pii_scan",
    """
    WITH doctored AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact user' || doc_id ||
                       '@example.com or https://ex.example/p?q=1 or 555-867-5309'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS emails,
           CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS INTEGER) AS urls,
           CAST(len(regexp_extract_all(text, '\\d{3}[-.]\\d{3}[-.]\\d{4}')) AS INTEGER) AS phones,
           length(regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
             'https?://[^\\s]+', '[REDACTED]', 'g'),
             '\\d{3}[-.]\\d{3}[-.]\\d{4}', '[REDACTED]', 'g')) AS redacted_len
    FROM doctored
    """,
)
def xtra_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: per-doc email/URL/phone counts + redacted length.
    Every 10th document is doctored IN the query with synthetic PII so both
    engines scan identical text and the counts are provably non-zero
    (regex subset valid in Java regex AND RE2)."""
    docs = src.load_table(spark, sf_dir, "documents")
    doctored = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or https://ex.example/p?q=1 or 555-867-5309"),
        ),
    ).otherwise(F.col("text"))
    d = docs.select("doc_id", doctored.alias("text"))
    counts = tx.pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        counts["emails"].alias("emails"),
        counts["urls"].alias("urls"),
        counts["phones"].alias("phones"),
        F.length(tx.redact_pii(F.col("text"))).cast("long").alias("redacted_len"),
    )


@register(
    "xtra_weighted_sample",
    f"""
    WITH q AS (
      SELECT doc_id, lang,
             least(CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) / 40.0, 1.0) AS w
      FROM documents
    )
    SELECT doc_id, lang FROM q
    WHERE {_bucket_sql('doc_id', 10000)} < CAST(w * 10000 AS BIGINT)
    """,
)
def xtra_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling: keep probability proportional to a
    length-based quality proxy (capped at 1) — longer documents more likely
    kept, decided by the same stable md5 bucket, so the pick is
    deterministic and engine-portable."""
    docs = src.load_table(spark, sf_dir, "documents")
    w = F.least(tx.token_count(F.col("text")).cast("double") / 40.0, F.lit(1.0))
    return sampling.weighted_sample(docs, "doc_id", w).select("doc_id", "lang")


@register(
    "xtra_corpus_upsample",
    """
    WITH factors AS (SELECT * FROM (VALUES ('en', 1), ('de', 2), ('fr', 3)) AS f(lang, n)),
    rep AS (
      SELECT d.doc_id, d.lang, unnest(range(1, f.n + 1)) AS repeat_ix
      FROM documents d JOIN factors f ON f.lang = d.lang
    )
    SELECT lang, COUNT(*) AS rows_after,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS distinct_docs,
           CAST(MAX(repeat_ix) AS INTEGER) AS max_repeat
    FROM rep GROUP BY lang
    """,
)
def xtra_corpus_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture upsampling: per-language epoch factors (en x1, de x2, fr x3)
    explode each doc into that many copies with a repeat index — the
    repeat-aware corpus expansion pre-training mixes apply to scarce
    sources. Languages without a factor drop out (inner join)."""
    docs = src.load_table(spark, sf_dir, "documents")
    factors = spark.createDataFrame([("en", 1), ("de", 2), ("fr", 3)], "lang string, n int")
    rep = sampling.upsample_repeats(
        docs.join(F.broadcast(factors), "lang"), F.col("n")
    )
    return rep.groupBy("lang").agg(
        F.count("*").alias("rows_after"),
        F.count_distinct("doc_id").alias("distinct_docs"),
        F.max("repeat_ix").alias("max_repeat"),
    )


# ===========================================================================
# Window-slot folds (round 2b): FIL-1/3/4/5/6 in one entry; LIM-1 + DEDUP-1
# in one entry. The folded originals stay registered after the window.
# ===========================================================================


def _fil_suite_sql() -> str:
    return f"""
    SELECT branch, o_orderkey AS k, val AS val_s, CAST(NULL AS DOUBLE) AS val_d
    FROM ({REGISTRY['fil_predicates'][1]})
    UNION ALL
    SELECT 'null_gated', event_id, NULL, value
    FROM ({REGISTRY['fil_null_gated'][1]})
    """


@register("fil_suite", _fil_suite_sql())
def fil_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIL-1/3/4/5 (IN-list + conjunctive equality, pushed to the scan) +
    FIL-6 (0-treated-as-missing truthiness gate) as tagged branches — same
    operator implementations as `fil_predicates` and `fil_null_gated`."""
    preds = REGISTRY["fil_predicates"][0](spark, sf_dir).select(
        "branch",
        F.col("o_orderkey").alias("k"),
        F.col("val").alias("val_s"),
        F.lit(None).cast("double").alias("val_d"),
    )
    gated = REGISTRY["fil_null_gated"][0](spark, sf_dir).select(
        F.lit("null_gated").alias("branch"),
        F.col("event_id").alias("k"),
        F.lit(None).cast("string").alias("val_s"),
        F.col("value").alias("val_d"),
    )
    return preds.unionByName(gated)


def _lim_dedup_sql() -> str:
    return f"""
    SELECT 'topk' AS branch, o_custkey, o_orderkey, o_totalprice, rn
    FROM ({REGISTRY['topk_per_group'][1]})
    UNION ALL
    SELECT 'dedup', o_custkey, o_orderkey, o_totalprice, 1
    FROM ({REGISTRY['dedup_last_write_wins'][1]})
    """


@register("lim_dedup_suite", _lim_dedup_sql())
def lim_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIM-1 (k-most-recent per group, unique tiebreaker) + DEDUP-1
    (last-write-wins natural-key dedup) as tagged branches — both window
    row_number paths through operators/topk.py."""
    top = REGISTRY["topk_per_group"][0](spark, sf_dir).select(
        F.lit("topk").alias("branch"), "o_custkey", "o_orderkey", "o_totalprice",
        F.col("rn").cast("long").alias("rn"),
    )
    ded = REGISTRY["dedup_last_write_wins"][0](spark, sf_dir).select(
        F.lit("dedup").alias("branch"), "o_custkey", "o_orderkey", "o_totalprice",
        F.lit(1).cast("long").alias("rn"),
    )
    return top.unionByName(ded)


# ===========================================================================
# SCD Type 2 — interval dimension from a change log (r10)
# ===========================================================================

from tesla_competitive_intelligence_etl_pipeline_spark.operators import scd2 as _scd2  # noqa: E402


@register(
    "xtra_scd2_dim",
    """
    WITH d AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                                ORDER BY value DESC) AS rn
      FROM events WHERE user_id < 200
    )
    SELECT user_id, event_type, value,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL)
             AS is_current
    FROM d WHERE rn = 1
    """,
)
def xtra_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build (operators/scd2.py — r10): collapse a
    keyed change log (each event = a change to the user's state) into
    ``[valid_from, valid_to)`` intervals with one per-key window pass —
    the warehouse-standard versioned dimension the reference's
    overwrite-upsert load (SQLAlchemy merge, latest-row-only) cannot
    answer historical joins from. Delete semantics (an erasure closes the
    interval and opens a hole) and the point-in-time join are pinned in
    tests/test_ext.py; the PIT join agrees row-for-row with asof_join on
    delete-free logs. Oracle: the same dedup + LEAD window in SQL."""
    ev = (
        src.load_events(spark, sf_dir)
        .filter(F.col("user_id") < 200)
        .select("user_id", "ts", "event_type", "value")
    )
    return _scd2.scd2_from_log(
        ev, ["user_id"], "ts", ["event_type", "value"], tiebreak="value"
    )


@register("xtra_scd2_commit_ts", _oracle_vec.scd2_commit_ts_fixture_sql())
def xtra_scd2_commit_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock SCD2 from the commit log (r11 — VERDICT r10 item 2):
    commit records carry a recorded timestamp, read_commit_changes exposes
    it as ``_commit_ts``, and scd2_from_changes_df(timeline='ts') emits
    real ``valid_from``/``valid_to`` instants — commit ORDER still decided
    by ``_commit_seq`` (riding along as *_seq), the ts axis monotonized
    (running max over seq) so a wall clock stepping back between writers
    can never invert intervals. Hash-checked via the frozen fixture of a
    real table's captured change rows (inserts + updates + deletes +
    re-inserts; plans/fixtures.ensure_scd2ts_fixture): the oracle
    re-derives dedup (delete-wins), LEAD intervals, and the monotonized
    ts join in SQL. 'What did we know at 3pm Tuesday' is now one
    point_in_time_join away (pinned in tests/test_ext.py)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

    fixtures.ensure_scd2ts_fixture(spark, sf_dir)
    ch = fixtures.read_fixture(spark, sf_dir, "scd2ts", "changes")
    dim = _scd2.scd2_from_changes_df(
        ch, ["user_id"], ["event_type", "value"], timeline="ts"
    )
    # nullable int -> float64 on the oracle's pandas side; align dtypes
    return dim.withColumn("valid_to_seq", F.col("valid_to_seq").cast("double"))
