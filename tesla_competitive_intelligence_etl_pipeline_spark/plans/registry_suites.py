"""Registry batch 8: round-3 window composites (VERDICT r2 item 2).

Folds the oracle-backed extension extras that sat OUTSIDE the driver's
50-entry correctness window into four composite entries, so every
oracle-backed query family gets a hard driver-green row:

- ``tpch_suite``   — TPC-H Q4/Q5/Q6/Q7/Q10/Q12/Q13/Q14/Q15/Q17/Q19/Q22
  harmonized to (q, k1, k2, cnt, val).
- ``xtra_suite``   — as-of join, bucketized range join, salted skew join,
  clustered write, distributed sequence packing, PII scan, benchmark
  decontamination, incremental rollup maintenance.
- ``xtra_sampling_suite`` — the deterministic md5-bucket sampling family
  (downsample, stratified mixture, split assignment, weighted sample,
  mixture upsampling).
- ``x9_joins_suite`` — streaming dedup-under-redelivery, stream-static
  enrichment, stream-stream interval join, drained through the REAL
  streaming engine with the three streams started concurrently.

Same fold contract as registry_compact: each composite calls the SAME
registered builders (or their shared stream constructors) and its oracle is
the UNION ALL of the original oracles under matching aliases; the folded
fine-grained entries stay registered after the window. Two exceptions in
``tpch_suite``: its Q14 and Q19 branches are one fused lineitem ⋈ part
pass (``q14_q19_pass``) over the same measure and predicate definitions
the standalone ``q14_promo_ratio`` and ``q19_disjunctive_revenue``
builders use, and its Q8 branch is ``q8_market_share`` without the ORDER
BY (``q8_share_by_year``).

This module must be imported LAST (plans.load_registry does) because the
composite oracles splice REGISTRY[...] SQL registered across every other
batch module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import aggregates as agg

# import every other batch first so their REGISTRY entries exist
from tesla_competitive_intelligence_etl_pipeline_spark.plans import (  # noqa: F401
    registry_analytics,
    registry_compact,
    registry_corpus,
    registry_ext,
    registry_fns,
    registry_more,
    registry_streaming,
)
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry import (
    REGISTRY,
    net_revenue,
    register,
)
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm


def _b(tag: str, sql: str, cols: str) -> str:
    """One harmonized oracle branch: SELECT '<tag>', <cols> FROM (<sql>)."""
    return f"SELECT '{tag}' AS branch, {cols} FROM ({sql})"


_VS = "CAST(NULL AS VARCHAR)"
# bigint null-slots use a -1 sentinel: DuckDB BIGINT with NULLs lands in
# pandas as float64, which would fail the harness dtype-parity check
_BN = "CAST(-1 AS BIGINT)"
_DN = "CAST(NULL AS DOUBLE)"


# ===========================================================================
# tpch_suite — (branch, k1 varchar, k2 varchar, cnt bigint, val double)
# ===========================================================================


def _tpch_suite_sql() -> str:
    r = REGISTRY
    return " UNION ALL ".join(
        [
            _b("q4", r["q4_order_priority"][1],
               f"o_orderpriority AS k1, {_VS} AS k2, order_count AS cnt, {_DN} AS val"),
            _b("q5", r["q5_region_volume"][1],
               f"n_name AS k1, {_VS} AS k2, {_BN} AS cnt, revenue AS val"),
            _b("q6", r["q6_forecast_revenue"][1],
               f"{_VS} AS k1, {_VS} AS k2, {_BN} AS cnt, revenue_delta AS val"),
            _b("q7", r["q7_volume_shipping"][1],
               "supp_nation AS k1, cust_nation AS k2, l_year AS cnt, revenue AS val"),
            _b("q8", r["q8_market_share"][1],
               f"CAST(o_year AS VARCHAR) AS k1, {_VS} AS k2, {_BN} AS cnt, "
               "mkt_share AS val"),
            _b("q10", r["q10_returned_items"][1],
               "CAST(c_custkey AS VARCHAR) AS k1, c_name || '|' || n_name AS k2, "
               f"{_BN} AS cnt, revenue AS val"),
            _b("q12", r["q12_shipmode_priority"][1],
               f"l_linestatus AS k1, {_VS} AS k2, high_count AS cnt, "
               "CAST(low_count AS DOUBLE) AS val"),
            _b("q13", r["q13_customer_distribution"][1],
               f"CAST(c_count AS VARCHAR) AS k1, {_VS} AS k2, custdist AS cnt, {_DN} AS val"),
            _b("q14", r["q14_promo_ratio"][1],
               f"{_VS} AS k1, {_VS} AS k2, {_BN} AS cnt, promo_revenue_pct AS val"),
            _b("q15", r["q15_top_supplier"][1],
               f"CAST(s_suppkey AS VARCHAR) AS k1, s_name AS k2, {_BN} AS cnt, "
               "total_revenue AS val"),
            _b("q17", r["q17_small_quantity_revenue"][1],
               f"{_VS} AS k1, {_VS} AS k2, {_BN} AS cnt, avg_yearly AS val"),
            _b("q19", r["q19_disjunctive_revenue"][1],
               f"{_VS} AS k1, {_VS} AS k2, {_BN} AS cnt, revenue AS val"),
            _b("q22", r["q22_dormant_accounts"][1],
               f"c_mktsegment AS k1, {_VS} AS k2, numcust AS cnt, totacctbal AS val"),
        ]
    )


def q14_q19_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q14 and Q19 branches of ``tpch_suite`` as one pass: one inner
    lineitem ⋈ broadcast(part) join, one global aggregate of conditional
    exact sums, and one ``inline`` that emits a ``q14`` and a ``q19`` row
    (``branch``, ``val``), so the aggregate has one consumer.

    Each sum only admits the rows its query's own filter keeps, and exact
    decimal sums do not depend on which other rows pass through, so each
    value equals its standalone builder's. The join stays inner, as in both
    queries: a LEFT join would add rows with no part, and a duplicated
    ``p_partkey`` multiplies the rows of both branches alike. The lineitem
    filter ahead of the join is the OR of the two queries' lineitem-side
    predicates, so Q19's quantity residual still reaches the scan."""
    q14_li = registry_more.q14_shipped()
    li = src.load_table(spark, sf_dir, "lineitem").filter(
        q14_li | registry_corpus.q19_quantity()
    )
    p = src.load_table(spark, sf_dir, "part")
    totals = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        agg.exact_sum(F.when(q14_li, registry_more.q14_promo_revenue())).alias("a"),
        agg.exact_sum(F.when(q14_li, net_revenue())).alias("b"),
        agg.exact_sum(F.when(registry_corpus.q19_match(), net_revenue())).alias("q19"),
    )
    return totals.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("q14").alias("branch"),
                    registry_more.q14_pct(F.col("a"), F.col("b")).alias("val"),
                ),
                F.struct(F.lit("q19").alias("branch"), F.col("q19").alias("val")),
            )
        )
    )


@register("tpch_suite", _tpch_suite_sql())
def tpch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H shapes Q4/5/6/7/8/10/12/13/14/15/17/19/22 in one harmonized
    result, each branch tagged and mapped onto (k1, k2, cnt, val). Each
    branch is the registered builder of its query, except Q14 and Q19, which
    share one lineitem ⋈ part pass (``q14_q19_pass``), and Q8, whose branch
    is its builder without the ORDER BY the union would lose
    (``q8_share_by_year``). Q1/Q3/Q18 and the correlated-subquery shape
    keep their own window slots (headline queries). With these, every TPC-H query expressible on this testdata is
    covered (Q2/9/11/16/20 need partsupp; Q21 needs receipt/commit dates).

    The three fact/dim tables the branches scan are served from ONE persisted
    scan via shared_scans — the branches otherwise re-read lineitem/
    orders/customer once each inside the unioned plan."""
    ns = F.lit(None).cast("string")
    nb = F.lit(-1).cast("long")
    nd = F.lit(None).cast("double")

    def run(name: str) -> DataFrame:
        return REGISTRY[name][0](spark, sf_dir)

    with src.shared_scans(spark, sf_dir, "lineitem", "orders", "customer"):
        branches = [
            run("q4_order_priority").select(
                F.lit("q4").alias("branch"), F.col("o_orderpriority").alias("k1"),
                ns.alias("k2"), F.col("order_count").alias("cnt"), nd.alias("val")),
            run("q5_region_volume").select(
                F.lit("q5").alias("branch"), F.col("n_name").alias("k1"),
                ns.alias("k2"), nb.alias("cnt"), F.col("revenue").alias("val")),
            run("q6_forecast_revenue").select(
                F.lit("q6").alias("branch"), ns.alias("k1"), ns.alias("k2"),
                nb.alias("cnt"), F.col("revenue_delta").alias("val")),
            run("q7_volume_shipping").select(
                F.lit("q7").alias("branch"), F.col("supp_nation").alias("k1"),
                F.col("cust_nation").alias("k2"), F.col("l_year").alias("cnt"),
                F.col("revenue").alias("val")),
            registry_compact.q8_share_by_year(spark, sf_dir).select(
                F.lit("q8").alias("branch"), F.col("o_year").cast("string").alias("k1"),
                ns.alias("k2"), nb.alias("cnt"), F.col("mkt_share").alias("val")),
            run("q10_returned_items").select(
                F.lit("q10").alias("branch"), F.col("c_custkey").cast("string").alias("k1"),
                F.concat(F.col("c_name"), F.lit("|"), F.col("n_name")).alias("k2"),
                nb.alias("cnt"), F.col("revenue").alias("val")),
            run("q12_shipmode_priority").select(
                F.lit("q12").alias("branch"), F.col("l_linestatus").alias("k1"),
                ns.alias("k2"), F.col("high_count").alias("cnt"),
                F.col("low_count").cast("double").alias("val")),
            run("q13_customer_distribution").select(
                F.lit("q13").alias("branch"), F.col("c_count").cast("string").alias("k1"),
                ns.alias("k2"), F.col("custdist").alias("cnt"), nd.alias("val")),
            q14_q19_pass(spark, sf_dir).select(
                "branch", ns.alias("k1"), ns.alias("k2"), nb.alias("cnt"), "val"),
            run("q15_top_supplier").select(
                F.lit("q15").alias("branch"), F.col("s_suppkey").cast("string").alias("k1"),
                F.col("s_name").alias("k2"), nb.alias("cnt"),
                F.col("total_revenue").alias("val")),
            run("q17_small_quantity_revenue").select(
                F.lit("q17").alias("branch"), ns.alias("k1"), ns.alias("k2"),
                nb.alias("cnt"), F.col("avg_yearly").alias("val")),
            run("q22_dormant_accounts").select(
                F.lit("q22").alias("branch"), F.col("c_mktsegment").alias("k1"),
                ns.alias("k2"), F.col("numcust").alias("cnt"),
                F.col("totacctbal").alias("val")),
        ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# ===========================================================================
# xtra_suite — (branch, k1 bigint, k2 varchar, cnt bigint, val double)
# ===========================================================================


def _xtra_suite_sql() -> str:
    r = REGISTRY
    return " UNION ALL ".join(
        [
            _b("asof", r["xtra_asof_join"][1],
               "event_id AS k1, CAST(user_id AS VARCHAR) || ':' || "
               "COALESCE(CAST(last_order_key AS VARCHAR), '-') AS k2, "
               f"{_BN} AS cnt, last_order_total AS val"),
            _b("range", r["xtra_range_join"][1],
               f"window_id AS k1, {_VS} AS k2, cnt, value_sum AS val"),
            _b("salted", r["xtra_salted_join"][1],
               f"{_BN} AS k1, c_mktsegment AS k2, cnt, {_DN} AS val"),
            _b("clustered", r["xtra_clustered_write"][1],
               f"{_BN} AS k1, strftime(day, '%Y-%m-%d') AS k2, cnt, value_sum AS val"),
            _b("packing", r["xtra_sequence_packing"][1],
               f"bin_id AS k1, {_VS} AS k2, n_docs AS cnt, "
               "CAST(total_tokens AS DOUBLE) AS val"),
            _b("pii", r["xtra_pii_scan"][1],
               "doc_id AS k1, CAST(emails AS VARCHAR) || '|' || CAST(urls AS VARCHAR) "
               "|| '|' || CAST(phones AS VARCHAR) AS k2, redacted_len AS cnt, "
               f"{_DN} AS val"),
            _b("decontam", r["xtra_decontaminate"][1],
               "doc_id AS k1, CAST(contaminated AS VARCHAR) AS k2, bench_hits AS cnt, "
               f"{_DN} AS val"),
            _b("rollup", r["xtra_incremental_rollup"][1],
               f"{_BN} AS k1, event_type || '|' || strftime(day, '%Y-%m-%d') AS k2, "
               "cnt, value_sum AS val"),
            _b("bpe", r["xtra_bpe_pairs"][1],
               f"rank AS k1, pair AS k2, freq AS cnt, {_DN} AS val"),
            _b("chunk", r["xtra_chunk_documents"][1],
               "doc_id AS k1, CAST(chunk_ix AS VARCHAR) || ':' || chunk_md5 AS k2, "
               f"n_tokens AS cnt, {_DN} AS val"),
            _b("xcorpus", r["x2_cross_corpus"][1],
               f"doc_id AS k1, CAST(match_id AS VARCHAR) AS k2, {_BN} AS cnt, "
               "jaccard AS val"),
            _b("mixw", r["x_mix_weights"][1],
               f"{_BN} AS k1, source AS k2, docs AS cnt, resample_factor AS val"),
            _b("mixh", r["x_mix_length_hist"][1],
               f"len_bucket AS k1, {_VS} AS k2, docs AS cnt, "
               "CAST(tokens AS DOUBLE) AS val"),
            _b("ret", r["evt_retention_cohorts"][1],
               "week_offset AS k1, strftime(cohort_week, '%Y-%m-%d') AS k2, "
               f"users AS cnt, {_DN} AS val"),
            _b("cdup", r["x1_chunk_dedup"][1],
               "first_doc AS k1, chunk_md5 AS k2, n_docs AS cnt, "
               "CAST(n_occurrences AS DOUBLE) AS val"),
        ]
    )


@register("xtra_suite", _xtra_suite_sql())
def xtra_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-sampling extension extras in one harmonized result: as-of
    join (union+forward-fill), bucketized range join, salted skew join,
    clustered parquet write + read-back, distributed-prefix-sum sequence
    packing, PII scan/redaction, benchmark decontamination, incremental
    rollup maintenance, BPE merge-pair mining, cross-corpus near-dedup,
    data-mixing weights + context-length histogram, retention cohorts, and
    passage-level chunk dedup — every branch the SAME registered builder
    the fine-grained entry uses.

    The corpus/fact tables the branches scan (documents x8 branches, events
    x5, orders x2) are served from ONE persisted scan via shared_scans
    (VERDICT r3 item 2 — this suite previously cost ~2x the sum of its
    branches by re-reading and re-normalizing per branch)."""
    nb = F.lit(-1).cast("long")
    ns = F.lit(None).cast("string")
    nd = F.lit(None).cast("double")

    def run(name: str) -> DataFrame:
        return REGISTRY[name][0](spark, sf_dir)

    with src.shared_scans(spark, sf_dir, "documents", "events", "orders"):
        branches = [
            run("xtra_asof_join").select(
                F.lit("asof").alias("branch"), F.col("event_id").alias("k1"),
                F.concat(
                    F.col("user_id").cast("string"), F.lit(":"),
                    F.coalesce(F.col("last_order_key").cast("string"), F.lit("-")),
                ).alias("k2"),
                nb.alias("cnt"), F.col("last_order_total").alias("val")),
            run("xtra_range_join").select(
                F.lit("range").alias("branch"), F.col("window_id").alias("k1"),
                ns.alias("k2"), F.col("cnt"), F.col("value_sum").alias("val")),
            run("xtra_salted_join").select(
                F.lit("salted").alias("branch"), nb.alias("k1"),
                F.col("c_mktsegment").alias("k2"), F.col("cnt"), nd.alias("val")),
            run("xtra_clustered_write").select(
                F.lit("clustered").alias("branch"), nb.alias("k1"),
                F.date_format("day", "yyyy-MM-dd").alias("k2"),
                F.col("cnt"), F.col("value_sum").alias("val")),
            run("xtra_sequence_packing").select(
                F.lit("packing").alias("branch"), F.col("bin_id").alias("k1"),
                ns.alias("k2"), F.col("n_docs").alias("cnt"),
                F.col("total_tokens").cast("double").alias("val")),
            run("xtra_pii_scan").select(
                F.lit("pii").alias("branch"), F.col("doc_id").alias("k1"),
                F.concat(
                    F.col("emails").cast("string"), F.lit("|"),
                    F.col("urls").cast("string"), F.lit("|"),
                    F.col("phones").cast("string"),
                ).alias("k2"),
                F.col("redacted_len").alias("cnt"), nd.alias("val")),
            run("xtra_decontaminate").select(
                F.lit("decontam").alias("branch"), F.col("doc_id").alias("k1"),
                F.col("contaminated").cast("string").alias("k2"),
                F.col("bench_hits").alias("cnt"), nd.alias("val")),
            run("xtra_incremental_rollup").select(
                F.lit("rollup").alias("branch"), nb.alias("k1"),
                F.concat(
                    F.col("event_type"), F.lit("|"), F.date_format("day", "yyyy-MM-dd")
                ).alias("k2"),
                F.col("cnt"), F.col("value_sum").alias("val")),
            run("xtra_bpe_pairs").select(
                F.lit("bpe").alias("branch"), F.col("rank").alias("k1"),
                F.col("pair").alias("k2"), F.col("freq").alias("cnt"),
                nd.alias("val")),
            run("xtra_chunk_documents").select(
                F.lit("chunk").alias("branch"), F.col("doc_id").alias("k1"),
                F.concat(
                    F.col("chunk_ix").cast("string"), F.lit(":"), F.col("chunk_md5")
                ).alias("k2"),
                F.col("n_tokens").alias("cnt"), nd.alias("val")),
            run("x2_cross_corpus").select(
                F.lit("xcorpus").alias("branch"), F.col("doc_id").alias("k1"),
                F.col("match_id").cast("string").alias("k2"),
                nb.alias("cnt"), F.col("jaccard").alias("val")),
            run("x_mix_weights").select(
                F.lit("mixw").alias("branch"), nb.alias("k1"),
                F.col("source").alias("k2"), F.col("docs").alias("cnt"),
                F.col("resample_factor").alias("val")),
            run("x_mix_length_hist").select(
                F.lit("mixh").alias("branch"), F.col("len_bucket").alias("k1"),
                ns.alias("k2"), F.col("docs").alias("cnt"),
                F.col("tokens").cast("double").alias("val")),
            run("evt_retention_cohorts").select(
                F.lit("ret").alias("branch"), F.col("week_offset").alias("k1"),
                F.date_format("cohort_week", "yyyy-MM-dd").alias("k2"),
                F.col("users").alias("cnt"), nd.alias("val")),
            run("x1_chunk_dedup").select(
                F.lit("cdup").alias("branch"), F.col("first_doc").alias("k1"),
                F.col("chunk_md5").alias("k2"), F.col("n_docs").alias("cnt"),
                F.col("n_occurrences").cast("double").alias("val")),
        ]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# ===========================================================================
# xtra_sampling_suite — (branch, k1 bigint, lang varchar, cnt bigint, cnt2 bigint)
# ===========================================================================


def _sampling_suite_sql() -> str:
    r = REGISTRY
    return " UNION ALL ".join(
        [
            _b("sample", r["xtra_sample_stable"][1],
               f"doc_id AS k1, lang, {_BN} AS cnt, {_BN} AS cnt2"),
            _b("mixture", r["xtra_corpus_mixture"][1],
               f"doc_id AS k1, lang, {_BN} AS cnt, {_BN} AS cnt2"),
            _b("weighted", r["xtra_weighted_sample"][1],
               f"doc_id AS k1, lang, {_BN} AS cnt, {_BN} AS cnt2"),
            _b("split", r["xtra_split_counts"][1],
               f"{_BN} AS k1, split || '|' || lang AS lang, cnt, {_BN} AS cnt2"),
            _b("upsample", r["xtra_corpus_upsample"][1],
               "distinct_docs AS k1, lang, rows_after AS cnt, "
               "CAST(max_repeat AS BIGINT) AS cnt2"),
        ]
    )


@register("xtra_sampling_suite", _sampling_suite_sql())
def xtra_sampling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic md5-bucket sampling family in one result:
    shuffle-free fractional downsample, stratified mixture quotas,
    quality-weighted sampling, leakage-free train/val/test split counts, and
    repeat-factor mixture upsampling — all engine-portable (identical md5
    arithmetic on the DuckDB side), so the sampled row SETS hash-match.
    All five branches share one persisted documents scan."""
    nb = F.lit(-1).cast("long")

    def run(name: str) -> DataFrame:
        return REGISTRY[name][0](spark, sf_dir)

    def ids(tag: str, name: str) -> DataFrame:
        return run(name).select(
            F.lit(tag).alias("branch"), F.col("doc_id").alias("k1"),
            F.col("lang"), nb.alias("cnt"), nb.alias("cnt2"))

    with src.shared_scans(spark, sf_dir, "documents"):
        split = run("xtra_split_counts").select(
            F.lit("split").alias("branch"), nb.alias("k1"),
            F.concat(F.col("split"), F.lit("|"), F.col("lang")).alias("lang"),
            F.col("cnt"), nb.alias("cnt2"))
        ups = run("xtra_corpus_upsample").select(
            F.lit("upsample").alias("branch"), F.col("distinct_docs").alias("k1"),
            F.col("lang"), F.col("rows_after").alias("cnt"),
            F.col("max_repeat").cast("long").alias("cnt2"))
        return (
            ids("sample", "xtra_sample_stable")
            .unionByName(ids("mixture", "xtra_corpus_mixture"))
            .unionByName(ids("weighted", "xtra_weighted_sample"))
            .unionByName(split)
            .unionByName(ups)
        )


# ===========================================================================
# x9_joins_suite — (branch, k varchar, k2 bigint, cnt bigint, val double)
# ===========================================================================


def _x9_joins_sql() -> str:
    r = REGISTRY
    return " UNION ALL ".join(
        [
            _b("dedup", r["x9_stream_dedup"][1],
               f"event_type AS k, {_BN} AS k2, cnt, value_sum AS val"),
            _b("static", r["x9_stream_static_join"][1],
               f"c_mktsegment AS k, {_BN} AS k2, cnt, value_sum AS val"),
            _b("ssj", r["x9_stream_stream_join"][1],
               f"CAST(user_id AS VARCHAR) AS k, view_id AS k2, purchase_id AS cnt, "
               f"{_DN} AS val"),
        ]
    )


@register("x9_joins_suite", _x9_joins_sql())
def x9_joins_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9f/g/h through the REAL streaming engine in one result: exact dedup
    under at-least-once redelivery (dropDuplicatesWithinWatermark),
    stream-static broadcast enrichment, and the watermark-bounded
    stream-stream interval join — all three streams START CONCURRENTLY
    (strm.start_to_table) so the composite pays max(replay time), not the
    sum, then each drained table is hash-checked against its batch oracle."""
    started = [
        strm.start_to_table(
            spark, registry_compact._dedup_stream(spark, sf_dir), mode="complete"
        ),
        strm.start_to_table(
            spark, registry_compact._static_join_stream(spark, sf_dir), mode="complete"
        ),
        strm.start_to_table(
            spark,
            registry_compact._stream_stream_joined(spark, sf_dir).select(
                "view_id", "purchase_id", "user_id"
            ),
            mode="append",
        ),
    ]
    strm.await_drained(*(q for q, _ in started))
    ded, stat, ssj = (spark.table(name) for _, name in started)

    nb = F.lit(-1).cast("long")
    nd = F.lit(None).cast("double")
    return (
        ded.select(
            F.lit("dedup").alias("branch"), F.col("event_type").alias("k"),
            nb.alias("k2"), F.col("cnt"), F.col("value_sum").alias("val"))
        .unionByName(stat.select(
            F.lit("static").alias("branch"), F.col("c_mktsegment").alias("k"),
            nb.alias("k2"), F.col("cnt"), F.col("value_sum").alias("val")))
        .unionByName(ssj.select(
            F.lit("ssj").alias("branch"), F.col("user_id").cast("string").alias("k"),
            F.col("view_id").alias("k2"), F.col("purchase_id").alias("cnt"),
            nd.alias("val")))
    )
