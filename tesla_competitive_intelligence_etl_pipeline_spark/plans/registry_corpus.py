"""Registry batch 8: corpus-hygiene operators for pre-training pipelines
(Gopher-style repetition signals, benchmark decontamination) and the
remaining classic TPC-H query shapes (Q13/Q15/Q17/Q19/Q22) — outer-join
histograms, argmax-of-aggregate, per-group averages as a window over a
semi-joined subset, disjunctive pushdown, and anti-join + scalar subquery.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import aggregates as agg
from tesla_competitive_intelligence_etl_pipeline_spark.operators import decontam as dc
from tesla_competitive_intelligence_etl_pipeline_spark.operators import sampling
from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
from tesla_competitive_intelligence_etl_pipeline_spark.plans import oracle_vec
from tesla_competitive_intelligence_etl_pipeline_spark.plans.artifacts import artifact, scratch
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry import _dsum, net_revenue, register
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

# DuckDB twin of text.normalized_text (same as registry_ext._NORM)
_NORM = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^\\w\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


# ===========================================================================
# X-5g: repetition signals (Gopher-style quality filters)
# ===========================================================================


@register(
    "x5_repetition_signals",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM.format(c='text')} AS nt FROM documents),
    tl AS (SELECT doc_id, string_split_regex(nt, '\\s+') AS t FROM norm),
    toks AS (SELECT doc_id, unnest(t) AS tok FROM tl),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c,
                   CAST(SUM(c) AS BIGINT) AS n_tokens
            FROM tc GROUP BY 1),
    tri AS (SELECT doc_id,
              CASE WHEN len(t) >= 3
                   THEN list_transform(range(1, len(t)-1),
                                       i -> array_to_string(t[i:i+2], ' '))
                   ELSE [array_to_string(t, ' ')] END AS g
            FROM tl)
    SELECT top.doc_id, n_tokens,
           ROUND(top_c / CAST(n_tokens AS DOUBLE), 6) AS top_token_fraction,
           ROUND(1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE), 6)
             AS dup_trigram_fraction,
           (top_c / CAST(n_tokens AS DOUBLE) <= 0.1
            AND 1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE) <= 0.05)
             AS keep
    FROM top JOIN tri ON tri.doc_id = top.doc_id
    """,
)
def x5_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5g: Gopher-style repetition filters — most-common-token fraction and
    duplicate-trigram fraction, with a keep/drop verdict.

    Scale shape: the trigram signal is a pure array expression (no shuffle);
    the top-token signal is explode -> two partial-aggregable groupBys, so
    only (doc_id, token, count) triples shuffle — never the text."""
    # single-file local input arrives as ONE partition; tokenization and the
    # trigram arrays are CPU-bound per row -> spread across cores first
    # (r13: conditional keyed spread — no-op at scale, no round-robin sort)
    docs = src.spread(src.load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(tx.tokens(tx.normalized_text(F.col("text")))).alias("tok")
    )
    top = (
        toks.groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.max("count").alias("top_c"),
            F.sum("count").alias("n_tokens"),
        )
    )
    tri = docs.select(
        "doc_id", tx.dup_ngram_fraction(F.col("text"), 3).alias("dup_trigram_fraction")
    )
    top_frac = F.col("top_c").cast("double") / F.col("n_tokens").cast("double")
    return (
        top.join(tri, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(top_frac, 6).alias("top_token_fraction"),
            "dup_trigram_fraction",
            ((top_frac <= 0.1) & (F.col("dup_trigram_fraction") <= 0.05)).alias("keep"),
        )
    )


# ===========================================================================
# X-5h: corpus-wide boilerplate detection (high-document-frequency n-grams)
# ===========================================================================


@register(
    "x5_boilerplate_ngrams",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM.format(c='text')} AS nt FROM documents),
    tl AS (SELECT doc_id, string_split_regex(nt, '\\s+') AS t FROM norm),
    grams AS (SELECT doc_id,
                list_distinct(
                  CASE WHEN len(t) >= 3
                       THEN list_transform(range(1, len(t)-1),
                                           i -> array_to_string(t[i:i+2], ' '))
                       ELSE [array_to_string(t, ' ')] END) AS ngs
              FROM tl),
    g AS (SELECT doc_id, unnest(ngs) AS ng FROM grams)
    SELECT ng, COUNT(*) AS doc_freq
    FROM g GROUP BY ng HAVING COUNT(*) >= 5
    ORDER BY doc_freq DESC, ng LIMIT 20
    """,
)
def x5_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5h: boilerplate mining — the n-grams shared by the most documents
    (headers/footers/license blurbs in a real crawl). Distinct-per-doc grams
    explode into (gram, 1) pairs; document frequency is one partial-aggregable
    groupBy, and the top-k is TakeOrdered (no global sort). Only grams — never
    documents — shuffle."""
    docs = src.spread(src.load_table(spark, sf_dir, "documents"), "doc_id")
    g = docs.select(F.explode(dc.ngram_set(F.col("text"), 3)).alias("ng"))
    return (
        g.groupBy("ng")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") >= 5)
        .orderBy(F.desc("doc_freq"), F.asc("ng"))
        .limit(20)
    )


# ===========================================================================
# X-2f: benchmark decontamination (n-gram overlap vs a held-out eval set)
# ===========================================================================


@register(
    "xtra_decontaminate",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM.format(c='text')} AS nt FROM documents),
    tl AS (SELECT doc_id, string_split_regex(nt, '\\s+') AS t FROM norm),
    grams AS (SELECT doc_id,
                list_distinct(
                  CASE WHEN len(t) >= 5
                       THEN list_transform(range(1, len(t)-3),
                                           i -> array_to_string(t[i:i+4], ' '))
                       ELSE [array_to_string(t, ' ')] END) AS ngs
              FROM tl),
    bench AS (SELECT DISTINCT unnest(ngs) AS ng FROM grams WHERE doc_id % 19 = 0),
    corpus AS (SELECT doc_id, unnest(ngs) AS ng FROM grams WHERE doc_id % 19 <> 0),
    hits AS (SELECT c.doc_id, COUNT(*) AS bench_hits
             FROM corpus c JOIN bench b ON b.ng = c.ng GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(h.bench_hits, 0) AS BIGINT) AS bench_hits,
           COALESCE(h.bench_hits, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 19 <> 0) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
)
def xtra_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-2f: eval-set decontamination — every 19th doc plays the held-out
    benchmark; the rest of the corpus is tagged by 5-gram overlap. The
    benchmark n-gram set is broadcast, so the corpus never shuffles
    (operators/decontam.py)."""
    docs = src.load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 19 == 0)
    corpus = docs.filter(F.col("doc_id") % 19 != 0)
    return dc.decontaminate(corpus, benchmark, n=5, min_hits=1)


# ===========================================================================
# Event funnel analysis (chained first-occurrence semantics)
# ===========================================================================


@register(
    "evt_funnel",
    """
    WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
           JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY 1),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
           JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.ts >= s2.t2 GROUP BY 1),
    s4 AS (SELECT e.user_id, MIN(e.ts) AS t4 FROM events e
           JOIN s3 ON s3.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= s3.t3 GROUP BY 1)
    SELECT 1 AS step_idx, 'signup' AS step, COUNT(*) AS users FROM s1
    UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
    UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
    UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4
    """,
)
def evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup -> view -> click -> purchase) with chained
    first-occurrence semantics (operators/funnel.py): step k counts users
    whose earliest step-k event is at-or-after their step-(k-1) time. Only
    (user_id, ts) pairs per step shuffle; cohorts shrink monotonically."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import funnel as fu

    return fu.funnel_counts(
        src.load_events(spark, sf_dir), ["signup", "view", "click", "purchase"]
    )


@register(
    "evt_retention_cohorts",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS act_week
      FROM events
    ),
    first_seen AS (
      SELECT user_id, MIN(act_week) AS cohort_week FROM act GROUP BY 1
    )
    SELECT CAST(f.cohort_week AS DATE) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS BIGINT)
             AS week_offset,
           COUNT(*) AS users
    FROM act a JOIN first_seen f ON f.user_id = a.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def evt_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: cohort = a user's first active week;
    (cohort_week, week_offset) -> users still active that many weeks later —
    the standard product-analytics retention triangle. Two partial-aggregable
    groupBys on (user_id, week) pairs plus one keyed join; the distinct
    collapses each user-week to one row BEFORE anything shuffles, so cost is
    active user-weeks, never raw events. Counting rows of the (user, week)
    distinct equals COUNT(DISTINCT user) per cell without a second
    distinct aggregate."""
    ev = src.load_events(spark, sf_dir)
    act = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    first_seen = act.groupBy("user_id").agg(F.min("act_week").alias("cohort_week"))
    return (
        act.join(first_seen, "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            F.floor(
                F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .agg(F.count("*").alias("users"))
        .orderBy("cohort_week", "week_offset")
    )


# ===========================================================================
# Remaining TPC-H shapes
# ===========================================================================


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: filtered LEFT OUTER join preserving zero-order
    customers, then a histogram of per-customer order counts (two
    partial-aggregable groupBys)."""
    c = src.load_table(spark, sf_dir, "customer")
    o = src.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, {_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: argmax over an aggregate (top revenue supplier in a
    quarter). The scalar max is a 1-row broadcast cross join, so no window
    spans the whole table. Exact-decimal revenue makes the equality
    deterministic.

    Both consumers of the revenue aggregate, the max and the supplier join,
    read ONE shuffle of it. An equi-join on ``l_suppkey`` would let Catalyst
    infer ``isnotnull(l_suppkey)`` and push it below the aggregate on the
    join's side only; the two subtrees would then differ and the exchange
    would run twice. The null-safe join infers nothing, and the supplier
    side's ``s_suppkey IS NOT NULL`` gives it the equi-join's semantics: a
    NULL ``l_suppkey`` group matches no supplier, even when it holds the
    max."""
    li = src.load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(agg.exact_sum(net_revenue()).alias("total_revenue"))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = src.load_table(spark, sf_dir, "supplier").filter(F.col("s_suppkey").isNotNull())
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey").eqNullSafe(F.col("s_suppkey")))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
    JOIN (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS qlim
      FROM lineitem GROUP BY l_partkey
    ) t ON t.l_partkey = l.l_partkey
    WHERE l.l_quantity < t.qlim
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: a correlated per-part average, computed as a window
    over only the lines of the Brand#3 parts.

    The broadcast semi-join keeps every line of each kept part, because the
    brand is a function of ``l_partkey``; so the window partitioned by
    ``l_partkey`` sees the same lines the oracle's per-part subquery
    averages, and the average counts every line, NULL quantities included,
    as the oracle's ``COUNT(*)`` does. The one shuffle is the window's, on
    the brand's lines alone; the window stays partitioned by part at any
    scale. The inner join after the filter restores the oracle's row per
    matching part row (a duplicated ``p_partkey`` counts each line twice);
    its broadcast is the semi-join's, reused."""
    p = (
        src.load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = src.load_table(spark, sf_dir, "lineitem")
    per_part = Window.partitionBy("l_partkey")
    qlim = F.lit(0.2) * (
        F.sum(F.col("l_quantity").cast("decimal(38,2)")).over(per_part).cast("double")
        / F.count(F.lit(1)).over(per_part).cast("double")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .withColumn("qlim", qlim)
        .filter(F.col("l_quantity") < F.col("qlim"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


# (brand, largest p_size, l_quantity range) of each Q19 arm
_Q19_ARMS = (("Brand#1", 5, 1, 11), ("Brand#2", 10, 10, 20), ("Brand#3", 15, 20, 30))


def q19_quantity() -> Column:
    """The lineitem side of Q19's predicate: the OR of the arms' quantity
    ranges, which every matching line satisfies."""
    return reduce(
        operator.or_, (F.col("l_quantity").between(lo, hi) for _, _, lo, hi in _Q19_ARMS)
    )


def q19_match() -> Column:
    """Q19's predicate over a lineitem ⋈ part row: the OR of one
    brand, size and quantity conjunction per arm."""
    return reduce(
        operator.or_,
        (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(lo, hi)
            for brand, size_hi, lo, hi in _Q19_ARMS
        ),
    )


@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions across both join sides. Catalyst
    derives the single-side residuals (brand/size on part, quantity 1-30 on
    lineitem) and pushes them below the broadcast join."""
    li = src.load_table(spark, sf_dir, "lineitem")
    p = src.load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.filter(q19_match()).agg(agg.exact_sum(net_revenue()).alias("revenue"))


@register(
    "q22_dormant_accounts",
    f"""
    WITH pos AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_bal
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment, COUNT(*) AS numcust, {_dsum('c.c_acctbal', 2)} AS totacctbal
    FROM customer c, pos
    WHERE c.c_acctbal > pos.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global positive-balance average,
    1-row broadcast) + anti join against orders (never-ordered customers),
    grouped summary."""
    c = src.load_table(spark, sf_dir, "customer")
    o = src.load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        agg.exact_avg(F.col("c_acctbal"), 2).alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            agg.exact_sum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ===========================================================================
# Incremental aggregate maintenance (materialized-view refresh)
# ===========================================================================


@register(
    "xtra_incremental_rollup",
    f"""
    SELECT event_type,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           COUNT(*) AS cnt,
           {_dsum('value')} AS value_sum,
           {_dsum('value')} / CAST(COUNT(*) AS DOUBLE) AS value_avg,
           MIN(value) AS value_min,
           MAX(value) AS value_max
    FROM events GROUP BY 1, 2
    """,
)
def xtra_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance (operators/incremental.py): the daily
    rollup is built as TWO independent slice states (before/after Jan 16) and
    merged — the refresh pattern where each day only its new partition is
    aggregated and merged into stored state. The oracle is the full
    recompute: merge-of-parts must equal aggregate-of-whole exactly (exact
    decimal SUM states make the merge order-insensitive)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import incremental as inc

    ev = src.load_events(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    split = "2024-01-16"
    old = inc.rollup_state(
        ev.filter(F.col("ts") < split), ["event_type", "day"], F.col("value")
    )
    new = inc.rollup_state(
        ev.filter(F.col("ts") >= split), ["event_type", "day"], F.col("value")
    )
    return inc.finalize(inc.merge_rollups(old, new))


# ===========================================================================
# Driver-window composite: the three corpus-hygiene ops in one tagged union
# (the fine-grained entries above stay registered for direct use; this entry
# sits inside the driver's 50-query correctness window so all three get a
# hard driver-side hash check)
# ===========================================================================

from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry import REGISTRY  # noqa: E402


def _corpus_hygiene_sql() -> str:
    rep = REGISTRY["x5_repetition_signals"][1]
    boiler = REGISTRY["x5_boilerplate_ngrams"][1]
    decon = REGISTRY["xtra_decontaminate"][1]
    return f"""
    SELECT 'rep' AS kind, CAST(doc_id AS VARCHAR) AS k1,
           top_token_fraction AS num1, n_tokens AS num2,
           dup_trigram_fraction AS num3
    FROM ({rep})
    UNION ALL
    SELECT 'boiler', ng, NULL, doc_freq, NULL FROM ({boiler})
    UNION ALL
    SELECT 'decon', CAST(doc_id AS VARCHAR),
           CAST(CASE WHEN contaminated THEN 1.0 ELSE 0.0 END AS DOUBLE),
           bench_hits, NULL
    FROM ({decon})
    """


@register("x_corpus_hygiene", _corpus_hygiene_sql())
def x_corpus_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5g/h + X-2f in one tagged union: repetition signals, boilerplate
    n-grams, and benchmark decontamination — same operator implementations
    as the fine-grained entries, one combined oracle. The three branches
    share one persisted documents scan (shared_scans) instead of re-reading
    and re-tokenizing it per branch."""
    with src.shared_scans(spark, sf_dir, "documents"):
        rep = x5_repetition_signals(spark, sf_dir).select(
            F.lit("rep").alias("kind"),
            F.col("doc_id").cast("string").alias("k1"),
            F.col("top_token_fraction").alias("num1"),
            F.col("n_tokens").cast("long").alias("num2"),
            F.col("dup_trigram_fraction").alias("num3"),
        )
        boiler = x5_boilerplate_ngrams(spark, sf_dir).select(
            F.lit("boiler").alias("kind"),
            F.col("ng").alias("k1"),
            F.lit(None).cast("double").alias("num1"),
            F.col("doc_freq").cast("long").alias("num2"),
            F.lit(None).cast("double").alias("num3"),
        )
        decon = xtra_decontaminate(spark, sf_dir).select(
            F.lit("decon").alias("kind"),
            F.col("doc_id").cast("string").alias("k1"),
            F.when(F.col("contaminated"), 1.0).otherwise(0.0).alias("num1"),
            F.col("bench_hits").cast("long").alias("num2"),
            F.lit(None).cast("double").alias("num3"),
        )
    return rep.unionByName(boiler).unionByName(decon)


# ===========================================================================
# BPE merge-candidate mining (tokenizer training, step 1)
# ===========================================================================


@register(
    "xtra_bpe_pairs",
    f"""
    WITH t AS (
      SELECT string_split_regex({_NORM.format(c='text')}, '\\s+') AS tk
      FROM documents
    ),
    p AS (
      SELECT tk[i] || ' ' || tk[i+1] AS pair
      FROM t, unnest(range(1, len(tk))) AS r(i)
    )
    SELECT * FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair ASC) AS rank,
             pair, COUNT(*) AS freq
      FROM p GROUP BY pair
    ) WHERE rank <= 100
    """,
)
def xtra_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, exact top-100 with a
    total order — the merge-candidate table every BPE training iteration
    argmaxes over. Pairs are generated map-side (array slice, no self-join);
    only (pair, count) shuffles; top-k is two-phase (local top-k then a
    bounded global rank) so no full-vocabulary single-partition sort."""
    docs = src.load_table(spark, sf_dir, "documents")
    return tx.bpe_pair_frequencies(docs, top_k=100)


# ===========================================================================
# X-3d: distributed k-means corpus clustering (iterative)
# ===========================================================================


@register("x3_kmeans_clusters", oracle_vec.kmeans_summary_sql(k=8, iters=5))
def x3_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embeddings table (operators/clustering.py):
    centroids driver-held and broadcast as literals (assignment is map-side,
    no join), update step shuffles only k rows via per-dimension partial-agg
    sums, deterministic md5-bucket seeding. Hash-checked oracle (VERDICT r4
    item 2): DuckDB re-runs the UNROLLED Lloyd iterations in SQL
    (plans/oracle_vec.py) and re-derives every point's argmin assignment
    over the final centroids; centroids are quantized per iteration
    (round_decimals=6) so both engines' double partial-sum orders collapse
    to identical values. Returns the per-cluster summary (size, mean
    intra-cluster distance)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    emb = src.load_table(spark, sf_dir, "embeddings")
    _, cents = clustering.kmeans(emb, k=8, max_iters=5, round_decimals=6)
    # final summary pass: ONE assignment expression yields cluster AND its
    # distance (with_distance) — not a second k x dim distance computation
    # over an already-labeled row (that double pass cost ~2.5 s at sf0.1)
    assigned = clustering.assign_clusters(
        src.spread(emb, "vec_id"), "embedding", cents, with_distance=True
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("sq_dist"), 6).alias("mean_sq_dist"),
        )
        .orderBy("cluster")
    )


@register("x3_kmeans_df_clusters", oracle_vec.kmeans_summary_sql(k=8, iters=5))
def x3_kmeans_df_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-3d via the DATAFRAME-RESIDENT Lloyd variant (clustering.kmeans_df,
    NEW r6): centroids stay a (cluster, centroid) DataFrame end-to-end —
    broadcast-join assignment, Summarizer-aggregate update, no driver-held
    state — the strategy for k x dim beyond the literal form's ~10^8-float
    bound. Checked against the SAME unrolled-Lloyd DuckDB oracle as
    x3_kmeans_clusters: both training strategies must land on identical
    centroids (round_decimals=6, HALF_EVEN both sides) and identical
    per-cluster summaries."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    emb = src.load_table(spark, sf_dir, "embeddings")
    _, cents_df = clustering.kmeans_df(emb, k=8, max_iters=5, round_decimals=6)
    assigned = clustering.assign_clusters_join(
        src.spread(emb.select("vec_id", "embedding"), "vec_id"),
        "embedding",
        cents_df,
        "vec_id",
        with_distance=True,
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("sq_dist"), 6).alias("mean_sq_dist"),
        )
        .orderBy("cluster")
    )


# The materialized PQ index: (path, codebooks, query vector). The build —
# k-means codebook training on a 20% stable sample + the full-corpus
# map-side encode — is the OFFLINE ingest-time cost a deployment pays once
# (exactly like build_ivf_index materializes the IVF cells); the registered
# query below is the ONLINE search over the codes table.
@artifact
def _ensure_pq_index(spark: SparkSession, sf_dir: str) -> tuple[str, list, list]:
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    path = scratch("pq_index_")
    emb = src.spread(
        src.load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).persist()
    try:
        books = clustering.pq_build_index(
            emb, path, m=4, k=16, max_iters=2, train_fraction=0.2,
            round_decimals=6,
        )
        query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    finally:
        emb.unpersist()
    return path, books, query


@register(
    "x3_pq_topk",
    oracle_vec.pq_topk_sql(m=4, k_codes=16, iters=2, train_fraction=0.2),
)
def x3_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-3 scale path: product-quantized ANN over a MATERIALIZED index.
    Codebooks k-means-trained per subspace ON A 20% STABLE SAMPLE (the
    100 TB practice — training cost is bounded by the sample), corpus
    encoded to m=4 codes/vector and WRITTEN ONCE per session/sf_dir
    (_ensure_pq_index — the offline ingest cost, mirroring the IVF index);
    this query is the online asymmetric-distance top-10 for query vector 0:
    a map-side scan of the codes table (m literal-table lookups per row) +
    the k-row top-k reduction. No float vectors read, nothing retrained.
    Hash-checked oracle (VERDICT r4 item 2): DuckDB independently re-derives
    the sample, the per-subspace codebooks (unrolled Lloyd in SQL —
    plans/oracle_vec.py), the corpus codes, AND the asymmetric scores;
    round_decimals=6 codebook quantization makes the two engines'
    training bit-identical. Recall vs brute force stays pinned in
    tests/test_ext.py."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    path, books, query = _ensure_pq_index(spark, sf_dir)
    return clustering.pq_topk_indexed(spark, path, query, k=10, codebooks=books)


# The materialized IVF-PQ index — the combined layout (vectors + codes
# partitioned by cell, centroids, codebooks), built offline like the PQ index.
@artifact
def _ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> tuple[str, list, list]:
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    path = scratch("ivfpq_index_")
    emb = src.spread(
        src.load_table(spark, sf_dir, "embeddings"), "vec_id"
    ).persist()
    try:
        books = clustering.build_ivfpq_index(
            emb, path, m=4, k=16, max_iters=2, train_fraction=0.2,
            round_decimals=6,
        )
        query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    finally:
        emb.unpersist()
    return path, books, query


@register(
    "x3_ivfpq_topk",
    oracle_vec.ivfpq_topk_sql(
        m=4, k_codes=16, iters=2, train_fraction=0.2, n_probe=2, refine=4
    ),
)
def x3_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-3 combined scale path (NEW r7): IVF-PQ with exact refine — the
    production ANN composition (FAISS IVFPQ+refine re-expressed as Spark
    tables). Online search over the MATERIALIZED index
    (_ensure_ivfpq_index): probe the 2 nearest cells via the tiny centroid
    table, ADC-rank ONLY those cells' PQ codes (parquet partition pruning —
    the scan reads n_probe/n_cells of the compressed codes table, never the
    float corpus), shortlist the rounded top-40 with id tiebreaks, then
    exact-cosine re-rank the broadcast shortlist against the probed cells'
    float vectors. Hash-checked end-to-end: DuckDB independently re-derives
    the decimal-exact cell centroids, the probe, the stable-sample
    per-subspace codebooks (unrolled Lloyd), the candidate encoding, the
    shortlist boundary, AND the refine order (plans/oracle_vec.py
    ivfpq_topk_sql). Plan shape pinned in tests/test_plans.py; recall floor
    vs brute force pinned in tests/test_ext.py."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    path, books, query = _ensure_ivfpq_index(spark, sf_dir)
    return clustering.ivfpq_topk_indexed(
        spark, path, query, k=10, n_probe=2, refine=4, codebooks=books
    )


@register(
    "x3_ivfpq_batch",
    oracle_vec.ivfpq_topk_batch_sql(
        m=4, k_codes=16, iters=2, train_fraction=0.2, n_probe=2, refine=4,
        query_filter="vec_id < 3",
    ),
)
def x3_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-3 bulk retrieval (NEW r7): BATCH IVF-PQ search — top-10 neighbors
    for EVERY query row in ONE distributed plan (clustering
    .ivfpq_topk_batch), the "embed the crawl, retrieve for every new doc"
    path that replaces the collect-and-loop anti-pattern. One broadcast
    carries each query's probed cells, ADC distance table, and float
    vector; the codes scan prunes to the union of probed cells (dynamic
    partition pruning, pinned in tests/test_plans.py); shortlist and
    final rank are per-query windows. Hash-checked end-to-end by a
    query-generic oracle (oracle_vec.ivfpq_topk_batch_sql); batch ==
    per-query ivfpq_topk_indexed is additionally pinned in tests."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    path, books, _ = _ensure_ivfpq_index(spark, sf_dir)
    queries = (
        src.load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    return clustering.ivfpq_topk_batch(
        spark, path, queries, k=10, n_probe=2, refine=4, codebooks=books
    )


# Takedown twin of the IVF-PQ index: a COPY of it with tombstones for
# vec_id % 11 == 3 — the offline half of x3_index_takedown.
@artifact
def _ensure_takedown_index(spark: SparkSession, sf_dir: str) -> tuple[str, list, list]:
    import shutil

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic

    src_path, books, query = _ensure_ivfpq_index(spark, sf_dir)
    path = scratch("ivfpq_takedown_") + "/index"
    shutil.copytree(src_path, path)
    gone = (
        src.load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 11 == 3)
        .select("vec_id")
    )
    ic.write_tombstones(ic.store("ivfpq", path), gone, "vec_id")
    return path, books, query


@register(
    "x3_index_takedown",
    oracle_vec.ivfpq_topk_sql(
        m=4, k_codes=16, iters=2, train_fraction=0.2, n_probe=2, refine=4,
        exclude_pred="vec_id % 11 = 3",
    ),
)
def x3_index_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-3 takedown: search the IVF-PQ index AFTER a tombstone
    write (index_commit.write_tombstones, vec_id % 11 == 3) — removed ids must
    never surface, without rebuilding the index: one committed tombstone
    table, one anti-join ahead of the ADC scan, quantizers frozen. With
    frozen quantizers the result EQUALS an index that never contained
    the ids (pinned in tests); the oracle re-derives the search with the
    same ids excluded from candidacy while training/centroids stay over
    the full corpus. The corpus-side twin is delete_from_merge_table +
    read_commit_changes feeding the same keys (composition pinned in
    tests/test_ext.py). Offline copy + delete in _ensure_takedown_index
    (warmed by bench.py); the timed query is the online search."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    path, books, query = _ensure_takedown_index(spark, sf_dir)
    return clustering.ivfpq_topk_indexed(
        spark, path, query, k=10, n_probe=2, refine=4, codebooks=books
    )


# ===========================================================================
# X-5i: per-document keyword extraction (tf x inverse document frequency)
# ===========================================================================


@register(
    "x5_keyword_scores",
    f"""
    WITH d AS (
      SELECT doc_id, string_split_regex({_NORM.format(c='text')}, '\\s+') AS t
      FROM documents WHERE doc_id < 200
    ),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM d),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM d),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ROUND(CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
                   / CAST(dfq.df AS DOUBLE), 6) AS score
      FROM tf JOIN dfq ON dfq.tok = tf.tok, n
    ),
    ranked AS (
      SELECT doc_id, tok, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, tok ASC) AS rank
      FROM scored
    )
    SELECT doc_id, rank, tok, score FROM ranked WHERE rank <= 5
    """,
)
def x5_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5i: per-document top-5 keywords by tf x (N/df)
    (operators/text.keyword_scores) on a bounded subset — the classic
    keyword-extraction pass of corpus exploration. Rational idf (no
    transcendental) keeps the oracle bit-exact; tf/df are partial-aggregable
    groupBys, ranking windows per document (no global sort)."""
    docs = src.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tx.keyword_scores(docs, top_k=5)


# ===========================================================================
# Context-window chunking (RAG / pre-embedding splitting)
# ===========================================================================


@register(
    "xtra_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents
    ),
    c AS (
      SELECT doc_id, CAST(i / 96 AS BIGINT) AS chunk_ix,
             tk[i+1 : i+128] AS chunk
      FROM t, unnest(range(0, greatest(len(tk), 1), 96)) AS r(i)
    )
    SELECT doc_id, chunk_ix, CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM c
    """,
)
def xtra_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators/text.chunk_documents): 128-token
    chunks, 32-token overlap (step 96) — the pre-embedding / RAG splitting
    pass. Pure sequence+explode+slice plan, no shuffle. The oracle checks
    chunk CONTENT, not just counts: md5 of the space-joined chunk must match
    DuckDB's md5 over the identical list slice."""
    docs = src.load_table(spark, sf_dir, "documents")
    chunks = tx.chunk_documents(docs, chunk_tokens=128, overlap=32)
    return chunks.select(
        "doc_id", "chunk_ix", "n_tokens", F.md5(F.col("chunk_text")).alias("chunk_md5")
    )


@register(
    "x1_chunk_dedup",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents),
    c AS (
      SELECT doc_id, tk[i+1 : i+16] AS chunk
      FROM t, unnest(range(0, greatest(len(tk), 1), 16)) AS r(i))
    SELECT md5(array_to_string(chunk, ' ')) AS chunk_md5,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS first_doc
    FROM c WHERE len(chunk) = 16
    GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY 1
    """,
)
def x1_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: non-overlapping 16-token windows
    (text.chunk_documents with overlap 0) hashed and grouped across the
    corpus; windows appearing in >= 2 distinct docs are the repeated-passage
    report — the sub-document granularity doc-level dedup misses (shared
    boilerplate/quotes inside otherwise-distinct documents). Only
    (chunk_md5, doc_id) pairs shuffle — never text; both aggregates are
    partial-aggregable. Short tail windows are excluded (only full-width
    windows are comparable)."""
    docs = src.load_table(spark, sf_dir, "documents")
    chunks = tx.chunk_documents(docs, chunk_tokens=16, overlap=0)
    return (
        chunks.filter(F.col("n_tokens") == 16)
        .select("doc_id", F.md5(F.col("chunk_text")).alias("chunk_md5"))
        .groupBy("chunk_md5")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_md5")
    )


# ===========================================================================
# X-mix: pre-training data mixing — per-source token budgets, resampling
# factors toward a target mixture, and the context-length histogram
# ===========================================================================


@register(
    "x_mix_weights",
    """
    WITH per AS (
      SELECT source, COUNT(*) AS docs,
             CAST(SUM(CAST(len(string_split_regex(text, '\\s+'))
                           AS DECIMAL(38,6))) AS DOUBLE) AS budget
      FROM documents GROUP BY source)
    SELECT source, docs, budget,
           ROUND(budget / SUM(budget) OVER (), 6) AS actual_share,
           ROUND(1.0 / COUNT(*) OVER (), 6) AS target_share,
           ROUND((1.0 / COUNT(*) OVER ())
                 / (budget / SUM(budget) OVER ()), 6) AS resample_factor
    FROM per ORDER BY source
    """,
)
def x_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing report (operators/sampling.mixing_weights): per-source doc
    count, whitespace-token budget, actual corpus share, uniform target
    share, and the resampling factor upsample_repeats / sample_fraction
    consume to hit the target mix. One partial-aggregable groupBy over the
    corpus; the corpus-total window runs over the k-row per-source aggregate
    (a deliberate k-row single-partition frame, never over data)."""
    docs = src.load_table(spark, sf_dir, "documents")
    return sampling.mixing_weights(
        docs, "source", weight=tx.token_count(F.col("text")).cast("double")
    )


@register(
    "x_mix_length_hist",
    """
    SELECT CAST((len(string_split_regex(text, '\\s+')) // 32) * 32 AS BIGINT)
             AS len_bucket,
           COUNT(*) AS docs,
           CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
             AS tokens
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
)
def x_mix_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length distribution: 32-token histogram of whitespace token
    counts with per-bucket token mass — the curriculum/packing-planning view
    of the corpus. Map-side bucket expression + one partial-aggregable
    groupBy; only (bucket, n, sum) rows shuffle."""
    docs = src.load_table(spark, sf_dir, "documents")
    n_tok = tx.token_count(F.col("text"))
    return (
        docs.select((F.floor(n_tok / F.lit(32)) * 32).cast("long").alias("len_bucket"),
                    n_tok.alias("__n"))
        .groupBy("len_bucket")
        .agg(F.count("*").alias("docs"), F.sum("__n").cast("long").alias("tokens"))
        .orderBy("len_bucket")
    )


@register(
    "x5_rare_tokens",
    """
    WITH t AS (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(text, '\\s+'))) AS tok
      FROM documents),
    d AS (SELECT tok, COUNT(*) AS df FROM t GROUP BY 1)
    SELECT doc_id, COUNT(*) AS n_distinct,
           ROUND(SUM(CASE WHEN d.df <= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS rare_rate
    FROM t JOIN d USING (tok)
    GROUP BY 1 ORDER BY doc_id
    """,
)
def x5_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5i: corpus-relative rare-token rate (operators/text.rare_token_stats)
    — the exact-arithmetic LM-quality proxy: documents dominated by tokens
    the rest of the corpus never uses are junk candidates. Only (doc, token)
    pairs shuffle; the df table joins vocabulary-sized."""
    docs = src.load_table(spark, sf_dir, "documents")
    return tx.rare_token_stats(docs, rare_df=2)


@register(
    "x_mix_rollup",
    """
    SELECT COALESCE(source, '<all>') AS source,
           COALESCE(lang, '<all>') AS lang,
           CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
           COUNT(*) AS docs,
           CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS tokens
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    ORDER BY gid, source, lang
    """,
)
def x_mix_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture composition at every granularity in ONE pass: grouping sets
    over (source, lang) give the per-cell, per-source, per-language, and
    grand-total doc/token budgets that mixing decisions read — one
    partial-aggregable grouping-sets aggregate instead of four scans.
    grouping_id disambiguates rolled-up NULLs from real values."""
    docs = src.load_table(spark, sf_dir, "documents")
    n_tok = tx.token_count(F.col("text"))
    return (
        docs.select("source", "lang", n_tok.alias("__n"))
        .groupingSets(
            [["source", "lang"], ["source"], ["lang"], []], "source", "lang"
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("docs"),
            F.sum("__n").cast("long").alias("tokens"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "gid",
            "docs",
            "tokens",
        )
        .orderBy("gid", "source", "lang")
    )


# ===========================================================================
# X-5k: distributed BPE tokenizer training (text.bpe_train)
# ===========================================================================

def _bpe_oracle_sql(
    n_merges: int,
    encode: bool = False,
    heldout: bool = False,
    eow: str | None = None,
    encode_ids: bool = False,
    byte_fallback: bool = False,
    target_vocab: int | None = None,
    min_pair_count: int | None = None,
    wf0_fixture_group: str | None = None,
    dw_fixture_group: str | None = None,
) -> str:
    """Unrolled merge rounds (the unrolled-Lloyd precedent): each round is
    a pair-count CTE, an argmax CTE (count DESC, pair ASC), and a
    symbol-table rewrite via 3x leftmost non-overlapping replace — the
    exact fixpoint semantics the engine uses (see text.bpe_train).

    ``heldout`` (VERDICT r7 item 1): the encode side appends one
    deterministic held-out word per document ('winnower' || doc_id —
    absent from the training vocabulary BY ID, and containing every pair
    the 3-merge run learns on this corpus: er/in/ow, so ranked
    application is exercised non-trivially; the synthetic corpus shares
    one vocabulary across documents, so corpus-halving produces ZERO
    natural OOV words and would leave the path vacuously green). OOV
    words get the SAME unrolled ranked merges applied to their raw
    symbol string instead of the legacy char-count fallback — the oracle
    twin of text.bpe_apply_merges. ``eow`` appends the end-of-word
    marker symbol in wf0 (and to the OOV encode base), mirroring
    bpe_train(eow=...).

    Stop rules (r10, bpe_train's target_vocab / min_pair_count twins —
    driver-visible scalars, so they unroll as per-round GATES on the
    argmax CTE): ``target_vocab`` gates round r on
    |alphabet| + r <= target (each merge adds one symbol — the a0 CTE
    counts the alphabet from the data, so the oracle derives the same
    data-dependent round budget the engine does); ``min_pair_count``
    gates on the round's best count >= floor AND the previous round
    having fired (EXISTS b{prev} — a BREAK, not a skip: merging can
    create new above-floor pairs later, which the engine's loop never
    sees). A gated-off round's b{r} is empty, its rewrite a no-op, and
    the merges output simply truncates.

    ``wf0_fixture_group`` (r11 — VERDICT r10 item 4): source wf0 from an
    engine-persisted (word, freq) fixture leaf instead of re-splitting
    lower(text) on \\s+ — the GPT-2 pre-tokenizer's lookahead regex has
    no RE2 equivalent, so the SPLIT alone stays engine-side
    (plans/fixtures.ensure_gpt2_pretok_fixture) and symbolization plus
    every merge round is still re-derived here."""
    eow_sql = " || ' {m}'".format(m=eow) if eow else ""

    def _applied(base: str) -> str:
        # ranked merges over an arbitrary padded symbol string — identical
        # nesting to the wf rewrite below
        inner = base
        for r in range(1, n_merges + 1):
            rep = (
                "' ' || COALESCE((SELECT pair FROM b{r}), '') || ' ', "
                "' ' || COALESCE(replace((SELECT pair FROM b{r}), ' ', ''), '') || ' '"
            ).format(r=r)
            for _ in range(3):
                inner = "replace({inner}, {rep})".format(inner=inner, rep=rep)
        return inner

    rounds = []
    if target_vocab is not None:
        # the alphabet size, counted from the data exactly as the engine
        # does — the round budget is target_vocab - a0.c
        rounds.append(
            """
    a0 AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS c FROM (
      SELECT unnest(string_split(sym, ' ')) AS s FROM wf0))"""
        )
    for r in range(1, n_merges + 1):
        p = r - 1
        # COALESCE('') when a round finds NO pair: ' '||''||' ' = '  '
        # never occurs in single-spaced sym, so the round is a no-op —
        # matching the engine's loop break (code review r7: a NULL pair
        # would NULL every sym and silently fall back to char counts)
        rep = (
            "' ' || COALESCE((SELECT pair FROM b{r}), '') || ' ', "
            "' ' || COALESCE(replace((SELECT pair FROM b{r}), ' ', ''), '') || ' '"
        ).format(r=r)
        inner = "' ' || sym || ' '"
        for _ in range(3):
            inner = "replace({inner}, {rep})".format(inner=inner, rep=rep)
        gates = ""
        if target_vocab is not None:
            gates += " AND (SELECT c FROM a0) + {r} <= {t}".format(
                r=r, t=int(target_vocab)
            )
        if min_pair_count is not None:
            gates += " AND cnt >= {m}".format(m=int(min_pair_count))
            if p >= 1:
                gates += " AND EXISTS (SELECT 1 FROM b{p})".format(p=p)
        # AS MATERIALIZED throughout (r10): b{r} is referenced 6+ times per
        # round (3 replace passes x 2 args, the next round's pc, gates) —
        # DuckDB would otherwise INLINE each reference, recursively
        # re-expanding every earlier round and re-opening the corpus
        # parquet exponentially many times (observed: fd exhaustion at a
        # 6-round unroll; the [[duckdb-oracle-materialized-ctes]] lesson)
        rounds.append(
            """
    pc{r} AS MATERIALIZED (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT a.freq, a.arr[g.i] || ' ' || a.arr[g.i + 1] AS pair
        FROM (SELECT string_split(sym, ' ') AS arr, freq FROM wf{p}) a,
             LATERAL (SELECT unnest(generate_series(1, len(a.arr) - 1)) AS i) g
      ) GROUP BY pair
    ),
    b{r} AS MATERIALIZED (SELECT pair, cnt FROM pc{r} WHERE TRUE{gates}
             ORDER BY cnt DESC, pair ASC LIMIT 1),
    wf{r} AS MATERIALIZED (SELECT word, trim({inner}) AS sym, freq FROM wf{p})""".format(
                r=r, p=p, inner=inner, gates=gates
            )
        )
    if encode_ids:
        # full tokenizer output (text.bpe_encode_ids twin): ordered
        # token-id sequences; ids dense by symbol ASC over the trained
        # alphabet; unknown symbols (e.g. digits in the injected held-out
        # word) -> -1, or their <0xNN> byte tokens under byte_fallback
        # (r9 — the alphabet is extended with all 256 byte symbols and
        # out-of-alphabet symbols explode one row per UTF-8 byte)
        enc_text = (
            "lower(text) || ' winnower' || CAST(doc_id AS VARCHAR)"
            if heldout
            else "lower(text)"
        )
        if dw_fixture_group is not None:
            # doc pre-token sequences from the engine-persisted fixture
            # (the gpt2 regex split has no RE2 equivalent; heldout is
            # already appended at fixture-write time) — everything
            # downstream (vocab join, OOV merge replay, symtab ids, byte
            # fallback, ordered assembly) stays re-derived here
            from tesla_competitive_intelligence_etl_pipeline_spark.plans import oracle_vec as _ov2

            dw_cte = """
    dw AS MATERIALIZED (
      SELECT doc_id, wpos, word FROM {src} WHERE {gate}
    ),""".format(src=_ov2._fx(dw_fixture_group, "dw"), gate=_ov2._FX_GATE)
        else:
            dw_cte = """
    dw AS MATERIALIZED (
      SELECT doc_id, wpos, word FROM (
        SELECT doc_id, unnest(arr) AS word,
               unnest(range(1, len(arr) + 1)) AS wpos
        FROM (SELECT doc_id, string_split_regex({et}, '\\s+') AS arr
              FROM documents))
      WHERE word <> ''
    ),""".format(et=enc_text)
        oov_base = (
            "' ' || trim(regexp_replace(dw.word, '(.)', '\\1 ', 'g'))"
            + eow_sql + " || ' '"
        )
        if byte_fallback:
            final = (
                dw_cte
                + """
    ws AS MATERIALIZED (
      SELECT dw.doc_id, dw.wpos, COALESCE(v.sym, trim({applied})) AS sym
      FROM dw LEFT JOIN wf{n} v ON dw.word = v.word
    ),
    symtab AS MATERIALIZED (
      SELECT symbol,
             CAST(ROW_NUMBER() OVER (ORDER BY symbol) - 1 AS BIGINT) AS tok_id
      FROM (
        SELECT DISTINCT symbol FROM (
          SELECT unnest(string_split(sym, ' ')) AS symbol FROM wf{n}
          UNION ALL
          SELECT '<0x' || upper(lpad(to_hex(i), 2, '0')) || '>' AS symbol
          FROM (SELECT unnest(range(0, 256)) AS i)
        )
      )
    ),
    tk AS MATERIALIZED (
      SELECT doc_id, wpos, spos, symbol FROM (
        SELECT doc_id, wpos, unnest(sarr) AS symbol,
               unnest(range(1, len(sarr) + 1)) AS spos
        FROM (SELECT doc_id, wpos, string_split(sym, ' ') AS sarr FROM ws))
    ),
    tkx AS (
      SELECT tk.doc_id, tk.wpos, tk.spos, 0 AS bpos, s.tok_id
      FROM tk JOIN symtab s USING (symbol)
      UNION ALL
      SELECT t3.doc_id, t3.wpos, t3.spos, t3.bpos, s2.tok_id
      FROM (
        SELECT t2.doc_id, t2.wpos, t2.spos, g.i AS bpos,
               '<0x' || substring(hex(encode(t2.symbol)), 2 * g.i - 1, 2)
               || '>' AS bsym
        FROM (
          SELECT tk.* FROM tk LEFT JOIN symtab s USING (symbol)
          WHERE s.symbol IS NULL
        ) t2,
        LATERAL (
          SELECT unnest(range(1, octet_length(encode(t2.symbol)) + 1)) AS i
        ) g
      ) t3
      LEFT JOIN symtab s2 ON s2.symbol = t3.bsym
    )
    SELECT doc_id,
           string_agg(CAST(COALESCE(tok_id, CAST(-1 AS BIGINT)) AS VARCHAR),
                      ' ' ORDER BY wpos, spos, bpos) AS token_str,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tkx
    GROUP BY doc_id"""
            ).format(et=enc_text, n=n_merges, applied=_applied(oov_base))
            return _wf0_cte(eow_sql, wf0_fixture_group) + ",".join(rounds) + ",\n    " + final
        final = (
            dw_cte
            + """
    ws AS (
      SELECT dw.doc_id, dw.wpos, COALESCE(v.sym, trim({applied})) AS sym
      FROM dw LEFT JOIN wf{n} v ON dw.word = v.word
    ),
    symtab AS (
      SELECT symbol,
             CAST(ROW_NUMBER() OVER (ORDER BY symbol) - 1 AS BIGINT) AS tok_id
      FROM (SELECT DISTINCT unnest(string_split(sym, ' ')) AS symbol
            FROM wf{n})
    ),
    tk AS (
      SELECT doc_id, wpos, spos, symbol FROM (
        SELECT doc_id, wpos, unnest(sarr) AS symbol,
               unnest(range(1, len(sarr) + 1)) AS spos
        FROM (SELECT doc_id, wpos, string_split(sym, ' ') AS sarr FROM ws))
    )
    SELECT tk.doc_id,
           string_agg(CAST(COALESCE(s.tok_id, CAST(-1 AS BIGINT)) AS VARCHAR),
                      ' ' ORDER BY tk.wpos, tk.spos) AS token_str,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tk LEFT JOIN symtab s USING (symbol)
    GROUP BY tk.doc_id"""
        ).format(et=enc_text, n=n_merges, applied=_applied(oov_base))
    elif encode:
        if heldout:
            # OOV words: apply the learned ranked merges to the word's own
            # symbol string (text.bpe_apply_merges twin)
            oov_base = (
                "' ' || trim(regexp_replace(dw.word, '(.)', '\\1 ', 'g'))"
                + eow_sql + " || ' '"
            )
            fallback = "len(string_split(trim({a}), ' '))".format(a=_applied(oov_base))
        else:
            fallback = "length(dw.word)" + (" + 1" if eow else "")
        enc_text = (
            "lower(text) || ' winnower' || CAST(doc_id AS VARCHAR)"
            if heldout
            else "lower(text)"
        )
        final = (
            """
    docwords AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split_regex({et}, '\\s+')) AS word
        FROM documents
      ) WHERE word <> ''
    )
    SELECT dw.doc_id,
           CAST(SUM(COALESCE(len(string_split(v.sym, ' ')), {fb})) AS BIGINT) AS bpe_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM docwords dw LEFT JOIN wf{n} v ON dw.word = v.word
    GROUP BY dw.doc_id"""
        ).format(n=n_merges, fb=fallback, et=enc_text)
    else:
        final = "\n    UNION ALL ".join(
            "SELECT {r} AS merge_rank, pair, replace(pair, ' ', '') AS merged, "
            "cnt AS pair_count FROM b{r}".format(r=r)
            for r in range(1, n_merges + 1)
        )
    return (
        _wf0_cte(eow_sql, wf0_fixture_group)
        + ",".join(rounds)
        + ("," if (encode or encode_ids) else "")
        + "\n    "
        + final
    )


def _wf0_cte(eow_sql: str, wf0_fixture_group: str | None) -> str:
    """The training word-frequency CTE: re-split lower(text) on \\s+ in
    SQL (legacy mode), or read the engine-persisted (word, freq) fixture
    when the pre-tokenizer has no RE2 equivalent (gpt2, r11)."""
    if wf0_fixture_group is not None:
        from tesla_competitive_intelligence_etl_pipeline_spark.plans import oracle_vec as _ov

        return """
    WITH wf0 AS MATERIALIZED (
      SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')){eow} AS sym,
             freq
      FROM {src} WHERE {gate}
    ),""".format(
            eow=eow_sql,
            src=_ov._fx(wf0_fixture_group, "wf"),
            gate=_ov._FX_GATE,
        )
    return """
    WITH wf0 AS MATERIALIZED (
      SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')){eow} AS sym,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
            FROM documents)
      WHERE word <> '' AND length(word) <= 64
      GROUP BY 1
    ),""".format(eow=eow_sql)


# trained vocabulary (the tokenizer ingest cost — same offline/online
# discipline as the sig tables and CDC gold tables). x5_bpe_train remains
# the entry that TIMES training; this artifact keeps x5_bpe_encode's timed
# path the encode join only.
@artifact
def _ensure_bpe_vocab(spark: SparkSession, sf_dir: str) -> str:
    """Persist BOTH the vocabulary and the ranked merge list — a real
    tokenizer artifact is (vocab, merges), and OOV encoding needs the
    merges."""
    docs = src.load_table(spark, sf_dir, "documents")
    merges, vocab = tx.bpe_train(docs, n_merges=3, return_vocab=True)
    path = scratch("bpe_vocab_")
    vocab.write.parquet(path + "/vocab")
    merges.write.parquet(path + "/merges")
    return path


@register("x5_bpe_encode", _bpe_oracle_sql(3, encode=True, heldout=True))
def x5_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5l: per-doc token counts under the LEARNED tokenizer — encode
    every document, each extended with one deterministic HELD-OUT word
    ('winnower' || doc_id, guaranteed out-of-vocab and containing every
    learned pair on this corpus); in-vocab words resolve through the
    vocabulary join, OOV words get the learned merges applied in rank
    order (text.bpe_apply_merges — VERDICT r7 item 1; previously a
    char-count fallback that understated compression). Training is the
    offline cost, materialized once per session (_ensure_bpe_vocab,
    warmed by bench.py); x5_bpe_train is the entry that times it. The
    oracle re-derives vocabulary AND merges with the same unrolled
    rounds and applies the identical join + ranked-merge fallback."""
    docs = src.load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" winnower"), F.col("doc_id").cast("string")),
    )
    base = _ensure_bpe_vocab(spark, sf_dir)
    vocab = spark.read.parquet(base + "/vocab")
    merges = spark.read.parquet(base + "/merges")
    return tx.bpe_token_counts(docs, vocab, merges=merges)


def _flat_token_ids(enc: DataFrame) -> DataFrame:
    """Driver-gate shape adapter (r13 — VERDICT r12 item 1): the driver's
    pandas canonicalizer sorts every output column and dies on list cells
    (``TypeError: unhashable type: 'list'`` — the one red row in
    CORRECTNESS_r12). Registry entries therefore expose the ordered
    token-id sequence as a space-joined STRING column — the full
    order-sensitive signal in a flat, hashable shape — while the operator
    (text.bpe_encode_ids) keeps returning the real ``array<long>`` for API
    users. The oracle twin aggregates with string_agg(... ORDER BY ...)
    instead of list(...). tests/test_registry_lint.py pins the invariant
    that NO registry entry returns a complex-typed top-level column."""
    return enc.select(
        "doc_id",
        F.concat_ws(" ", F.col("token_ids").cast("array<string>")).alias(
            "token_str"
        ),
        "n_tokens",
    )


@register(
    "x5_bpe_encode_ids", _bpe_oracle_sql(3, encode_ids=True, heldout=True)
)
def x5_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5n (r8): FULL tokenizer output — per-doc ordered token-ID
    sequences (text.bpe_encode_ids), the form sequence packing and batch
    assembly consume. Same held-out injection as x5_bpe_encode, so the
    ranked-merge OOV path runs AND its digits exercise the unk (-1)
    convention. Hash-checked end-to-end including SEQUENCE ORDER: the
    oracle re-derives the vocabulary, the dense symbol-ASC id table, and
    the per-(word,symbol)-position list assembly."""
    docs = src.load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" winnower"), F.col("doc_id").cast("string")),
    )
    base = _ensure_bpe_vocab(spark, sf_dir)
    vocab = spark.read.parquet(base + "/vocab")
    merges = spark.read.parquet(base + "/merges")
    return _flat_token_ids(tx.bpe_encode_ids(docs, vocab, merges=merges))


@register(
    "x5_bpe_byte_fallback",
    _bpe_oracle_sql(3, encode_ids=True, heldout=True, byte_fallback=True),
)
def x5_bpe_byte_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5o (r9 — VERDICT r8 item 6): token-ID sequences with the
    BYTE-FALLBACK alphabet — symbols outside the trained alphabet (the
    held-out word's digits) encode as their UTF-8 byte tokens <0xNN>
    from the 256-entry extended table instead of unk(-1), so nothing is
    unrepresentable (the SentencePiece convention; lossless round-trip
    incl. multi-byte characters pinned in tests/test_corpus.py). The
    oracle re-derives the extended dense id table and the per-byte
    expansion of out-of-alphabet symbols. Default-off twin
    x5_bpe_encode_ids keeps the unk pins byte-identical."""
    docs = src.load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" winnower"), F.col("doc_id").cast("string")),
    )
    base = _ensure_bpe_vocab(spark, sf_dir)
    vocab = spark.read.parquet(base + "/vocab")
    merges = spark.read.parquet(base + "/merges")
    return _flat_token_ids(
        tx.bpe_encode_ids(docs, vocab, merges=merges, byte_fallback=True)
    )


@register("x5_bpe_train", _bpe_oracle_sql(3))
def x5_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5k: BPE tokenizer training over the documents corpus — the first
    3 learned merges with their weighted pair counts, hash-checked against
    the unrolled-rounds DuckDB oracle. One corpus-scale groupBy(word);
    every merge round runs on the vocab-sized symbol table (see
    text.bpe_train's 100 TB cost model)."""
    docs = src.load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, n_merges=3)


@register("x5_bpe_train_local", _bpe_oracle_sql(3))
def x5_bpe_train_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5k (r12 — VERDICT r11 item 2): the VOCAB-SCALE training path —
    the corpus-scale word-frequency aggregation stays distributed (the
    same one groupBy as x5_bpe_train), the merge loop runs driver-locally
    over the collected dictionary with incremental pair-count bookkeeping
    (text._bpe_train_local), eliminating the one-Spark-job-per-merge
    ceiling that made a production 32-64k-merge vocabulary wall-clock
    infeasible. Hash-checked against the SAME unrolled-rounds oracle as
    the distributed twin — the merge lists are bit-identical by
    construction (equivalence additionally pinned at depth in
    tests/test_corpus.py, incl. a 500-merge run)."""
    docs = src.load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, n_merges=3, strategy="local")


@register("x5_bpe_min_count", _bpe_oracle_sql(6, min_pair_count=2000))
def x5_bpe_min_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5k2 (r10): BPE training with the HF-trainer min_frequency floor —
    training STOPS before learning a merge whose best pair occurs under
    2000 times (on this corpus: the floor bites at round 6 at both gate
    SFs, so exactly 5 merges are learned from a 6-round budget; sub-floor
    merges memorize noise). Hash-checked against the unrolled oracle
    whose argmax CTEs carry the cnt >= floor gate plus the EXISTS
    cascade that makes it a BREAK, not a skip (text.bpe_train
    min_pair_count)."""
    docs = src.load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, n_merges=6, min_pair_count=2000)


@register("x5_bpe_target_vocab", _bpe_oracle_sql(5, target_vocab=28))
def x5_bpe_target_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5k3 (r10): BPE training to a TARGET VOCABULARY SIZE — the way
    real tokenizers are specified (|vocab| = 28 here): each merge adds
    exactly one symbol, so the engine derives the round budget as
    target - |alphabet| (24 on this corpus at both gate SFs -> 4 merges)
    from one vocab-sized distinct count; n_merges is ignored. The oracle
    unrolls MORE rounds (5) than the budget and derives the same
    data-dependent cutoff via its a0 alphabet-count CTE — proving the
    gate truncates, not the unroll depth (text.bpe_train
    target_vocab)."""
    docs = src.load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, target_vocab=28)


@register("x5_bpe_train_eow", _bpe_oracle_sql(3, eow="</w>"))
def x5_bpe_train_eow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5m: BPE training with the standard Sennrich end-of-word marker
    (VERDICT r7 item 2) — every word's symbol string ends in the atomic
    '</w>' symbol, so merges that absorb a word's final character are
    distinct from word-internal merges and decoding can recover word
    boundaries. Hash-checked by the same unrolled-rounds oracle with the
    marker appended in wf0; the default (markerless) twin keeps the
    existing pins byte-identical."""
    docs = src.load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, n_merges=3, eow="</w>")


@register(
    "x5_bpe_gpt2_pretok",
    _bpe_oracle_sql(4, wf0_fixture_group="gpt2pretok"),
)
def x5_bpe_gpt2_pretok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5n (r11 — VERDICT r10 item 4): BPE training behind the GPT-2
    regex PRE-TOKENIZER (operators/text.pretokenize_pieces 'gpt2') —
    contractions split off, letter/number/punctuation runs, the
    leading-space convention (space -> Ġ, GPT-2's printable surrogate),
    case PRESERVED — instead of the legacy lowercased \\s+ split. This is
    how production tokenizers (GPT-2, RoBERTa, and descendants) actually
    segment text before merging. Hash-checked: the lookahead regex has no
    RE2 equivalent, so the engine persists its (word, freq) pre-token
    table as a fixture (plans/fixtures.ensure_gpt2_pretok_fixture) and
    the oracle re-derives symbolization + all four unrolled merge rounds
    from it — only the split stays engine-side. The exact
    (case-preserving) encode/decode round trip via gpt2_detokenize is
    pinned in tests/test_ext.py."""
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

    fixtures.ensure_gpt2_pretok_fixture(spark, sf_dir)
    docs = src.load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, n_merges=4, pretokenize="gpt2")


# gpt2-pretokenized tokenizer artifact (the _ensure_bpe_vocab discipline):
# x5_bpe_gpt2_pretok times the training; the encode entry's timed path is
# the encode join only
@artifact
def _ensure_gpt2_vocab(spark: SparkSession, sf_dir: str) -> str:
    docs = src.load_table(spark, sf_dir, "documents")
    merges, vocab = tx.bpe_train(
        docs, n_merges=4, pretokenize="gpt2", return_vocab=True
    )
    path = scratch("bpe_gpt2_")
    tx.bpe_save(path, merges, vocab, byte_fallback=True,
                pretokenize="gpt2")
    return path


@register(
    "x5_bpe_gpt2_encode",
    _bpe_oracle_sql(4, encode_ids=True, byte_fallback=True,
                    wf0_fixture_group="gpt2pretok",
                    dw_fixture_group="gpt2pretok"),
)
def x5_bpe_gpt2_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5o (r11): the PRODUCTION encode path — per-doc token-id sequences
    under the gpt2-pretokenized tokenizer with byte fallback, loaded from
    a bpe_save artifact (persistence in the timed path, the real
    deployment shape). Each doc carries the heldout ' winnower<doc_id>'
    suffix: 'Ġwinnower' is guaranteed-OOV (exercises the ranked-merge
    replay) and its digit run exercises byte fallback wherever digits are
    out-of-alphabet. Hash-checked end-to-end: the oracle re-derives the
    four training rounds from the engine's (word, freq) pre-token fixture
    AND the encode join / OOV replay / dense symbol ids / byte explosion /
    ordered assembly from the per-doc (doc_id, wpos, word) fixture — only
    the gpt2 regex split itself (no RE2 lookahead) stays engine-side."""
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

    fixtures.ensure_gpt2_pretok_fixture(spark, sf_dir)
    path = _ensure_gpt2_vocab(spark, sf_dir)
    merges, vocab, cfg = tx.bpe_load(spark, path)
    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" winnower"),
                 F.col("doc_id").cast("string")).alias("text"),
    )
    return _flat_token_ids(
        tx.bpe_encode_ids(
            docs, vocab, merges=merges, pretokenize=cfg["pretokenize"],
            byte_fallback=bool(cfg["byte_fallback"]),
            # r14: the gpt2 vocabulary explodes words into many symbols, so
            # per-distinct-word id assembly wins here (0.84-0.85x in
            # interleaved A/B at BOTH sf0.1 and sf1; bit-identical output —
            # OPTIMIZATION_r14.md). The high-merge entries keep the default:
            # their words collapse to few symbols and the same rewrite
            # measured 1.18x there.
            assemble_per_word=True,
        )
    )


def _bpe_hm_oracle_sql(
    pack_bins: int | None = None, chunk_bins: int | None = None
) -> str:
    """High-merge encode oracle (r13 — VERDICT r12 item 6): vocabulary and
    96-round merge list come from the engine-persisted bpehm fixture
    (training is separately oracle-checked at low merge counts); this SQL
    re-derives EVERYTHING the deployment-regime encode does — the
    vocabulary join, the per-distinct-OOV-word ranked-merge replay (a
    recursive CTE applying rank r's pair at step r, three leftmost
    non-overlapping replace passes per rank: exact, since the corpus' max
    word length of 8 symbols sits far under the 64-symbol 3-pass fixpoint
    bound the engine's Arrow UDF shares), the dense symbol-ASC id table,
    the unk(-1) convention, and the ordered per-doc assembly.

    ``pack_bins`` (the x5_tokenize_pack composite): instead of the encode
    output, emit per-BIN packing stats — per-doc REAL-tokenizer token
    counts fed through concat-then-chunk sequence packing (naive window
    prefix sum here; the engine runs the two-pass distributed rewrite and
    must agree exactly).

    ``chunk_bins`` (the x5_pack_chunk_streams composite): the per-bin
    TOKEN STREAMS themselves — every token's global position is its doc's
    cumulative start plus its in-doc index, its bin floor(gpos/B), and the
    bin's stream is the position-ordered id string: the literal training
    sequence a GPT-style loader would feed, re-derived naively."""
    from tesla_competitive_intelligence_etl_pipeline_spark.plans.oracle_vec import _fx, _FX_GATE

    rep = (
        "' ' || m.pair || ' ', ' ' || m.merged || ' '"
    )
    inner = "rec.s"
    for _ in range(3):
        inner = "replace({inner}, {rep})".format(inner=inner, rep=rep)
    if pack_bins is None and chunk_bins is None:
        final = """
    SELECT tk.doc_id,
           string_agg(CAST(COALESCE(s.tok_id, CAST(-1 AS BIGINT)) AS VARCHAR),
                      ' ' ORDER BY tk.wpos, tk.spos) AS token_str,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tk LEFT JOIN symtab s USING (symbol)
    GROUP BY tk.doc_id"""
    elif chunk_bins is not None:
        final = f""",
    nd AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS toks FROM tk GROUP BY doc_id
    ),
    o AS (
      SELECT *, SUM(toks) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM nd
    ),
    g AS (
      SELECT o.cum - o.toks
               + row_number() OVER (PARTITION BY tk.doc_id
                                    ORDER BY tk.wpos, tk.spos) - 1 AS gpos,
             COALESCE(s.tok_id, CAST(-1 AS BIGINT)) AS tok
      FROM tk JOIN o USING (doc_id) LEFT JOIN symtab s USING (symbol)
    )
    SELECT CAST(FLOOR(gpos / {int(chunk_bins)}.0) AS BIGINT) AS bin_id,
           string_agg(CAST(tok AS VARCHAR), ' ' ORDER BY gpos) AS token_str,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM g GROUP BY 1"""
    else:
        final = f""",
    nd AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS toks FROM tk GROUP BY doc_id
    ),
    o AS (
      SELECT *, SUM(toks) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM nd
    )
    SELECT CAST(FLOOR((cum - toks) / {int(pack_bins)}.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens
    FROM o GROUP BY 1"""
    return f"""
    WITH RECURSIVE
    v AS MATERIALIZED (
      SELECT word, sym FROM {_fx('bpehm', 'vocab')} WHERE {_FX_GATE}),
    mg AS MATERIALIZED (
      SELECT merge_rank, pair, merged FROM {_fx('bpehm', 'merges')}
      WHERE {_FX_GATE}),
    dw AS MATERIALIZED (
      SELECT doc_id, wpos, word FROM (
        SELECT doc_id, unnest(arr) AS word,
               unnest(range(1, len(arr) + 1)) AS wpos
        FROM (SELECT doc_id,
                     string_split_regex(
                       lower(text) || ' winnower' || CAST(doc_id AS VARCHAR),
                       '\\s+') AS arr
              FROM documents))
      WHERE word <> ''
    ),
    oovw AS MATERIALIZED (
      SELECT DISTINCT dw.word FROM dw LEFT JOIN v USING (word)
      WHERE v.word IS NULL
    ),
    rec AS (
      SELECT word,
             ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS s,
             0 AS r
      FROM oovw
      UNION ALL
      SELECT rec.word, {inner} AS s, rec.r + 1 AS r
      FROM rec JOIN mg m ON m.merge_rank = rec.r + 1
    ),
    oov AS MATERIALIZED (
      SELECT word, trim(s) AS sym FROM rec
      WHERE r = (SELECT COALESCE(MAX(merge_rank), 0) FROM mg)
    ),
    lu AS MATERIALIZED (
      SELECT word, sym FROM v UNION ALL SELECT word, sym FROM oov
    ),
    ws AS MATERIALIZED (
      SELECT dw.doc_id, dw.wpos, lu.sym FROM dw JOIN lu USING (word)
    ),
    symtab AS MATERIALIZED (
      SELECT symbol,
             CAST(ROW_NUMBER() OVER (ORDER BY symbol) - 1 AS BIGINT) AS tok_id
      FROM (SELECT DISTINCT unnest(string_split(sym, ' ')) AS symbol FROM v)
    ),
    tk AS (
      SELECT doc_id, wpos, spos, symbol FROM (
        SELECT doc_id, wpos, unnest(sarr) AS symbol,
               unnest(range(1, len(sarr) + 1)) AS spos
        FROM (SELECT doc_id, wpos, string_split(sym, ' ') AS sarr FROM ws))
    ){final}"""


# high-merge tokenizer artifact, trained via the vocab-scale local strategy
# and persisted with bpe_save (the deployment shape); the encode entry's
# timed path is load + encode only
@artifact
def _ensure_hm_vocab(spark: SparkSession, sf_dir: str) -> str:
    docs = src.load_table(spark, sf_dir, "documents")
    merges, vocab = tx.bpe_train(
        docs, n_merges=96, return_vocab=True, strategy="local"
    )
    path = scratch("bpe_hm_")
    tx.bpe_save(path, merges, vocab)
    return path


@register("x5_bpe_encode_highmerge", _bpe_hm_oracle_sql())
def x5_bpe_encode_highmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5p (r13 — VERDICT r12 item 6): the DEPLOYMENT-REGIME encode —
    96 requested merges (the synthetic corpus' shared vocabulary exhausts
    mergeable pairs at 89 — measured identical at sf0.001/0.01/0.1, still
    comfortably past BPE_EXPR_MAX_MERGES=64), so OOV words go
    through the Arrow-batched UDF applied once per DISTINCT OOV word
    (distinct -> anti-join -> union lookup -> one word-keyed occurrence
    join; operators/text.py bpe_encode_ids' UDF branch), the path a
    production 32-64k-merge vocabulary runs — previously tested
    (tests/test_corpus.py) but never driver-hash-checked. Training uses
    the vocab-scale local strategy (bit-identical merge lists to the
    distributed trainer) and is the amortized offline cost
    (_ensure_hm_vocab, warmed by bench.py); the timed path is artifact
    load + encode. Same heldout ' winnower<doc_id>' injection as the
    other encode gates, so the high-merge ranked replay runs non-trivially
    on every document. The oracle re-derives the encode end-to-end from
    the persisted (word,sym)/(rank,pair,merged) fixture via a recursive
    CTE replaying all 96 ranks."""
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

    fixtures.ensure_bpehm_fixture(spark, sf_dir)
    path = _ensure_hm_vocab(spark, sf_dir)
    merges, vocab, cfg = tx.bpe_load(spark, path)
    docs = src.load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" winnower"), F.col("doc_id").cast("string")),
    )
    return _flat_token_ids(tx.bpe_encode_ids(docs, vocab, merges=merges))


@register("x5_tokenize_pack", _bpe_hm_oracle_sql(pack_bins=4096))
def x5_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5q (r13): the training-data pipeline's tail COMPOSED end-to-end —
    REAL-tokenizer token counts (the deployment-regime high-merge encode,
    not the whitespace proxy xtra_sequence_packing bins on) feeding
    GPT-style concat-then-chunk sequence packing (operators/packing.py's
    two-pass distributed prefix sum — no single-partition exchange), per
    4096-token training bin. This is the shape a 100 TB pre-training
    ingest actually runs: tokenize once with the learned vocabulary,
    lay documents into fixed-token bins, hand bins to the chunker. The
    oracle re-derives the tokenizer from the bpehm fixture (vocabulary
    join + recursive-CTE merge replay, same as x5_bpe_encode_highmerge)
    and packs with the naive single-node window — both sides must agree
    on every bin's doc count and token mass exactly."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import packing
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

    fixtures.ensure_bpehm_fixture(spark, sf_dir)
    path = _ensure_hm_vocab(spark, sf_dir)
    merges, vocab, cfg = tx.bpe_load(spark, path)
    docs = src.load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" winnower"), F.col("doc_id").cast("string")),
    )
    toks = tx.bpe_encode_ids(docs, vocab, merges=merges).select(
        "doc_id", F.col("n_tokens").alias("toks")
    )
    packed = packing.pack_sequences(
        toks, token_col="toks", order_cols=["doc_id"], bin_tokens=4096
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").cast("long").alias("total_tokens"),
    )


@register("x5_pack_chunk_streams", _bpe_hm_oracle_sql(chunk_bins=4096))
def x5_pack_chunk_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-5r (r13): the LITERAL training batches — x5_tokenize_pack's bin
    assignment carried all the way down to the per-bin TOKEN STREAMS a
    GPT-style loader would read. Real high-merge tokenizer encode, every
    token's global position = its document's cumulative start (two-pass
    distributed prefix sum) + its in-document index, bin =
    floor(gpos/4096), and the bin's stream assembled position-ordered —
    all JVM-side (posexplode + join + array_sort(collect_list(struct)));
    the hash check covers every token id at every position of every bin.
    The encode output feeds BOTH the per-doc-count cumsum and the
    per-token explode, so it is persisted once (the global_cumsum lesson:
    un-cached fan-out re-runs the tokenizer per branch). Oracle:
    recursive-CTE merge replay + naive window positions."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import packing
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures

    fixtures.ensure_bpehm_fixture(spark, sf_dir)
    path = _ensure_hm_vocab(spark, sf_dir)
    merges, vocab, cfg = tx.bpe_load(spark, path)
    docs = src.load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" winnower"), F.col("doc_id").cast("string")),
    )
    enc = tx.bpe_encode_ids(docs, vocab, merges=merges).select(
        "doc_id", "token_ids", "n_tokens"
    ).persist()
    cum = packing.global_cumsum(
        enc.select("doc_id", F.col("n_tokens").alias("toks")),
        ["doc_id"], "toks", out_col="cum",
    )
    pos = enc.select("doc_id", F.posexplode("token_ids").alias("pos", "tok"))
    g = pos.join(cum, "doc_id").select(
        (F.col("cum") - F.col("toks") + F.col("pos")).alias("gpos"), "tok"
    )
    binned = g.withColumn(
        "bin_id", F.floor(F.col("gpos") / F.lit(4096)).cast("long")
    )
    return binned.groupBy("bin_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("gpos", "tok"))),
                lambda x: x["tok"].cast("string"),
            ),
        ).alias("token_str"),
        F.count("*").cast("long").alias("n_tokens"),
    )
