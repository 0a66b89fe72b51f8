#!/usr/bin/env python
"""Round-14 phase breakdown probes (guide §1 — empirical loop, noop sink).

  suites  — tpch_suite / xtra_suite: plan-compile time (analysis +
            optimization + physical planning, measured as the first
            executedPlan materialization) vs execution time, plus the sum
            of the suite's branches run individually — locates whether the
            composite's cost is compile, execution, or re-derived work
            (VERDICT r13 item 4).
  stream  — x9_stream_tumbling: the streaming replay vs its BATCH twin
            (same aggregate over a plain read), plus the engine's own
            per-micro-batch durationMs breakdown (addBatch vs walCommit /
            stateOperators commit vs queryPlanning) from recentProgress —
            the commit/state-store floor claim as numbers, not assertion
            (VERDICT r13 item 8).
  evt     — evt_session_windows: plan-compile vs execution (it is a batch
            entry; if compile is nontrivial, that is plan-shape work).

Usage: python scripts/r14_breakdown.py [suites|stream|evt ...] (default all)
Diagnostic only — not part of the bench contract.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.1"


def noop(spark, label, df):
    spark.sparkContext.setJobDescription(f"r14-breakdown {label}")
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.perf_counter() - t0, 3)
    print(f"  {label}: {dt}s", file=sys.stderr)
    return dt


def compile_time(df) -> float:
    """Time to materialize the executed (physical) plan — analysis +
    optimization + planning, no job."""
    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    return round(time.perf_counter() - t0, 3)


_TPCH_BRANCHES = [
    "q4_order_priority", "q5_region_volume", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q10_returned_items",
    "q12_shipmode_priority", "q13_customer_distribution", "q14_promo_ratio",
    "q15_top_supplier", "q17_small_quantity_revenue",
    "q19_disjunctive_revenue", "q22_dormant_accounts",
]
_XTRA_BRANCHES = [
    "xtra_asof_join", "xtra_range_join", "xtra_salted_join",
    "xtra_clustered_write", "xtra_sequence_packing", "xtra_pii_scan",
    "xtra_decontaminate", "xtra_incremental_rollup", "xtra_bpe_pairs",
    "xtra_chunk_documents", "x2_cross_corpus", "x_mix_weights",
    "x_mix_length_hist", "evt_retention_cohorts", "x1_chunk_dedup",
]


def probe_suites(spark):
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry

    reg = load_registry()
    out = {}
    for suite, branches in (
        ("tpch_suite", _TPCH_BRANCHES),
        ("xtra_suite", _XTRA_BRANCHES),
    ):
        df = reg[suite][0](spark, SF)
        out[f"{suite}_compile"] = compile_time(df)
        out[f"{suite}_exec_after_compile"] = noop(spark, f"{suite} exec", df)
        spark.catalog.clearCache()
        # warm second full pass (compile cached expressions gone, fresh build)
        df2 = reg[suite][0](spark, SF)
        out[f"{suite}_full_warm"] = noop(spark, f"{suite} full warm", df2)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        for b in branches:
            noop(spark, f"{suite} branch {b}", reg[b][0](spark, SF))
        out[f"{suite}_branch_sum"] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
    return out


def probe_stream(spark):
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    out = {}
    # batch twin: the same tumbling aggregate over a plain parquet read
    ev = src.load_events(spark, SF)
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("value_sum"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt", "value_sum")
    )
    out["batch_twin"] = noop(spark, "tumbling batch twin", batch)
    spark.catalog.clearCache()

    # streaming replay with the engine's own per-batch phase breakdown
    t0 = time.perf_counter()
    q, name = strm.start_to_table(
        spark, strm.tumbling_counts(strm.stream_events(spark, SF))
    )
    strm.await_drained(q)
    out["stream_replay"] = round(time.perf_counter() - t0, 3)
    prog = [json.loads(p.json) for p in q.recentProgress]
    out["n_micro_batches"] = len(prog)
    keys = ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
            "getBatch", "latestOffset", "triggerExecution")
    out["durationMs_sum"] = {
        k: sum(p.get("durationMs", {}).get(k, 0) for p in prog) for k in keys
    }
    out["state_commit_ms"] = sum(
        s.get("commitTimeMs", 0)
        for p in prog
        for s in p.get("stateOperators", [])
    )
    return out


def probe_evt(spark):
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry

    reg = load_registry()
    out = {}
    df = reg["evt_session_windows"][0](spark, SF)
    out["compile"] = compile_time(df)
    out["exec_after_compile"] = noop(spark, "evt_session_windows exec", df)
    spark.catalog.clearCache()
    df2 = reg["evt_session_windows"][0](spark, SF)
    out["full_warm"] = noop(spark, "evt_session_windows full warm", df2)
    return out


def main() -> None:
    import os

    from tesla_competitive_intelligence_etl_pipeline_spark.session import get_spark

    which = sys.argv[1:] or ["suites", "stream", "evt"]
    spark = get_spark("r14-breakdown")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"loadavg": round(os.getloadavg()[0], 2)}
    # warm the codegen/Arrow paths once so pass-0 JIT is not billed to a probe
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry

    reg = load_registry()
    reg["agg_global_count"][0](spark, SF).collect()
    spark.catalog.clearCache()
    if "suites" in which:
        out["suites"] = probe_suites(spark)
    if "stream" in which:
        out["stream"] = probe_stream(spark)
    if "evt" in which:
        out["evt"] = probe_evt(spark)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
