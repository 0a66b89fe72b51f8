#!/usr/bin/env python
"""RECURRING sf0.1 -> sf1 scale point (the one-shot sf1 probe, promoted to
a per-round job): time the FROZEN
headline 16 plus the big iterative entries at both scale points (sf1 cached
at .localdata/sf1 by scripts/make_sf1.py — 10x volume, 10x distinct keys)
and report the per-query scaling exponent  e = log10(t_sf1 / t_sf0.1)
(1 = linear, < 1 = sublinear fixed-cost amortization, > 1 = superlinear —
needs a named cause in SCALING.md).

Exponent DRIFT is the signal: pass --baseline <json> (a prior round's
--json output) and any |Δe| > 0.1 is flagged — the earliest scale
regression this rig can surface, per the protocol in SCALING.md. Run on an
otherwise-idle box (the bench-box loadavg<2 rule applies); one warm-up pass
per query per SF, then the timed value is the MEDIAN of 3 passes (r11: the
single-pass r10 protocol put a 5x spread on the iterative entries — their
internal persist()s make pass cost cache-state-dependent, and a 21-query
session heats; the warm-up's persisted intermediates stay live across the
3 passes, the same warm protocol r10 measured, just sampled robustly);
caches cleared between (query, SF) points.

Usage:
  python scripts/scaling_sf1.py [--json out.json] [--baseline prev.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tesla_competitive_intelligence_etl_pipeline_spark.session import get_spark  # noqa: E402
from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry  # noqa: E402
from bench import HEADLINE  # noqa: E402

EXTRA = [  # the big iterative / quadratic-risk entries beyond the headline
    "x3_kmeans_df_clusters",
    "x3_kmeans_clusters",
    "x2_cluster_dedup",
    "x2_near_dedup_canonical",
    "tpch_suite",
    # r12 (VERDICT r11 item 8): the r11/r12 surfaces join the battery
    "x5_bpe_gpt2_pretok",     # gpt2-pretokenized BPE training
    "xtra_scd2_commit_ts",    # wall-clock SCD2 (sub-second: noisy exp)
    "x_takedown_registry",    # registry-driven one-call erasure
    # r13 (VERDICT r12 item 6): the r13 surfaces join the battery
    "x5_bpe_encode_highmerge",  # deployment-regime (Arrow-UDF) encode
    "x_store_autoregister",     # builder-registered erasure + relocation
    "x3_ivfpq_batch",           # index-backed batch ANN (now in-window)
    "x1_cdc_incremental_dedup",  # CDC-composed crawl dedup (in-window)
]

SF01 = "/root/testdata/sf0.1"
SF1 = str(Path(__file__).resolve().parent.parent / ".localdata" / "sf1")


def run(spark, fn, sf):
    t0 = time.monotonic()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


# --- r12 custom jobs (VERDICT r11 items 2 + 8): not registry DataFrame
# entries, timed under the same warm median-of-3 protocol ------------------

_VERIFY_STORES: dict[str, tuple] = {}


def _ensure_verify_stores(spark, sf):
    """A populated MULTI-STORE corpus per SF: merge-table corpus over the
    documents table, an IVF index over the embeddings, an LSH signature
    table — all recorded in the corpus' persisted store registry — plus a
    doomed key set. Build cost is offline (cached per SF); the timed call
    is takedown_verify alone, the GDPR-deadline zero-residual audit."""
    if sf not in _VERIFY_STORES:
        import tempfile

        from pyspark.sql import functions as F

        from tesla_competitive_intelligence_etl_pipeline_spark.operators import (
            dedup as dd,
            similarity as sim,
            takedown as td,
        )
        from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

        root = tempfile.mkdtemp(prefix="scaling_verify_")
        docs = src.load_table(spark, sf, "documents").select("doc_id", "text")
        emb = src.load_table(spark, sf, "embeddings").select(
            F.col("vec_id").alias("doc_id"), "embedding", "label")
        corpus = root + "/corpus"
        strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])
        sim.build_ivf_index(emb, root + "/ivf")
        dd.write_signature_table(docs, root + "/sig")
        td.register_store(corpus, root + "/ivf", "ivf")
        td.register_store(corpus, root + "/sig", "signature")
        doomed = docs.filter(F.col("doc_id") % 97 == 3).select("doc_id")
        doomed.persist().count()
        _VERIFY_STORES[sf] = (corpus, doomed)
    return _VERIFY_STORES[sf]


def _job_takedown_verify(spark, sf):
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td

    corpus, doomed = _ensure_verify_stores(spark, sf)
    td.takedown_verify(spark, corpus, doomed, id_col="doc_id")
    return None


def _job_bpe_distributed_8r(spark, sf):
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf, "documents")
    # the merge loop runs eagerly inside bpe_train (one Spark job/round);
    # the returned df is driver-local — count() is the learned-merge tally
    return tx.bpe_train(docs, n_merges=8).count()


def _job_bpe_local_500r(spark, sf):
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf, "documents")
    # 500-round budget; the natural corpus may exhaust its pair space
    # first — rounds/sec reports the rounds actually learned
    return tx.bpe_train(docs, n_merges=500, strategy="local").count()


# custom jobs: (name, callable returning learned-merge count or None).
# The bpe pair quantifies VERDICT r11 item 2 — the per-merge-Spark-job
# ceiling vs the collected-dictionary local loop — as rounds/sec.
CUSTOM = [
    ("takedown_verify_multistore", _job_takedown_verify),
    ("bpe_train_distributed_8r", _job_bpe_distributed_8r),
    ("bpe_train_local_500r", _job_bpe_local_500r),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", default=None, help="write machine-readable results here")
    ap.add_argument("--baseline", default=None,
                    help="prior round's --json output; |d(exponent)| > 0.1 flagged")
    args = ap.parse_args()

    if not os.path.isdir(SF1):
        sys.exit(f"sf1 cache missing at {SF1} — run scripts/make_sf1.py first")
    print(f"loadavg at start: {os.getloadavg()[0]:.2f}")
    spark = get_spark("scaling_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_registry()
    names = [n for n in HEADLINE + EXTRA if n in reg]
    rows = []
    for name in names:
        fn = reg[name][0]
        t = {}
        for sf in (SF01, SF1):
            run(spark, fn, sf)  # warm-up (compile + source/persist caches)
            t[sf] = sorted(run(spark, fn, sf) for _ in range(3))[1]
            spark.catalog.clearCache()
        e = math.log10(t[SF1] / t[SF01])
        rows.append((name, t[SF01], t[SF1], e))
        print(f"{name:32s} sf0.1 {t[SF01]:7.2f}s  sf1 {t[SF1]:7.2f}s  exp {e:5.2f}",
              flush=True)

    # r12 custom jobs: same warm median-of-3 protocol; bpe jobs also
    # report rounds/sec (the VERDICT r11 item 2 quantification)
    for name, job in CUSTOM:
        t, learned = {}, {}
        for sf in (SF01, SF1):
            learned[sf] = job(spark, sf)  # warm-up (builds cached stores)
            samples = []
            for _ in range(3):
                t0 = time.monotonic()
                job(spark, sf)
                samples.append(time.monotonic() - t0)
            t[sf] = sorted(samples)[1]
            spark.catalog.clearCache()
        e = math.log10(t[SF1] / t[SF01])
        rows.append((name, t[SF01], t[SF1], e))
        extra = ""
        if learned[SF01] is not None:
            extra = (f"  rounds/sec sf0.1 {learned[SF01] / t[SF01]:7.1f}"
                     f" ({learned[SF01]}r)  sf1 "
                     f"{learned[SF1] / t[SF1]:7.1f} ({learned[SF1]}r)")
        print(f"{name:32s} sf0.1 {t[SF01]:7.2f}s  sf1 {t[SF1]:7.2f}s  "
              f"exp {e:5.2f}{extra}", flush=True)

    print("\n| query | sf0.1 s | sf1 s | exponent |")
    print("| --- | --- | --- | --- |")
    for name, a, b, e in rows:
        print(f"| {name} | {a:.2f} | {b:.2f} | {e:.2f} |")

    base = None
    if args.baseline and os.path.exists(args.baseline):
        base = {r["query"]: r["exponent"]
                for r in json.load(open(args.baseline))["rows"]}
        print("\nExponent drift vs baseline (|d| > 0.1 flagged):")
        for name, _, _, e in rows:
            if name in base:
                d = e - base[name]
                flag = "  <-- DRIFT" if abs(d) > 0.1 else ""
                print(f"  {name:32s} {base[name]:5.2f} -> {e:5.2f}  d={d:+.2f}{flag}")

    if args.json:
        Path(args.json).write_text(json.dumps({
            "loadavg_start": round(os.getloadavg()[0], 2),
            "rows": [
                {"query": n, "t_sf01": round(a, 3), "t_sf1": round(b, 3),
                 "exponent": round(e, 3)}
                for n, a, b, e in rows
            ],
        }, indent=1) + "\n")


if __name__ == "__main__":
    main()
