"""The benchmark's workloads: what one pass does, and how its output is checked.

``analytics`` runs the relational registry entries. ``corpus`` runs the
LLM-data registry entries next to a commit, reads and maintenance on the
merge table. The seed shuffles the operation order of every pass and picks
the merge table's batch.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

ANALYTICS = [
    "flagship_customer_revenue", "q1_pricing_summary", "q3_shipping_priority",
    "q18_large_orders", "join_actual_vs_estimate", "topk_per_group",
    "dedup_last_write_wins", "x7_cube", "x8_window_frame", "evt_session_windows",
    "pipeline_actual_vs_estimate", "tpch_suite",
]
CORPUS_READS = [
    "x1_dedup_exact", "x2_minhash_lsh", "x3_cosine_topk",
    "x5_quality_score", "x10_pandas_udf_tokens",
]

# rows of the events table the merge table draws from (ids 0..N-1)
N_EVENTS = 10000
# the set-up state holds the first BASE_EVENTS rows; a pass merges a batch
BASE_EVENTS = 4000
MERGE_BATCH_ROWS = 1500


def registry() -> dict:
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry

    return load_registry()


@dataclass
class Op:
    """One timed call. ``fn`` either does its work or returns a DataFrame
    the harness executes. ``kind`` is query, commit, read or maintain;
    ``layer`` names the per-layer latency metric it adds to; ``store`` is
    the directory a store operation writes, if any."""

    name: str
    kind: str
    layer: str
    fn: Callable
    store: str | None = None


def _registry_op(spark, data_dir: str, name: str) -> Op:
    fn = registry()[name][0]
    return Op(name, "query", "plans.registry_ms", lambda: fn(spark, data_dir))


def _digest_problems(name: str, result, digests: dict) -> list[str]:
    from perfbench.oracle import digest

    cols, rows = result
    want = digests["entries"][name]
    if digest(cols, rows) != want["digest"]:
        return [f"{name}: result differs from the oracle digest "
                f"({len(rows)} rows, oracle {want['rows']})"]
    return []


class Analytics:
    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark, self.data_dir = spark, data_dir
        self.rng = random.Random(seed)

    def setup(self) -> None:
        pass

    def stores(self) -> list[str]:
        return []

    def new_pass(self) -> list[Op]:
        names = list(ANALYTICS)
        self.rng.shuffle(names)
        return [_registry_op(self.spark, self.data_dir, n) for n in names]

    def check(self, results: dict, digests: dict) -> list[str]:
        return [p for n in ANALYTICS for p in _digest_problems(n, results[n], digests)]


class Corpus:
    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark, self.data_dir = spark, data_dir
        self.state = os.path.join(work_dir, "state")
        self.pass_dir = os.path.join(work_dir, "pass")
        # the seed picks the batch once, then the order of every pass
        self.rng = random.Random(seed)
        self.batch_lo = self.rng.randrange(0, N_EVENTS - MERGE_BATCH_ROWS)

    # -- inputs --------------------------------------------------------------
    def _table(self, name: str):
        from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

        return src.load_table(self.spark, self.data_dir, name)

    def _event_rows(self, batch_no: int, lo: int, hi: int):
        from pyspark.sql import functions as F

        return (
            self._table("events")
            .filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            .select("event_id", "user_id", "event_type",
                    (F.col("value") + F.lit(float(batch_no))).alias("value"))
        )

    # -- set-up state ----------------------------------------------------------
    def setup(self) -> None:
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

        os.makedirs(self.state)
        gold = os.path.join(self.state, "gold")
        strm.merge_table(self._event_rows(0, 0, BASE_EVENTS), gold, **self._merge_kw())
        strm.snapshot_merge_table(gold, "base")

    @staticmethod
    def _merge_kw() -> dict:
        return dict(keys=["event_id"], order_cols=["event_id"], n_buckets=8,
                    stats_cols=["event_id"])

    def stores(self) -> list[str]:
        return [os.path.join(self.pass_dir, "gold")]

    # -- one pass --------------------------------------------------------------
    def new_pass(self) -> list[Op]:
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

        spark = self.spark
        shutil.rmtree(self.pass_dir, ignore_errors=True)
        shutil.copytree(self.state, self.pass_dir)
        (gold,) = self.stores()
        lo, hi = self.batch_lo, self.batch_lo + MERGE_BATCH_ROWS

        merge_seq = [
            Op("merge_table", "commit", "streaming.merge_table_ms",
               lambda: strm.merge_table(self._event_rows(1, lo, hi), gold, **self._merge_kw()),
               gold),
            Op("read_merged", "read", "streaming.read_merged_ms",
               lambda: strm.read_merged(spark, gold, range_filters={"event_id": (lo, hi - 1)})),
            Op("read_commit_changes", "read", "streaming.read_commit_changes_ms",
               lambda: strm.read_commit_changes(spark, gold, since="base")),
            Op("optimize_merge_table", "maintain", "streaming.optimize_ms",
               lambda: strm.optimize_merge_table(spark, gold, cluster_by="event_id"),
               gold),
            Op("vacuum_merge_table", "maintain", "streaming.vacuum_ms",
               lambda: strm.vacuum_merge_table(gold), gold),
        ]
        reads = [_registry_op(spark, self.data_dir, n) for n in CORPUS_READS]
        self.rng.shuffle(reads)
        seqs = [merge_seq] + [[op] for op in reads]
        # interleave: a seeded order in which the merge sequence keeps its order
        slots = [i for i, s in enumerate(seqs) for _ in s]
        self.rng.shuffle(slots)
        its = [iter(s) for s in seqs]
        return [next(its[i]) for i in slots]

    # -- checks ----------------------------------------------------------------
    def check(self, results: dict, digests: dict) -> list[str]:
        from perfbench.oracle import digest
        from tests.oracle_harness import duck_connection

        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

        problems = [p for n in CORPUS_READS for p in _digest_problems(n, results[n], digests)]
        con = duck_connection(self.data_dir)

        # final merge table == last write wins over the same batches
        (gold,) = self.stores()
        got = strm.read_merged(self.spark, gold).select(
            "event_id", "user_id", "event_type", "value")
        got_rows = [tuple(r) for r in got.collect()]
        spans = ", ".join(
            f"({b}, {lo}, {hi})"
            for b, lo, hi in [(0, 0, BASE_EVENTS),
                              (1, self.batch_lo, self.batch_lo + MERGE_BATCH_ROWS)]
        )
        want = con.execute(f"""
            SELECT event_id, user_id, event_type, value + b AS value
            FROM events JOIN (VALUES {spans}) AS s(b, lo, hi)
              ON event_id >= lo AND event_id < hi
            QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY b DESC) = 1
        """).fetchall()
        cols4 = ["event_id", "user_id", "event_type", "value"]
        if digest(cols4, got_rows) != digest(cols4, want):
            problems.append(f"merge table: {len(got_rows)} rows differ from DuckDB's "
                            f"last-write-wins state ({len(want)} rows)")
        # the range read runs after the batch commit
        cols, rows = results["read_merged"]
        got_rows = [tuple(r[cols.index(c)] for c in cols4) for r in rows]
        want = con.execute(f"""
            SELECT event_id, user_id, event_type, value + 1 AS value FROM events
            WHERE event_id >= {self.batch_lo}
              AND event_id < {self.batch_lo + MERGE_BATCH_ROWS}
        """).fetchall()
        if digest(cols4, got_rows) != digest(cols4, want):
            problems.append(f"read_merged: {len(got_rows)} rows differ from the "
                            f"committed batch ({len(want)} rows)")
        con.close()
        return problems


WORKLOADS = {"analytics": Analytics, "corpus": Corpus}
