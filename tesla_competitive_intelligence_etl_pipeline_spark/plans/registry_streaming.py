"""Registry batch 4: X-9 Structured Streaming queries (SURVEY.md §2.9).

Each runs the real streaming engine (readStream → stateful agg →
writeStream) drained with Trigger.AvailableNow, so the final table is
deterministic and — for tumbling/session windows — hash-checkable against
the batch SQL oracle. This is the strongest correctness statement the
driver protocol allows for streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tesla_competitive_intelligence_etl_pipeline_spark.plans.artifacts import artifact, clone, scratch
from tesla_competitive_intelligence_etl_pipeline_spark.plans.registry import _dsum, register
from tesla_competitive_intelligence_etl_pipeline_spark.plans import oracle_vec as _oracle_vec
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm


@register(
    "x9_stream_tumbling",
    f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, COUNT(*) AS cnt, {_dsum('value')} AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def x9_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9a: watermarked tumbling-window streaming aggregation; AvailableNow
    replay must agree with the batch oracle exactly."""
    ev = strm.stream_events(spark, sf_dir)
    return strm.run_to_table(spark, strm.tumbling_counts(ev))


@register(
    "x9_stream_session",
    f"""
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
             lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      -- microsecond-exact diff; STRICTLY > gap = new session (session_window
      -- merges touching windows — verified in test_streaming.py)
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                     THEN 1 ELSE 0 END AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events, {_dsum('value')} AS value_sum
    FROM sessions GROUP BY user_id, session_id
    """,
)
def x9_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9b: session windows (30-min gap) in the streaming state store; must
    agree with the batch gaps-and-islands oracle."""
    ev = strm.stream_events(spark, sf_dir)
    return strm.run_to_table(spark, strm.session_aggregation(ev))


@register(
    "x9_stream_stateful_totals",
    # value_sum is accumulated in float64 inside the pandas state fn, so the
    # oracle mirrors a double sum rounded to 6 (error ~1e-11 << 5e-7)
    """
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS value_sum
    FROM events GROUP BY user_id
    """,
)
def x9_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9d: custom stateful operator (applyInPandasWithState) — per-user
    running totals; after a full AvailableNow replay the final state snapshot
    per user must equal the batch aggregate."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import stateful

    ev = strm.stream_events(spark, sf_dir)
    # Python-stateful: Arrow-worker parallelism dominates, keep session sizing
    out = strm.run_to_table(
        spark, stateful.running_user_totals(ev), mode="update", state_partitions=None
    )
    # update-mode memory sink keeps every emitted snapshot; latest per user
    # is the final state (single batch here, but stay general)
    latest = out.groupBy("user_id").agg(
        F.max(F.struct("n_events", "value_sum")).alias("s")
    )
    return latest.select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.round(F.col("s.value_sum"), 6).alias("value_sum"),
    )


@register(
    "x9_stream_foreachbatch_merge",
    """
    SELECT user_id, last_event_type, last_value FROM (
      SELECT user_id, event_type AS last_event_type, value AS last_value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def x9_stream_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9c: foreachBatch MERGE upsert (streaming twin of SNK-4) — final gold
    state = latest event per user."""
    ev = strm.stream_events(spark, sf_dir)
    out = strm.foreach_batch_merge_latest(spark, ev)
    return out.select("user_id", "last_event_type", "last_value")


@register(
    "x9_merge_cdc",
    """
    WITH l2 AS (
      SELECT user_id, event_type AS last_event_type, value AS last_value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events
    ),
    s2 AS (SELECT user_id, last_event_type, last_value, event_id FROM l2 WHERE rn = 1),
    l1 AS (
      SELECT user_id, event_type AS last_event_type, value AS last_value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16'
    ),
    s1 AS (SELECT user_id, last_event_type, last_value, event_id FROM l1 WHERE rn = 1)
    SELECT n.user_id, n.last_event_type, n.last_value, n.event_id,
           'insert' AS _change_type
    FROM s2 n LEFT JOIN s1 o ON n.user_id = o.user_id WHERE o.user_id IS NULL
    UNION ALL
    SELECT o.user_id, o.last_event_type, o.last_value, o.event_id,
           'update_preimage' AS _change_type
    FROM s1 o JOIN s2 n ON o.user_id = n.user_id WHERE o.event_id <> n.event_id
    UNION ALL
    SELECT n.user_id, n.last_event_type, n.last_value, n.event_id,
           'update_postimage' AS _change_type
    FROM s1 o JOIN s2 n ON o.user_id = n.user_id WHERE o.event_id <> n.event_id
    UNION ALL
    SELECT o.user_id, o.last_event_type, o.last_value, o.event_id,
           'delete' AS _change_type
    FROM s1 o LEFT JOIN s2 n ON o.user_id = n.user_id WHERE n.user_id IS NULL
    """,
)
def x9_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9g: CDC incremental read over the merge gold table
    (streaming/events.py read_changes) — merge the first two weeks of
    events, snapshot (the state a training run read), merge the rest, then
    read the delta since the snapshot: inserts, plus update pre/post-image
    pairs where a later event advanced a user's state. Batches are split on
    event time because merge_upsert is MERGE-semantics (the incoming batch
    wins per key) — the contract assumes in-order ingestion, so the oracle's
    "latest event overall" equals the merged state. The oracle recomputes
    both pinned states from the raw events and diffs them in SQL; the
    winning event's identity (event_id) decides row difference, exactly as
    the engine's full-row compare does (the event row IS the payload). Diff
    I/O is manifest-pruned to changed buckets (proven in
    tests/test_streaming.py); the single shuffle is the key-equi full-outer
    join. The gold table + snapshot are built once per session/sf_dir
    (_ensure_cdc_gold — the table's ingest cost, same offline/online
    discipline as the signature tables and ANN indexes; bench.py warms it);
    the timed query is the CDC read itself."""
    target = _ensure_cdc_gold(spark, sf_dir)
    return strm.read_changes(spark, target, since="base").select(
        "user_id", "last_event_type", "last_value", "event_id", "_change_type"
    )


# events gold table + pinned base snapshot
@artifact
def _ensure_cdc_gold(spark: SparkSession, sf_dir: str) -> str:
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    ev = io_mod.load_events(spark, sf_dir)
    cutoff = F.lit("2024-01-16").cast("timestamp")
    target = scratch("cdc_") + "/gold"
    strm.merge_micro_batch(ev.filter(F.col("ts") < cutoff), target)
    strm.snapshot_merge_table(target, "base")
    strm.merge_micro_batch(ev.filter(F.col("ts") >= cutoff), target)
    return target


@register(
    "x1_cdc_incremental_dedup",
    """
    WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
    crawl AS (
      SELECT doc_id + (SELECT o FROM off) AS doc_id, text
      FROM documents WHERE doc_id < 50
      UNION ALL
      SELECT doc_id + 2 * (SELECT o FROM off) AS doc_id,
             text || ' (revised)' AS text
      FROM documents WHERE doc_id >= 50 AND doc_id < 100
    ),
    base_h AS (SELECT DISTINCT md5(text) AS h FROM documents)
    SELECT c.doc_id, (b.h IS NOT NULL) AS is_dup
    FROM (SELECT doc_id, md5(text) AS h FROM crawl) c
    LEFT JOIN base_h b ON c.h = b.h
    """,
)
def x1_cdc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-1/X-9 composition — the incremental-crawl story end to end: the
    corpus lives in a schema-generic merge gold table keyed by doc_id
    (merge_table); a training run snapshots it; a new crawl batch (50 exact
    copies under fresh ids + 50 revised texts) merges in; the COMMIT LOG
    (r8: read_commit_changes — O(delta) regardless of how the crawl's keys
    scatter across buckets, unlike the state diff which re-reads every
    touched bucket in full) yields ONLY the inserted docs, and exact dedup
    flags each against the PINNED base state by md5 — so steady-state
    dedup cost is O(delta), not O(corpus). Hashes are projected before the join (the shuffle carries
    (doc_id, 16-byte md5), never text — the dedup discipline); the base
    side is NOT broadcast (at 100 TB it is the full corpus hash set). The
    oracle recomputes the crawl and the flag in SQL. The corpus table +
    crawl merge are built once per session/sf_dir (_ensure_docs_gold,
    warmed by bench.py); the timed query is the CDC read plus the dedup
    flag join — the steady-state consumer cost."""
    from pyspark.sql import functions as F

    target = _ensure_docs_gold(spark, sf_dir)
    new_docs = strm.read_commit_changes(spark, target, since="base").filter(
        F.col("_change_type") == "insert"
    )
    # the base corpus's distinct-md5 table is MATERIALIZED at ingest
    # (_ensure_docs_gold) — the timed path hashes only the delta and joins
    # the stored hash set, keeping the query genuinely O(delta)
    base_h = spark.read.parquet(target + "_basehash").withColumn(
        "__dup", F.lit(True)
    )
    return (
        new_docs.select("doc_id", F.md5("text").alias("h"))
        .join(base_h, "h", "left")
        .select(
            "doc_id", F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup")
        )
    )


# documents gold table + crawl merge + pinned base
@artifact
def _ensure_docs_gold(spark: SparkSession, sf_dir: str) -> str:
    """Corpus gold table, pinned 'base' snapshot, crawl merge, AND the
    base state's distinct-md5 table (the offline half of incremental
    dedup — recomputing it per query would charge O(corpus) hashing to a
    path documented as O(delta)). Crawl ids offset by
    max(doc_id)+1 so they can never collide with existing keys at any
    scale factor (collision would turn oracle 'inserts' into engine
    'updates')."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    off = docs.agg(F.max("doc_id")).first()[0] + 1  # one scalar, driver-side
    crawl = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + off).alias("doc_id"), "text"
    ).unionByName(
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)).select(
            (F.col("doc_id") + 2 * off).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" (revised)")).alias("text"),
        )
    )
    target = scratch("cdc_docs_") + "/corpus"
    strm.merge_table(docs, target, keys=["doc_id"], order_cols=["doc_id"])
    strm.snapshot_merge_table(target, "base")
    strm.merge_table(crawl, target, keys=["doc_id"], order_cols=["doc_id"])
    strm.read_merged(spark, target, snapshot="base").select(
        F.md5("text").alias("h")
    ).distinct().write.parquet(target + "_basehash")
    return target


# ===========================================================================
# X-3/X-9 composition (VERDICT r7 item 3): CDC -> ANN-index refresh — the
# steady-state 100 TB serving loop. The embedding corpus lives in a merge
# gold table; the IVF-PQ index is built from a pinned snapshot; each later
# corpus increment is discovered via read_changes (O(changed buckets) diff
# I/O) and fed to ivfpq_index_append (O(batch) assign+encode, two-table
# atomic commit) — the index tracks the table without ever re-reading it.
# ===========================================================================

# (index_path, codebooks, query_vec)
@artifact
def _ensure_cdc_emb_index(spark: SparkSession, sf_dir: str) -> tuple[str, list, list]:
    """Offline half of the CDC -> index-refresh loop, once per
    session/sf_dir: merge the base corpus (15/16 of embeddings) into a
    gold table, pin 'base', build the IVF-PQ index from the PINNED state,
    merge the increment (vec_id % 16 == 0 — includes vec_id 0, so the
    query vector itself arrives through CDC), then read_changes(base) ->
    ivfpq_index_append. The timed entry is the SEARCH over the refreshed
    index; CDC-fed append == direct bulk append is pinned in
    tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    emb = io_mod.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    base = emb.filter(F.col("vec_id") % 16 != 0)
    inc = emb.filter(F.col("vec_id") % 16 == 0)
    root = scratch("cdc_emb_")
    target = root + "/corpus"
    strm.merge_table(base, target, keys=["vec_id"], order_cols=["vec_id"])
    strm.snapshot_merge_table(target, "base")
    path = root + "/index"
    books = clustering.build_ivfpq_index(
        strm.read_merged(spark, target, snapshot="base").select(
            "vec_id", "embedding", "label"
        ),
        path, m=4, k=16, max_iters=2, train_fraction=0.2, round_decimals=6,
    )
    strm.merge_table(inc, target, keys=["vec_id"], order_cols=["vec_id"])
    # consume the COMMIT LOG: O(delta) regardless of how the
    # increment's keys scatter across buckets — the state-diff
    # read_changes would re-read every touched bucket's full content
    # (measured growing with base size, SCALING.md); both readers
    # yield the identical insert set here, pinned in tests
    changed = strm.read_commit_changes(spark, target, since="base").filter(
        F.col("_change_type") == "insert"
    ).select("vec_id", "embedding")
    clustering.ivfpq_index_append(spark, path, changed)
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    return path, books, query


@register(
    "x3_cdc_index_refresh",
    _oracle_vec.ivfpq_topk_sql(
        m=4, k_codes=16, iters=2, train_fraction=0.2, n_probe=2, refine=4,
        base_pred="vec_id % 16 <> 0",
    ),
)
def x3_cdc_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-3/X-9 production loop (VERDICT r7 item 3): search the IVF-PQ
    index AFTER a CDC-driven incremental refresh — merge-table increment
    -> commit-log read (read_commit_changes, O(delta)) ->
    ivfpq_index_append with frozen quantizers.
    The query vector (vec_id 0) itself arrived through the CDC append,
    so its top-1 self-hit proves the refreshed rows are searchable. The
    oracle re-derives the ENTIRE composition in SQL: base-only cell
    centroids and codebooks, appended rows assigned argmax-cosine
    (round 9, ties to the greatest label — the engine's array_max
    tie-break), then the standard probe/ADC/shortlist/refine
    (oracle_vec.ivfpq_topk_sql base_pred variant). Offline ingest
    (_ensure_cdc_emb_index) is warmed by bench.py; the timed path is the
    online search."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    path, books, query = _ensure_cdc_emb_index(spark, sf_dir)
    return clustering.ivfpq_topk_indexed(
        spark, path, query, k=10, n_probe=2, refine=4, codebooks=books
    )


# ===========================================================================
# X-9h (r8): DELETE from the merge gold table — retention / GDPR erasure /
# corpus takedown, the missing third of the DML triangle. CDC composes:
# the deltas since the pre-delete snapshot are pure delete records.
# ===========================================================================

@artifact
def _ensure_delete_gold(spark: SparkSession, sf_dir: str) -> str:
    """Events gold table + 'pre' snapshot + BOTH delete modes applied —
    keys-mode (user_id % 7 == 0: routes through bucket hashing, touches
    only those keys' buckets) then predicate-mode (last_value < 50 over
    the survivors: one pruning count pass, rewrites only buckets that
    contain matches). Once per session/sf_dir; the timed entry is the CDC
    read of the removed rows."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    ev = io_mod.load_events(spark, sf_dir)
    target = scratch("del_gold_") + "/gold"
    strm.merge_micro_batch(ev, target)
    strm.snapshot_merge_table(target, "pre")
    gone_users = (
        ev.select("user_id").distinct().filter(F.col("user_id") % 7 == 0)
    )
    strm.delete_from_merge_table(spark, target, keys=gone_users)
    strm.delete_from_merge_table(
        spark, target, predicate="last_value < 50"
    )
    return target


@register(
    "x9_merge_delete",
    """
    WITH l AS (
      SELECT user_id, event_type AS last_event_type, value AS last_value,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                         event_id DESC) AS rn
      FROM events
    ),
    g AS (SELECT user_id, last_event_type, last_value, event_id
          FROM l WHERE rn = 1)
    SELECT user_id, last_event_type, last_value, event_id,
           'delete' AS _change_type
    FROM g WHERE user_id % 7 = 0 OR last_value < 50
    """,
)
def x9_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9h (r8): DELETE on the merge gold table, observed through CDC —
    keys-mode erasure (user_id % 7 == 0; I/O ∝ the keys' bucket span)
    followed by predicate-mode erasure (last_value < 50; a pruning count
    pass rewrites only buckets containing matches), each a two-phase
    commit whose superseded versions stay pinned by the 'pre' snapshot.
    read_changes(since='pre') then reports exactly the removed rows as
    _change_type='delete' (the full-outer diff's old-side-only branch).
    The oracle recomputes latest-per-user and the union of both delete
    conditions in SQL. Table build + deletes are offline
    (_ensure_delete_gold, warmed by bench.py); the timed query is the CDC
    read."""
    target = _ensure_delete_gold(spark, sf_dir)
    return strm.read_changes(spark, target, since="pre").select(
        "user_id", "last_event_type", "last_value", "event_id", "_change_type"
    )


# ===========================================================================
# X-9i (r8): commit-log CDC — the O(delta) incremental read. The state-diff
# read_changes re-reads every changed bucket's FULL content on both sides,
# which degrades toward O(table) when an increment's keys hash-scatter
# across all buckets (measured, SCALING.md r8). Merges/deletes therefore
# capture their change rows AT COMMIT TIME; read_commit_changes unions the
# per-commit deltas along the manifest chain — I/O is exactly the change
# rows in the range, independent of table size.
# ===========================================================================

@artifact
def _ensure_commit_log_gold(spark: SparkSession, sf_dir: str) -> str:
    """Events gold table built as THREE time-ordered merges with 'base'
    pinned after the first — commits 2 and 3 then carry per-commit
    deltas; a user whose latest event moves in both windows appears in
    both (per-commit granularity, unlike the compacted state diff)."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    ev = io_mod.load_events(spark, sf_dir)
    c1 = F.lit("2024-01-11").cast("timestamp")
    c2 = F.lit("2024-01-21").cast("timestamp")
    target = scratch("clog_") + "/gold"
    strm.merge_micro_batch(ev.filter(F.col("ts") < c1), target)
    strm.snapshot_merge_table(target, "base")
    strm.merge_micro_batch(
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)), target
    )
    strm.merge_micro_batch(ev.filter(F.col("ts") >= c2), target)
    return target


def _clog_state(alias: str, upper: str | None) -> str:
    """Latest-per-user CTE over events below an optional ts bound."""
    where = (
        f"WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{upper}'" if upper else ""
    )
    return f"""
    {alias} AS (
      SELECT user_id, last_event_type, last_value, event_id FROM (
        SELECT user_id, event_type AS last_event_type, value AS last_value,
               event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                           event_id DESC) AS rn
        FROM events {where}
      ) WHERE rn = 1
    )"""


def _clog_diff(seq: int, old: str, new: str) -> str:
    """Per-commit delta between two latest-per-user states, as SQL."""
    return f"""
    SELECT n.user_id, n.last_event_type, n.last_value, n.event_id,
           'insert' AS _change_type, {seq} AS _commit_seq
    FROM {new} n LEFT JOIN {old} o ON n.user_id = o.user_id
    WHERE o.user_id IS NULL
    UNION ALL
    SELECT o.user_id, o.last_event_type, o.last_value, o.event_id,
           'update_preimage' AS _change_type, {seq} AS _commit_seq
    FROM {old} o JOIN {new} n ON o.user_id = n.user_id
    WHERE o.event_id <> n.event_id
    UNION ALL
    SELECT n.user_id, n.last_event_type, n.last_value, n.event_id,
           'update_postimage' AS _change_type, {seq} AS _commit_seq
    FROM {old} o JOIN {new} n ON o.user_id = n.user_id
    WHERE o.event_id <> n.event_id"""


@register(
    "x9_commit_log_cdc",
    "WITH "
    + ",".join(
        [
            _clog_state("s1", "2024-01-11"),
            _clog_state("s2", "2024-01-21"),
            _clog_state("s3", None),
        ]
    )
    + _clog_diff(1, "s1", "s2")
    + "\n    UNION ALL"
    + _clog_diff(2, "s2", "s3"),
)
def x9_commit_log_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9i (r8): read the commit log between the pinned base and the
    current state — two commits' captured deltas, unioned with
    _commit_seq, NO bucket data read at all (the walk reads two manifest
    chain records plus the delta files themselves). Per-commit
    granularity pinned by the oracle: a user updated in both windows
    contributes a pre/post pair PER COMMIT, which the compacted state
    diff (x9_merge_cdc) would collapse. Deltas are captured by the merges
    themselves (one batch-proportional join each at ingest); the timed
    query is the O(delta) log read."""
    target = _ensure_commit_log_gold(spark, sf_dir)
    return strm.read_commit_changes(spark, target, since="base").select(
        "user_id", "last_event_type", "last_value", "event_id",
        "_change_type", "_commit_seq",
    )


# ===========================================================================
# X-9j (r9): commit-log survival across ROLLBACK — rollback_merge_table
# captures the state diff between the rolled-back and restored states as a
# synthetic kind='rollback' commit, so the chain stays walkable and CDC
# consumers keep the O(delta) read exactly when the table is recovering
# from a bad write (VERDICT r8 item 3; previously a loud failover to the
# O(table) state diff).
# ===========================================================================

@artifact
def _ensure_rollback_gold(spark: SparkSession, sf_dir: str) -> str:
    """Events gold: merge window 1, pin 'base', merge window 2 (the bad
    write), then ROLL BACK to 'base' with delta capture. Once per
    session/sf_dir; the timed entry is the commit-log read across the
    rollback."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    ev = io_mod.load_events(spark, sf_dir)
    c1 = F.lit("2024-01-11").cast("timestamp")
    target = scratch("rbk_") + "/gold"
    strm.merge_micro_batch(ev.filter(F.col("ts") < c1), target)
    strm.snapshot_merge_table(target, "base")
    strm.merge_micro_batch(ev.filter(F.col("ts") >= c1), target)
    strm.rollback_merge_table(target, "base", spark=spark)
    return target


def _clog_diff_full(seq: int, old: str, new: str) -> str:
    """Per-commit delta between two states INCLUDING the delete branch
    (rows present in ``old`` only) — what a rollback's synthetic delta
    contains when the bad write had inserted new keys."""
    return (
        _clog_diff(seq, old, new)
        + f"""
    UNION ALL
    SELECT o.user_id, o.last_event_type, o.last_value, o.event_id,
           'delete' AS _change_type, {seq} AS _commit_seq
    FROM {old} o LEFT JOIN {new} n ON o.user_id = n.user_id
    WHERE n.user_id IS NULL"""
    )


@register(
    "x9_rollback_cdc",
    "WITH "
    + ",".join([_clog_state("s1", "2024-01-11"), _clog_state("s2", None)])
    + _clog_diff(1, "s1", "s2")
    + "\n    UNION ALL"
    + _clog_diff_full(2, "s2", "s1"),
)
def x9_rollback_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9j (r9): the commit log read ACROSS a rollback — seq 1 is the bad
    write's captured delta, seq 2 is the rollback's synthetic delta (the
    exact inverse: the bad write's inserts come back as deletes, its
    updates revert pre/post) — so a CDC consumer that already applied the
    bad commit converges on the restored state by replaying the log, no
    state diff needed. The oracle derives both states from events SQL and
    emits the forward diff then the full inverse diff (incl. the delete
    branch). Offline: _ensure_rollback_gold (warmed by bench.py); the
    timed query walks three chain records and reads two delta files."""
    target = _ensure_rollback_gold(spark, sf_dir)
    return strm.read_commit_changes(spark, target, since="base").select(
        "user_id", "last_event_type", "last_value", "event_id",
        "_change_type", "_commit_seq",
    )


# ===========================================================================
# X-9k (r9): manifest column stats + driver-side bucket skipping — the
# Delta data-skipping shape: merges record per-bucket min/max, range reads
# prune provably-disjoint buckets before Spark ever lists their files.
# ===========================================================================

@artifact
def _ensure_stats_gold(spark: SparkSession, sf_dir: str) -> str:
    """Events gold merged WITH stats_cols=['last_value'] — the offline
    ingest; the timed entry is the stats-pruned range read."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    ev = io_mod.load_events(spark, sf_dir)
    target = scratch("stats_gold_") + "/gold"
    strm.merge_table(
        ev.select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            "ts",
            "event_id",
        ),
        target,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        stats_cols=["last_value"],
    )
    return target


@register(
    "x9_stats_skipping",
    """
    WITH l AS (
      SELECT user_id, event_type AS last_event_type, value AS last_value,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                         event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, last_event_type, last_value, event_id
    FROM l WHERE rn = 1 AND last_value >= 10.0 AND last_value <= 60.0
    """,
)
def x9_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9k (r9): range read over the stats-carrying gold table —
    read_merged(range_filters=...) prunes buckets whose manifest min/max
    prove a disjoint last_value range BEFORE Spark lists their files (the
    Delta data-skipping shape; at 100 TB the skip saves per-bucket
    listings and footer reads), and applies the same predicate to the
    surviving rows so correctness never depends on the stats (legacy /
    post-rebucket tables read everything and stay right). Hash-checked:
    the oracle recomputes latest-per-user with the range predicate in
    SQL. Offline ingest with stats_cols in _ensure_stats_gold (warmed by
    bench.py); mechanics + real file-skip pinned in
    tests/test_streaming.py::test_manifest_stats_and_bucket_skipping."""
    target = _ensure_stats_gold(spark, sf_dir)
    return strm.read_merged(
        spark, target, range_filters={"last_value": (10.0, 60.0)}
    ).select("user_id", "last_event_type", "last_value", "event_id")


@register(
    "x9_stats_join_autobroadcast",
    f"""
    WITH l AS (
      SELECT user_id, event_type AS last_event_type, value AS last_value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                         event_id DESC) AS rn
      FROM events
    ),
    d AS (
      SELECT user_id, last_event_type
      FROM l WHERE rn = 1 AND last_value >= 10.0 AND last_value <= 60.0
    )
    SELECT d.last_event_type AS last_event_type,
           COUNT(*) AS n_events,
           {_dsum('e.value')} AS sum_value
    FROM events e JOIN d ON e.user_id = d.user_id
    GROUP BY d.last_event_type
    """,
)
def x9_stats_join_autobroadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9k2 (r12 — VERDICT r11 item 4): the STATS-PLANNED dim join — the
    events fact enriched through joins.enrich_with_merged_dim against the
    stats-carrying gold table with a narrow last_value range. The dim side
    is read with broadcast_threshold_rows='auto': the manifest's recorded
    rows/ndv model estimates the FILTERED dim (min-composed selectivities,
    never the independence product) and converts the session's
    autoBroadcastJoinThreshold to rows via recorded bytes-per-row — the
    broadcast decision Spark's static file-bytes check cannot make.
    Values are hint-independent (the oracle re-derives the latest-per-user
    dim, range, join, and exact-decimal aggregate in SQL); the plan flip
    itself is pinned in tests/test_plans.py."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import (
        aggregates as agg,
        joins,
    )
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    target = _ensure_stats_gold(spark, sf_dir)
    facts = io_mod.load_events(spark, sf_dir).select("user_id", "value")
    out = joins.enrich_with_merged_dim(
        spark, facts, target, "user_id",
        range_filters={"last_value": (10.0, 60.0)},
    )
    return out.groupBy("last_event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        agg.exact_sum(F.col("value")).alias("sum_value"),
    )


# ===========================================================================
# X-9l (r10): clustered layout -> per-FILE data skipping on a column that
# does NOT correlate with the key hash — the case bucket-level min/max can
# never prune (VERDICT r9 item 1). merge_table(cluster_by=...) writes each
# bucket version as range-disjoint files and records their spans; the range
# read then skips files inside every bucket (Delta OPTIMIZE ZORDER shape).
# ===========================================================================

@artifact
def _ensure_clustered_gold(spark: SparkSession, sf_dir: str) -> str:
    """Events gold merged with ``cluster_by='last_value'`` — last_value
    hash-scatters across user_id buckets, so every bucket's min/max spans
    ~the full value range and stats_cols-only pruning reads everything
    (asserted in tests/test_plans.py); the clustered file layout is what
    earns the skip. Offline ingest; the timed entry is the pruned read."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    ev = io_mod.load_events(spark, sf_dir)
    target = scratch("clustered_gold_") + "/gold"
    strm.merge_table(
        ev.select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            "ts",
            "event_id",
        ),
        target,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        stats_cols=["last_value"],
        cluster_by="last_value",
        cluster_files=4,
    )
    return target


@register(
    "x9_clustered_skipping",
    """
    WITH l AS (
      SELECT user_id, event_type AS last_event_type, value AS last_value,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                         event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, last_event_type, last_value, event_id
    FROM l WHERE rn = 1 AND last_value >= 25.0 AND last_value <= 45.0
    """,
)
def x9_clustered_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9l (r10): range read over the CLUSTERED gold table — the filtered
    column does not correlate with the key hash, so per-bucket min/max
    (x9_stats_skipping's mechanism) provably prunes zero buckets here;
    the cluster_by layout (range-disjoint files per bucket version, spans
    in the manifest) lets read_merged skip FILES inside every bucket
    instead — ~(1 - selectivity) of the data untouched regardless of key
    correlation, which is what the 100 TB event-time/score range read
    actually needs. The same predicate still applies row-level, so
    correctness never depends on the layout. Hash-checked against the
    latest-per-user + range oracle; the zero-bucket-prune assertion and
    the real file skip (inputFiles) are pinned in
    tests/test_plans.py::test_clustered_skipping_prunes_files_not_buckets."""
    target = _ensure_clustered_gold(spark, sf_dir)
    return strm.read_merged(
        spark, target, range_filters={"last_value": (25.0, 45.0)}
    ).select("user_id", "last_event_type", "last_value", "event_id")


# ===========================================================================
# X-9m (r10): Z-ORDER (multi-column cluster_by) -> file skipping on EITHER
# of two independent columns. 1-D clustering (x9_clustered_skipping) buys
# pruning on exactly one column; the canonical events read filters BOTH a
# score band and an event-time window, and a 1-D value layout gives the
# time dimension nothing. cluster_by=["last_value", "ts"] bit-interleaves
# per-column range-bin ids (Delta OPTIMIZE ZORDER's shape) so each file's
# span is narrow in BOTH dimensions and the conjunctive filter prunes
# multiplicatively.
# ===========================================================================

@artifact
def _ensure_zorder_gold(spark: SparkSession, sf_dir: str) -> str:
    """The FULL events fact as a merge table keyed by event_id, Z-ordered
    on ``['value', 'ts']`` — both columns hash-scatter across event_id
    buckets (bucket min/max prunes nothing on either), so only the z-tiled
    file layout earns the skip. Keying by event_id (not user_id) keeps
    every event: the canonical fact-table shape whose reads filter a score
    band AND a time window together. Offline ingest (warmed by bench.py);
    the timed entry is the read."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    ev = io_mod.load_events(spark, sf_dir)
    target = scratch("zorder_gold_") + "/gold"
    strm.merge_table(
        ev.select("event_id", "user_id", "event_type", "value", "ts"),
        target,
        keys=["event_id"],
        order_cols=["ts"],
        n_buckets=8,
        stats_cols=["value", "ts"],
        cluster_by=["value", "ts"],
        cluster_files=4,
    )
    return target


@register(
    "x9_zorder_skipping",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value >= 20.0 AND value <= 120.0
      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
      AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-18 00:00:00'
    """,
)
def x9_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9m (r10): conjunctive 2-D range read (score band x event-time
    window) over the Z-ORDERED events fact — read_merged prunes files
    whose recorded span misses EITHER dimension, the multiplicative skip a
    1-D layout cannot give (its second column's per-file span converges to
    the full range). The same predicate still applies row-level, so
    correctness never depends on the layout. Hash-checked against the
    plain 2-D-range oracle; the both-dimensions file skip is pinned in
    tests/test_plans.py::test_zorder_skipping_prunes_on_both_dims."""
    import datetime as _dt

    target = _ensure_zorder_gold(spark, sf_dir)
    return strm.read_merged(
        spark, target,
        range_filters={
            "value": (20.0, 120.0),
            "ts": (_dt.datetime(2024, 1, 8), _dt.datetime(2024, 1, 18)),
        },
    ).select("event_id", "user_id", "event_type", "value")


@artifact
def _ensure_unclustered_gold(spark: SparkSession, sf_dir: str) -> str:
    """The same events fact as _ensure_zorder_gold but ingested WITHOUT
    cluster_by — the pristine input x9_optimize_layout clones and
    re-lays-out each run."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod

    ev = io_mod.load_events(spark, sf_dir)
    target = scratch("unclustered_gold_") + "/gold"
    strm.merge_table(
        ev.select("event_id", "user_id", "event_type", "value", "ts"),
        target,
        keys=["event_id"],
        order_cols=["ts"],
        n_buckets=8,
        stats_cols=["value", "ts"],
    )
    return target


@register(
    "x9_optimize_layout",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value >= 20.0 AND value <= 120.0
      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
      AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-18 00:00:00'
    """,
)
def x9_optimize_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-9n (r10): standalone OPTIMIZE — Delta's OPTIMIZE ZORDER BY as an
    operation. A table ingested WITHOUT cluster_by (no file stats, range
    reads scan every file) is cloned and re-laid-out by
    optimize_merge_table(cluster_by=['value','ts']): content no-op, ONE
    conditional manifest put, per-file bounds appear, and the same 2-D
    read as x9_zorder_skipping then prunes files. The timed path INCLUDES
    cloning the warmed pristine table (optimize mutates; clone is setup a
    re-runnable bench honestly pays) and the O(touched buckets) rewrite —
    the maintenance cost a deployment schedules, now driver-visible.
    Hash-checked against the plain 2-D-range oracle; the content no-op and
    lifecycle are pinned in
    tests/test_streaming.py::test_optimize_merge_table_clusters_committed_layout."""
    import datetime as _dt

    work = clone("optimize_run_", _ensure_unclustered_gold(spark, sf_dir)) + "/gold"
    strm.optimize_merge_table(
        spark, work, cluster_by=["value", "ts"], cluster_files=4
    )
    return strm.read_merged(
        spark, work,
        range_filters={
            "value": (20.0, 120.0),
            "ts": (_dt.datetime(2024, 1, 8), _dt.datetime(2024, 1, 18)),
        },
    ).select("event_id", "user_id", "event_type", "value")
