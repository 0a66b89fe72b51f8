"""X-9 streaming semantics: watermark late-data drop across micro-batches
(the behavior the single-batch oracle replay can't exercise)."""

from __future__ import annotations

import os
import tempfile
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _write_events(path: str, rows: list[tuple[int, str, int]]):
    """rows: (event_id, ts iso string, user_id) — ns timestamps like testdata."""
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows]).astype("datetime64[us]"),
            "user_id": [r[2] for r in rows],
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), path)


def test_watermark_drops_late_rows_across_batches(spark):
    src_dir = tempfile.mkdtemp(prefix="strm_late_")
    # batch 1: events in hours 10 and 12 -> event-time stats reach 12:00
    _write_events(
        os.path.join(src_dir, "part-001.parquet"),
        [(1, "2024-01-01 10:05:00", 1), (2, "2024-01-01 10:20:00", 1), (3, "2024-01-01 12:00:00", 1)],
    )
    time.sleep(1.1)  # distinct mtimes so the file source orders batches
    # batch 2: fresh event; watermark filtering lags one batch behind the
    # stats batch, so this intermediate batch activates the 11:50 watermark
    _write_events(os.path.join(src_dir, "part-002.parquet"), [(4, "2024-01-01 12:30:00", 1)])
    time.sleep(1.1)
    # batch 3: a LATE event for hour 10 (behind the watermark) + a fresh one
    _write_events(
        os.path.join(src_dir, "part-003.parquet"),
        [(5, "2024-01-01 10:30:00", 1), (6, "2024-01-01 13:00:00", 1)],
    )

    raw = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src_dir)
    )
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").cast("string").alias("ws"), "cnt")
    )
    name = "late_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r.ws: r.cnt for r in spark.table(name).collect()}
    # hour-10 window closed with 2 events; the late event_id=5 was DROPPED
    assert out.get("2024-01-01 10:00:00") == 2
    # hour-13 window is still open (watermark 12:50) -> not emitted in append mode
    assert "2024-01-01 13:00:00" not in out


def test_streaming_matches_batch_on_full_replay(spark, sf_dir):
    """AvailableNow replay of the events table == batch aggregation."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    stream_result = strm.run_to_table(spark, strm.tumbling_counts(strm.stream_events(spark, sf_dir)))
    batch = (
        src.load_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )
    s = {(str(r.window_start), r.event_type): r.cnt for r in stream_result.collect()}
    b = {(str(r.window_start), r.event_type): r.cnt for r in batch.collect()}
    assert s == b


def test_merge_micro_batch_rewrites_only_touched_buckets(spark, tmp_path):
    """VERDICT r1 item 3: the foreachBatch MERGE must do I/O proportional to
    the batch's keys, not the table — untouched bucket partitions keep their
    exact files; only buckets present in the batch are rewritten."""
    import glob
    import os

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")

    def ev(rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts_s long, user_id long, event_type string, value double"
        )
        return df.select(
            "event_id",
            F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            "user_id",
            "event_type",
            "value",
        )

    strm.merge_micro_batch(
        ev([(i, 1000 + i, i % 8, "seed", float(i)) for i in range(32)]), target, n_buckets=8
    )

    def files():
        # committed layout: store/<bucket>/<version>/part-*.parquet
        out = {}
        for p in glob.glob(target + "/store/*/*/*.parquet"):
            bucket = p.split("/store/")[1].split("/")[0]
            out.setdefault(bucket, set()).add(
                (os.path.relpath(p, target), os.path.getmtime(p))
            )
        return out

    before = files()
    assert len(before) > 1  # several buckets populated

    # second batch touches ONE user -> exactly one bucket gets a new version
    strm.merge_micro_batch(ev([(999, 5000, 3, "update", 42.0)]), target, n_buckets=8)
    after = files()

    user3_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(3).cast("long")), F.lit(8)).cast("string").alias("b")
    ).first()["b"]
    changed = {b for b in before if before[b] != after.get(b)}
    assert changed == {user3_bucket}, (changed, user3_bucket)
    for b in before:
        if b != user3_bucket:
            assert after[b] == before[b]  # identical files, byte-for-byte untouched

    # merged content: user 3 updated, every other user's latest preserved
    gold = strm.read_merged(spark, target)
    row3 = gold.filter(F.col("user_id") == 3).collect()
    assert len(row3) == 1 and row3[0].last_event_type == "update" and row3[0].last_value == 42.0
    assert gold.count() == 8


def test_merge_micro_batch_read_error_aborts_not_wipes(spark, tmp_path):
    """ADVICE r2: a corrupt/unreadable existing target must ABORT the
    micro-batch (so foreachBatch retries), never be mistaken for 'first
    batch' — that mistake would overwrite the touched buckets with
    batch-only rows, silently dropping gold data."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")

    def ev(rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts_s long, user_id long, event_type string, value double"
        )
        return df.select(
            "event_id", F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            "user_id", "event_type", "value",
        )

    strm.merge_micro_batch(ev([(1, 1000, 7, "seed", 1.0)]), target, n_buckets=4)
    before = strm.read_merged(spark, target).collect()
    assert len(before) == 1

    # corrupt the existing table: truncate every committed parquet footer
    import glob

    for p in glob.glob(target + "/store/*/*/*.parquet"):
        with open(p, "wb") as fh:
            fh.write(b"not a parquet file")

    with pytest.raises(Exception):
        strm.merge_micro_batch(ev([(2, 2000, 7, "update", 2.0)]), target, n_buckets=4)

    # a PRESENT but corrupt manifest must also abort, not look like an
    # empty first batch
    with open(target + "/_MANIFEST.json", "w") as fh:
        fh.write("{}")
    with pytest.raises(ValueError, match="corrupt merge manifest"):
        strm.merge_micro_batch(ev([(3, 3000, 7, "update", 3.0)]), target, n_buckets=4)


def test_merge_two_phase_commit_crash_between_buckets(spark, tmp_path):
    """VERDICT r3 item 7: a crash BETWEEN bucket moves (after some staged
    buckets are in place, before the manifest swap) must leave readers on the
    previous batch's state — never a mix; the retried batch then lands
    whole."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")

    def ev(rows):
        df = spark.createDataFrame(
            rows, "event_id long, ts_s long, user_id long, event_type string, value double"
        )
        return df.select(
            "event_id", F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            "user_id", "event_type", "value",
        )

    # batch 1: users 0..7 across several buckets
    strm.merge_micro_batch(
        ev([(i, 1000 + i, i, "seed", float(i)) for i in range(8)]), target, n_buckets=4
    )
    committed = sorted(
        (r.user_id, r.event_id, r.last_event_type)
        for r in strm.read_merged(spark, target).collect()
    )
    assert len(committed) == 8

    # batch 2 touches every bucket, but the process dies after the FIRST
    # bucket move — before the manifest swap
    class Boom(RuntimeError):
        pass

    def die_after_first(i, n):
        assert n > 1  # the scenario needs multiple buckets in flight
        if i == 0:
            raise Boom("crash between bucket moves")

    strm._after_bucket_move_hook = die_after_first
    try:
        import pytest

        with pytest.raises(Boom):
            strm.merge_micro_batch(
                ev([(100 + i, 2000 + i, i, "update", -1.0) for i in range(8)]),
                target,
                n_buckets=4,
            )
    finally:
        strm._after_bucket_move_hook = None

    # readers: EXACTLY the previous committed state — no torn batch
    after_crash = sorted(
        (r.user_id, r.event_id, r.last_event_type)
        for r in strm.read_merged(spark, target).collect()
    )
    assert after_crash == committed

    # the aborted batch left debris (staged dirs / unreferenced versions);
    # vacuum reclaims it WITHOUT changing the committed state
    import glob
    import os

    removed = strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    assert removed  # the crash really left orphans
    assert not os.path.isdir(os.path.join(target, ".staging"))
    manifest_rels = set(
        strm._load_manifest(target)["buckets"].values()
    )
    on_disk = {
        os.path.relpath(p, target)
        for p in glob.glob(target + "/store/*/*")
    }
    assert on_disk == {os.path.normpath(r) for r in manifest_rels}
    assert sorted(
        (r.user_id, r.event_id, r.last_event_type)
        for r in strm.read_merged(spark, target).collect()
    ) == committed

    # retry (foreachBatch redelivers the batch): the whole batch lands
    strm.merge_micro_batch(
        ev([(100 + i, 2000 + i, i, "update", -1.0) for i in range(8)]), target, n_buckets=4
    )
    final = {r.user_id: r for r in strm.read_merged(spark, target).collect()}
    assert len(final) == 8
    assert all(final[u].last_event_type == "update" for u in range(8))


def test_session_gap_boundary_matches_session_window(spark):
    """ADVICE r1 boundary pin, decided EMPIRICALLY: F.session_window MERGES
    touching windows — an event at exactly start+gap joins the session — so
    the batch gaps-and-islands twin must use a STRICT microsecond-exact
    '> gap' (not '>=', and not whole-second truncation); one microsecond
    past the gap starts a new session."""
    rows = [
        # user 1: second event exactly 1800s after the first -> SAME session
        # (session_window merges touching windows)
        (1, "2024-01-01 10:00:00", 1),
        (2, "2024-01-01 10:30:00", 1),
        (3, "2024-01-01 10:40:00", 1),
        # user 2: 1800s plus 1us -> NEW session
        (4, "2024-01-01 10:00:00.000000", 2),
        (5, "2024-01-01 10:30:00.000001", 2),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, "click", 1.0) for i, ts, u in rows],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )

    # streaming semantics via session_window on the same static frame
    sw = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("w.start").alias("session_start"), "n")
    )
    sw_out = {(r.user_id, str(r.session_start)): r.n for r in sw.collect()}
    assert sw_out[(1, "2024-01-01 10:00:00")] == 3  # touching windows merged
    assert sw_out[(2, "2024-01-01 10:00:00")] == 1  # 1us past gap: split
    assert sw_out[(2, "2024-01-01 10:30:00.000001")] == 1

    # batch gaps-and-islands twin (the registry builder's expression) agrees
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    flagged = df.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts")) > gap_us),
            1,
        ).otherwise(0),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = (
        flagged.withColumn("sid", F.sum("new_session").over(wsum))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.count("*").alias("n"))
    )
    batch_out = {(r.user_id, str(r.session_start)): r.n for r in sessions.collect()}
    assert batch_out == sw_out


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Restart semantics: a second AvailableNow run sharing the SAME
    checkpoint must process only files added since the first run — the
    foreachBatch merge sees each event exactly once, so the gold table shows
    no double-counting after resume."""
    import os
    import time as _time

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    src_dir = str(tmp_path / "stream_src")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "gold")

    _write_events(
        os.path.join(src_dir, "part-001.parquet"),
        [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:05:00", 2)],
    )

    def run_once():
        raw = (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
            )
            .format("parquet")
            .load(src_dir)
        )
        q = (
            raw.writeStream.foreachBatch(
                lambda b, bid: strm.merge_micro_batch(b, target, n_buckets=4)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = {r.user_id: r for r in strm.read_merged(spark, target).collect()}
    assert set(first) == {1, 2}

    _time.sleep(1.1)
    # "crash + restart": new file arrives, rerun with the SAME checkpoint.
    # A later event for user 1 must REPLACE (not duplicate) its gold row.
    _write_events(
        os.path.join(src_dir, "part-002.parquet"),
        [(3, "2024-01-01 11:00:00", 1)],
    )
    run_once()
    gold = strm.read_merged(spark, target)
    rows = {r.user_id: r for r in gold.collect()}
    assert gold.count() == 2  # one row per user — no reprocessing duplicates
    assert rows[1].event_id == 3  # user 1 advanced to the new latest event
    assert rows[2].event_id == 2  # user 2 untouched


# ---------------------------------------------------------------------------
# VERDICT r4 item 1: filesystem-pluggable commit — the merge's crash safety
# must hold WITHOUT atomic rename (S3 semantics: rename = copy+delete, only
# a full-object PUT is atomic).
# ---------------------------------------------------------------------------


def _ev(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, user_id long, event_type string, value double"
    )
    return df.select(
        "event_id", F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id", "event_type", "value",
    )


def test_merge_under_nonatomic_rename_fs_matches_localfs(spark, tmp_path):
    """The same batch sequence through NonAtomicRenameFS (S3-style
    copy+delete moves) and LocalFS (atomic os.rename) must produce
    identical committed state — the protocol may not depend on rename
    atomicity."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    batches = [
        [(i, 1000 + i, i % 5, "seed", float(i)) for i in range(16)],
        [(100, 5000, 2, "update", 42.0), (101, 5001, 9, "new", 1.0)],
        [(200, 9000, 2, "late", 7.0)],
    ]
    results = {}
    for name, fs in [("local", mfs.LOCAL_FS), ("s3ish", mfs.NonAtomicRenameFS())]:
        target = str(tmp_path / f"gold_{name}")
        for b in batches:
            strm.merge_micro_batch(_ev(spark, b), target, n_buckets=4, fs=fs)
        results[name] = sorted(
            (r.user_id, r.event_id, r.last_event_type, r.last_value)
            for r in strm.read_merged(spark, target, fs=fs).collect()
        )
    assert results["local"] == results["s3ish"]
    assert len(results["local"]) == 6  # users 0..4 plus 9


def test_merge_crash_at_every_mutating_op_never_tears(spark, tmp_path):
    """Exhaustive crash sweep under S3 semantics: inject a crash after EVERY
    mutating filesystem operation of the second batch's commit (each copied
    file, each delete, the manifest put) and assert readers see EXACTLY the
    first batch's state — never a torn mix — then that a clean retry lands
    the whole batch. This is the proof the manifest put is the single commit
    point."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    seed = [(i, 1000 + i, i, "seed", float(i)) for i in range(6)]
    update = [(100 + i, 2000 + i, i, "update", -1.0) for i in range(6)]

    # how many mutating ops does the full second commit take?
    probe_target = str(tmp_path / "probe")
    probe_fs = mfs.NonAtomicRenameFS()
    strm.merge_micro_batch(_ev(spark, seed), probe_target, n_buckets=2, fs=probe_fs)
    ops_batch1 = probe_fs.ops
    strm.merge_micro_batch(_ev(spark, update), probe_target, n_buckets=2, fs=probe_fs)
    total_ops = probe_fs.ops - ops_batch1
    assert total_ops >= 3  # >=2 bucket moves + the manifest put

    target = str(tmp_path / "gold")
    strm.merge_micro_batch(_ev(spark, seed), target, n_buckets=2, fs=mfs.LOCAL_FS)
    committed = sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    )

    import pytest

    for crash_at in range(total_ops):
        fs = mfs.NonAtomicRenameFS(fail_after_ops=crash_at)
        try:
            strm.merge_micro_batch(_ev(spark, update), target, n_buckets=2, fs=fs)
            # the injected budget outlasted the commit: batch landed whole
            landed = True
        except mfs.NonAtomicRenameFS.InjectedCrash:
            landed = False
            # a crashed writer strands its lease by design; the restart
            # breaks it after confirming the writer is dead (the TTL's
            # operator-intervention twin)
            mfs.break_writer_lease(mfs.LOCAL_FS, target)
        state = sorted(
            (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
        )
        if landed:
            assert all(eid >= 100 for _, eid in state), crash_at
        else:
            # crash after the manifest put but before GC also "lands"
            manifest_committed = {
                r for r in state if r[1] >= 100
            } == {(i, 100 + i) for i in range(6)}
            assert state == committed or manifest_committed, (crash_at, state)
        if not landed and state == committed:
            # debris from the aborted attempt is invisible; vacuum reclaims
            # it without changing the committed state
            strm.vacuum_merge_table(target, fs=mfs.NonAtomicRenameFS(), staged_grace_sec=0.0)
            assert sorted(
                (r.user_id, r.event_id)
                for r in strm.read_merged(spark, target).collect()
            ) == committed
        if landed or state != committed:
            # batch is in — reset the table to the seed state for the next
            # crash point (rebuild from scratch; cheap at this size)
            import shutil

            shutil.rmtree(target)
            strm.merge_micro_batch(_ev(spark, seed), target, n_buckets=2, fs=mfs.LOCAL_FS)

    # final clean retry on the last reset table
    strm.merge_micro_batch(_ev(spark, update), target, n_buckets=2, fs=mfs.NonAtomicRenameFS())
    final = {r.user_id: r.event_id for r in strm.read_merged(spark, target).collect()}
    assert final == {i: 100 + i for i in range(6)}


def test_merge_table_stats_reports_debris_until_vacuum(spark, tmp_path):
    """merge_table_stats: committed counts on a healthy table; a crashed
    commit surfaces as debris_versions/staging_dirs > 0; vacuum returns the
    table to a zero-debris report with committed state unchanged."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _ev(spark, [(i, 1000 + i, i, "seed", float(i)) for i in range(8)]),
        target, n_buckets=4,
    )
    healthy = strm.merge_table_stats(target)
    assert healthy["committed_buckets"] == 4
    assert healthy["live_files"] >= 4
    assert healthy["debris_versions"] == 0 and healthy["staging_dirs"] == 0

    class Boom(RuntimeError):
        pass

    def die_after_first(i, n):
        if i == 0:
            raise Boom()

    strm._after_bucket_move_hook = die_after_first
    try:
        import pytest

        with pytest.raises(Boom):
            strm.merge_micro_batch(
                _ev(spark, [(100 + i, 2000 + i, i, "update", -1.0) for i in range(8)]),
                target, n_buckets=4,
            )
    finally:
        strm._after_bucket_move_hook = None

    crashed = strm.merge_table_stats(target)
    assert crashed["debris_versions"] + crashed["staging_dirs"] > 0
    assert crashed["committed_buckets"] == 4  # committed state untouched

    strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    clean = strm.merge_table_stats(target)
    assert clean["debris_versions"] == 0 and clean["staging_dirs"] == 0
    assert clean["committed_buckets"] == 4


def test_merge_table_stats_surfaces_precommit_debris(spark, tmp_path):
    """A first commit that crashes BEFORE the manifest put leaves staging
    trees / store versions but no manifest; the stats report must surface
    them as debris rather than returning the all-zero report of a clean
    empty table (vacuum deliberately won't touch a manifest-less target,
    so stats is the only way an operator sees this state)."""
    import os

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    target = str(tmp_path / "gold")
    # crash the FIRST commit right after the first bucket move, before the
    # manifest put — fail_after_ops chosen past the staging writes' moves
    fs = mfs.NonAtomicRenameFS(fail_after_ops=2)
    import pytest

    with pytest.raises(mfs.NonAtomicRenameFS.InjectedCrash):
        strm.merge_micro_batch(
            _ev(spark, [(i, 1000 + i, i, "seed", float(i)) for i in range(8)]),
            target, n_buckets=4, fs=fs,
        )
    assert not os.path.exists(target + "/_MANIFEST.json")
    stats = strm.merge_table_stats(target)
    assert stats["committed_buckets"] == 0
    assert stats["debris_versions"] + stats["staging_dirs"] > 0  # visible!


def test_streaming_ivfpq_ingest_is_exactly_once_and_matches_batch(
    spark, sf_dir, tmp_path
):
    """Streaming ANN ingestion: a parquet-source stream feeding
    clustering.ivfpq_index_append through foreachBatch must (a) append each
    vector exactly once across a checkpointed restart, and (b) leave the
    index row-identical to a single BATCH append of the same vectors — the
    frozen quantizers (stored centroids + codebooks) make per-batch
    encoding order-independent, so continuous ingest and bulk ingest
    converge on the same index."""
    import os

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 160)
    base = emb.filter(F.col("vec_id") < 100)
    wave1 = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 130)).select(
        "vec_id", "embedding"
    )
    wave2 = emb.filter(F.col("vec_id") >= 130).select("vec_id", "embedding")

    streamed = str(tmp_path / "streamed")
    clustering.build_ivfpq_index(
        base, streamed, m=4, k=8, max_iters=2, round_decimals=6
    )
    batch_ref = str(tmp_path / "batch_ref")
    import shutil

    shutil.copytree(streamed, batch_ref)

    src_dir = str(tmp_path / "vec_stream")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "ckpt")
    wave1.coalesce(1).write.parquet(src_dir + "/wave1")

    def run_once():
        raw = (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .format("parquet")
            .option("recursiveFileLookup", "true")
            .load(src_dir)
        )
        q = (
            raw.writeStream.foreachBatch(
                lambda b, bid: clustering.ivfpq_index_append(spark, streamed, b)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    import time as _time

    _time.sleep(1.1)
    wave2.coalesce(1).write.parquet(src_dir + "/wave2")
    run_once()  # restart with the SAME checkpoint: wave1 must NOT re-append

    assert clustering.ivfpq_index_append(spark, batch_ref, wave1.union(wave2)) == 60

    for table in ("/vectors", "/codes"):
        got = sorted(tuple(r) for r in spark.read.parquet(streamed + table).collect())
        want = sorted(
            tuple(r) for r in spark.read.parquet(batch_ref + table).collect()
        )
        assert got == want, table
    # and the searchable result is identical too
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = clustering.ivfpq_topk_indexed(spark, streamed, query, k=10).collect()
    want = clustering.ivfpq_topk_indexed(spark, batch_ref, query, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_snapshot_read_rollback_and_vacuum_retention(spark, tmp_path):
    """Data versioning on the merge gold table: a snapshot pins the exact
    committed state (readable via read_merged(snapshot=...) no matter how
    many merges land after), vacuum spares snapshot-pinned versions and
    reports them distinctly from debris, rollback restores the pinned
    state with ONE atomic manifest put, and dropping the snapshot makes
    its exclusive versions reclaimable."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _ev(spark, [(1, 100, 1, "a", 1.0), (2, 200, 2, "a", 2.0)]),
        target, n_buckets=4,
    )
    state_v1 = sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    )
    strm.snapshot_merge_table(target, "train-run-1")
    # same-content re-pin is an idempotent no-op (foreachBatch replay)
    strm.snapshot_merge_table(target, "train-run-1")
    assert strm.list_snapshots(target) == ["train-run-1"]

    # two more merges advance users 1/2 and add user 3
    strm.merge_micro_batch(
        _ev(spark, [(3, 300, 1, "a", 3.0), (4, 400, 3, "a", 4.0)]),
        target, n_buckets=4,
    )
    strm.merge_micro_batch(
        _ev(spark, [(5, 500, 2, "a", 5.0)]), target, n_buckets=4
    )
    now = sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    )
    assert now == [(1, 3), (2, 5), (3, 4)]
    # re-pinning the tag NOW (state advanced => different content) refuses
    with pytest.raises(ValueError, match="different content"):
        strm.snapshot_merge_table(target, "train-run-1")
    # the pinned state is still exactly batch-1
    pinned = sorted(
        (r.user_id, r.event_id)
        for r in strm.read_merged(spark, target, snapshot="train-run-1").collect()
    )
    assert pinned == state_v1 == [(1, 1), (2, 2)]

    # vacuum spares snapshot-pinned versions; stats report them as pinned
    stats = strm.merge_table_stats(target)
    assert stats["snapshots"] == 1
    assert stats["snapshot_only_versions"] > 0
    assert stats["debris_versions"] == 0
    strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    assert sorted(
        (r.user_id, r.event_id)
        for r in strm.read_merged(spark, target, snapshot="train-run-1").collect()
    ) == state_v1

    # rollback: one atomic manifest put restores the pinned state
    strm.rollback_merge_table(target, "train-run-1")
    assert sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    ) == state_v1
    # the superseded post-snapshot versions are now unreferenced debris
    stats = strm.merge_table_stats(target)
    assert stats["debris_versions"] > 0
    removed = strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    assert removed
    assert sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    ) == state_v1

    # drop the snapshot: its pin is gone, current manifest still protects
    # the (identical) versions it references
    assert strm.drop_snapshot(target, "train-run-1")
    assert not strm.drop_snapshot(target, "train-run-1")
    assert strm.vacuum_merge_table(target, staged_grace_sec=0.0) == []
    assert sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    ) == state_v1


def test_read_changes_cdc_between_snapshots(spark, tmp_path):
    """CDC read over the merge gold table: read_changes(since, until) emits
    exactly the row-level delta between two pinned states — inserts,
    update pre/post image pairs, and (in the reverse direction) deletes —
    and reads ONLY the buckets whose committed version changed between the
    two manifests (pointer-equal buckets are skipped entirely)."""
    import os

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _ev(spark, [(1, 100, 1, "a", 1.0), (2, 200, 2, "a", 2.0),
                    (3, 300, 3, "a", 3.0)]),
        target, n_buckets=8,
    )
    strm.snapshot_merge_table(target, "v1")
    # user 2 advances, user 4 appears, user 3 is REWRITTEN IDENTICALLY
    # (same winning event — its bucket version changes, its row does not)
    strm.merge_micro_batch(
        _ev(spark, [(5, 500, 2, "b", 5.0), (6, 600, 4, "c", 6.0),
                    (3, 300, 3, "a", 3.0)]),
        target, n_buckets=8,
    )
    strm.snapshot_merge_table(target, "v2")

    def _rows(df):
        return sorted(
            (r.user_id, r._change_type, r.event_id, r.last_event_type, r.last_value)
            for r in df.collect()
        )

    want_fwd = [
        (2, "update_postimage", 5, "b", 5.0),
        (2, "update_preimage", 2, "a", 2.0),
        (4, "insert", 6, "c", 6.0),
    ]
    fwd = strm.read_changes(spark, target, since="v1", until="v2")
    assert _rows(fwd) == want_fwd
    # until=None diffs against the CURRENT committed state (== v2 here)
    assert _rows(strm.read_changes(spark, target, since="v1")) == want_fwd

    # reverse direction: what a rollback v2->v1 would undo
    assert _rows(strm.read_changes(spark, target, since="v2", until="v1")) == [
        (2, "update_postimage", 2, "a", 2.0),
        (2, "update_preimage", 5, "b", 5.0),
        (4, "delete", 6, "c", 6.0),
    ]

    # bucket pruning: the plan's input files touch only buckets whose
    # version differs between the v1 and v2 manifests
    m1 = strm._load_snapshot(target, "v1")["buckets"]
    m2 = strm._load_snapshot(target, "v2")["buckets"]
    changed = {b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)}
    allowed = {os.path.normpath(os.path.join(target, m[b]))
               for m in (m1, m2) for b in changed if b in m}
    got_dirs = {
        os.path.normpath(os.path.dirname(f.removeprefix("file:")))
        for f in fwd.inputFiles()
    }
    assert got_dirs and got_dirs <= allowed
    # user 3's bucket DID change version (identical rewrite) yet emits no
    # change row — content equality, not pointer equality, decides
    assert all(u != 3 for (u, *_rest) in _rows(fwd))

    # identical endpoints -> empty diff, schema intact
    same = strm.read_changes(spark, target, since="v2", until="v2")
    assert same.count() == 0
    assert same.columns[-1] == "_change_type"


def test_generic_merge_table_params_guard_and_cdc(spark, tmp_path):
    """merge_table is schema-generic: a documents gold table keyed by
    doc_id merges/snapshots/CDCs exactly like the events one; the manifest
    pins (keys, order_cols, n_buckets) at first commit and a later merge
    with different parameters raises instead of mis-routing rows."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    target = str(tmp_path / "docs_gold")
    docs = spark.createDataFrame(
        [(1, "alpha", "web"), (2, "beta", "web"), (3, "gamma", "book")],
        "doc_id long, text string, source string",
    )
    strm.merge_table(docs, target, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=4)
    assert strm._load_manifest(target)["params"] == {
        "keys": ["doc_id"], "order_cols": ["doc_id"], "n_buckets": 4,
    }
    strm.snapshot_merge_table(target, "base")

    # different n_buckets / keys / order_cols all refuse; table untouched
    more = spark.createDataFrame(
        [(4, "delta", "web"), (2, "beta v2", "web")],
        "doc_id long, text string, source string",
    )
    for kw in ({"n_buckets": 8}, {"keys": ["source"]},
               {"order_cols": ["source"]}):
        args = {"keys": ["doc_id"], "order_cols": ["doc_id"], "n_buckets": 4}
        args.update(kw)
        with pytest.raises(ValueError, match="pinned"):
            strm.merge_table(more, target, **args)
    assert strm.read_merged(spark, target).count() == 3

    # matching params merge fine; CDC defaults its keys from the sidecar
    strm.merge_table(more, target, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=4)
    ch = sorted(
        (r.doc_id, r._change_type, r.text)
        for r in strm.read_changes(spark, target, since="base").collect()
    )
    assert ch == [
        (2, "update_postimage", "beta v2"),
        (2, "update_preimage", "beta"),
        (4, "insert", "delta"),
    ]

    # the lease serializes the param pin itself
    mfs.acquire_writer_lease(mfs.LOCAL_FS, target, owner="other")
    with pytest.raises(mfs.ConcurrentWriterError):
        strm.merge_table(more, target, keys=["doc_id"], order_cols=["doc_id"],
                         n_buckets=4)
    mfs.release_writer_lease(mfs.LOCAL_FS, target, "other")


def test_merge_table_schema_evolution(spark, tmp_path):
    """Adding a column in a later batch evolves the table: the manifest
    records the schema as of each commit, so current reads null-fill the
    new column for buckets whose files predate it, a snapshot's time-travel
    read keeps its AS-OF schema (no new column), CDC across the evolution
    emits the until-side schema with typed nulls in pre-evolution images,
    and a same-named column changing TYPE refuses loudly."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "docs_gold")
    v1 = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(8)], "doc_id long, text string"
    )
    strm.merge_table(v1, target, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=4)
    strm.snapshot_merge_table(target, "v1")

    # evolved batch: updates doc 1, inserts doc 99, adds `quality`
    v2 = spark.createDataFrame(
        [(1, "text-1 v2", 0.9), (99, "fresh", 0.5)],
        "doc_id long, text string, quality double",
    )
    strm.merge_table(v2, target, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=4)

    cur = strm.read_merged(spark, target)
    assert "quality" in cur.columns
    got = {r.doc_id: (r.text, r.quality) for r in cur.collect()}
    assert got[1] == ("text-1 v2", 0.9) and got[99] == ("fresh", 0.5)
    # rows in buckets NEVER rewritten since evolution still read, null-filled
    assert len(got) == 9 and got[5] == ("text-5", None)

    # the pinned snapshot keeps its as-of schema: no quality column at all
    pinned = strm.read_merged(spark, target, snapshot="v1")
    assert "quality" not in pinned.columns
    assert pinned.count() == 8

    # CDC across the evolution: until-side schema, typed nulls in preimages
    ch = {(r.doc_id, r._change_type): (r.text, r.quality)
          for r in strm.read_changes(spark, target, since="v1").collect()}
    assert ch == {
        (1, "update_preimage"): ("text-1", None),
        (1, "update_postimage"): ("text-1 v2", 0.9),
        (99, "insert"): ("fresh", 0.5),
    }

    # retyping an existing column refuses before any write
    bad = spark.createDataFrame([(2, 123, 0.1)],
                                "doc_id long, text long, quality double")
    with pytest.raises(ValueError, match="changes type"):
        strm.merge_table(bad, target, keys=["doc_id"], order_cols=["doc_id"],
                         n_buckets=4)
    assert {r.doc_id: r.text for r in strm.read_merged(spark, target).collect()}[2] == "text-2"


def test_rebucket_merge_table(spark, tmp_path):
    """rebucket_merge_table re-spreads the whole table to a new bucket
    count in ONE atomic commit: content identical, pinned params updated
    (so the old n_buckets now refuses to merge and the new one works),
    snapshot-pinned versions survive with their OLD bucketing, CDC across
    the rebucket is an empty delta (content equality, not pointer
    equality), and rollback restores bucketing wholesale."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    target = str(tmp_path / "docs_gold")
    docs = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(16)], "doc_id long, text string"
    )
    strm.merge_table(docs, target, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=2)
    strm.snapshot_merge_table(target, "pre")
    before = sorted((r.doc_id, r.text) for r in strm.read_merged(spark, target).collect())

    m = strm.rebucket_merge_table(spark, target, 8)
    assert m["params"]["n_buckets"] == 8
    assert len(m["buckets"]) > 2  # actually spread wider
    assert sorted(
        (r.doc_id, r.text) for r in strm.read_merged(spark, target).collect()
    ) == before

    # old bucketing refuses, new works; no-op rebucket returns the manifest
    more = spark.createDataFrame([(99, "fresh")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pinned"):
        strm.merge_table(more, target, keys=["doc_id"], order_cols=["doc_id"],
                         n_buckets=2)
    assert strm.rebucket_merge_table(spark, target, 8)["params"]["n_buckets"] == 8

    # CDC pre -> post-rebucket: every bucket changed, zero rows changed
    assert strm.read_changes(spark, target, since="pre").count() == 0

    strm.merge_table(more, target, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=8)
    assert strm.read_merged(spark, target).count() == 17

    # the pinned snapshot still reads through its OLD bucket map
    assert strm.read_merged(spark, target, snapshot="pre").count() == 16

    # rollback restores the old bucketing wholesale: n_buckets=2 merges again
    strm.rollback_merge_table(target, "pre")
    assert strm._load_manifest(target)["params"]["n_buckets"] == 2
    strm.merge_table(more, target, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=2)
    assert strm.read_merged(spark, target).count() == 17

    # writer op: a held lease refuses the rebucket
    mfs.acquire_writer_lease(mfs.LOCAL_FS, target, owner="other")
    with pytest.raises(mfs.ConcurrentWriterError):
        strm.rebucket_merge_table(spark, target, 4)
    mfs.release_writer_lease(mfs.LOCAL_FS, target, "other")


def test_merge_preserves_evolved_schema_and_guards_edge_cases(spark, tmp_path):
    """Code-review r7 regressions: (1) a batch touching only UNCOMMITTED
    buckets must not narrow the committed schema (the empty `current` is
    built from manifest['schema'], not the batch); the retype guard holds
    on that path too; (2) n_buckets < 1 refuses up front in merge and
    rebucket (pmod(x, 0) is NULL with ANSI off — it would stage nothing
    and commit/GC data away); (3) nullability — top-level or nested
    (ArrayType.containsNull) — is normalized out of the retype guard."""
    import pytest
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType,
    )

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    mk = lambda rows, schema: spark.createDataFrame(rows, schema)
    args = {"keys": ["doc_id"], "order_cols": ["doc_id"], "n_buckets": 64}

    strm.merge_table(mk([(1, "one")], "doc_id long, text string"),
                     target, **args)
    # evolution adds `quality`
    strm.merge_table(
        mk([(2, "two", 0.5)], "doc_id long, text string, quality double"),
        target, **args)
    # a batch WITHOUT quality whose key lands in a fresh bucket: schema kept
    for k in range(3, 200):
        bucket = spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(k).cast("long")), F.lit(64)).alias("b")
        ).first()["b"]
        committed = set(strm._load_manifest(target)["buckets"])
        if str(bucket) not in committed:
            break
    strm.merge_table(mk([(k, "fresh")], "doc_id long, text string"),
                     target, **args)
    cur = {r.doc_id: r.quality for r in strm.read_merged(spark, target).collect()}
    assert cur == {1: None, 2: 0.5, k: None}  # quality survived table-wide

    # retype via an uncommitted bucket must STILL refuse
    with pytest.raises(ValueError, match="changes type"):
        strm.merge_table(mk([(k + 1000, 7)], "doc_id long, text long"),
                         target, **args)

    # n_buckets < 1 refuses before any I/O
    with pytest.raises(ValueError, match="n_buckets"):
        strm.merge_table(mk([(9, "x")], "doc_id long, text string"),
                         target, keys=["doc_id"], order_cols=["doc_id"],
                         n_buckets=0)
    with pytest.raises(ValueError, match="n_buckets"):
        strm.rebucket_merge_table(spark, target, 0)
    assert strm.read_merged(spark, target).count() == 3

    # nested nullability differences are NOT a retype
    t2 = str(tmp_path / "gold2")
    s_nonnull = StructType([
        StructField("doc_id", LongType(), True),
        StructField("tags", ArrayType(LongType(), False), True),
    ])
    s_null = StructType([
        StructField("doc_id", LongType(), True),
        StructField("tags", ArrayType(LongType(), True), True),
    ])
    strm.merge_table(spark.createDataFrame([(1, [1, 2])], s_nonnull), t2, **args)
    strm.merge_table(spark.createDataFrame([(2, [3])], s_null), t2, **args)
    got = {r.doc_id: list(r.tags) for r in strm.read_merged(spark, t2).collect()}
    assert got == {1: [1, 2], 2: [3]}


def test_streaming_cdc_consumer_loop(spark, tmp_path):
    """The end-to-end incremental pipeline: a streaming foreachBatch merge
    pins a snapshot AFTER each micro-batch commit; a downstream consumer
    walks consecutive snapshot pairs with read_changes and folds the
    deltas over the first pinned state — the folded state must equal the
    final table exactly (the exactly-once incremental-consumer contract:
    nothing seen twice, nothing missed, pre-images ignorable)."""
    import glob

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    src_dir = tempfile.mkdtemp(prefix="cdc_loop_")
    # three micro-batches, event-time ordered (the merge contract)
    _write_events(os.path.join(src_dir, "part-001.parquet"),
                  [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 10:05:00", 2)])
    time.sleep(1.1)
    _write_events(os.path.join(src_dir, "part-002.parquet"),
                  [(3, "2024-01-01 11:00:00", 1), (4, "2024-01-01 11:05:00", 3)])
    time.sleep(1.1)
    _write_events(os.path.join(src_dir, "part-003.parquet"),
                  [(5, "2024-01-01 12:00:00", 2), (6, "2024-01-01 12:05:00", 4)])

    target = str(tmp_path / "gold")

    def merge_and_pin(batch, batch_id):
        strm.merge_micro_batch(batch, target, n_buckets=4)
        # batch_id-derived tag under at-least-once foreachBatch: the
        # replay-safe mode (first pin authoritative — ADVICE r7)
        strm.snapshot_merge_table(target, f"b{batch_id:03d}",
                                  if_exists="return_existing")

    raw = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src_dir)
    )
    q = (
        raw.writeStream.foreachBatch(merge_and_pin)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    tags = strm.list_snapshots(target)
    assert tags == ["b000", "b001", "b002"]

    # consumer: first pinned state, then fold each consecutive delta
    def key(r):
        return r.user_id

    state = {
        key(r): (r.last_event_type, r.last_value, r.event_id)
        for r in strm.read_merged(spark, target, snapshot=tags[0]).collect()
    }
    seen_changes = 0
    for a, b in zip(tags, tags[1:]):
        for r in strm.read_changes(spark, target, since=a, until=b).collect():
            seen_changes += 1
            if r._change_type in ("insert", "update_postimage"):
                state[key(r)] = (r.last_event_type, r.last_value, r.event_id)
            elif r._change_type == "delete":
                state.pop(key(r))
    assert seen_changes > 0

    final = {
        key(r): (r.last_event_type, r.last_value, r.event_id)
        for r in strm.read_merged(spark, target).collect()
    }
    assert state == final and set(final) == {1, 2, 3, 4}
    # the deltas were genuinely incremental: batch 2's diff touched only
    # the buckets of users 2 and 4
    m1 = strm._load_snapshot(target, "b001")["buckets"]
    m2 = strm._load_snapshot(target, "b002")["buckets"]
    changed = {b for b in set(m1) | set(m2) if m1.get(b) != m2.get(b)}
    want = {
        str(spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(u).cast("long")), F.lit(4)).alias("b")
        ).first()["b"])
        for u in (2, 4)
    }
    assert changed == want


def test_rebucket_crash_at_every_op_never_tears(spark, tmp_path):
    """rebucket_merge_table under crash injection at EVERY mutating fs op
    (S3 semantics): readers see exactly the old bucketing or the new one —
    same rows either way, never torn; pre-commit debris is invisible and
    vacuum-reclaimable; a retry after any rollback lands the rebucket."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    def build(target, fs=mfs.LOCAL_FS):
        docs = spark.createDataFrame(
            [(i, f"text-{i}") for i in range(12)], "doc_id long, text string"
        )
        strm.merge_table(docs, target, keys=["doc_id"], order_cols=["doc_id"],
                         n_buckets=2, fs=fs)

    def rows(target):
        return sorted(
            (r.doc_id, r.text) for r in strm.read_merged(spark, target).collect()
        )

    # op budget for a full rebucket
    probe = str(tmp_path / "probe")
    probe_fs = mfs.NonAtomicRenameFS()
    build(probe, probe_fs)
    ops_build = probe_fs.ops
    strm.rebucket_merge_table(spark, probe, 8, fs=probe_fs)
    total_ops = probe_fs.ops - ops_build
    assert total_ops >= 3
    want = rows(probe)
    assert strm._load_manifest(probe)["params"]["n_buckets"] == 8

    for crash_at in range(total_ops):
        target = str(tmp_path / f"run{crash_at}")
        build(target)
        fs = mfs.NonAtomicRenameFS(fail_after_ops=crash_at)
        try:
            strm.rebucket_merge_table(spark, target, 8, fs=fs)
        except mfs.NonAtomicRenameFS.InjectedCrash:
            mfs.break_writer_lease(mfs.LOCAL_FS, target)
        # rows identical under EITHER bucketing at every crash point
        assert rows(target) == want, crash_at
        n_now = strm._load_manifest(target)["params"]["n_buckets"]
        assert n_now in (2, 8), crash_at
        if n_now == 2:
            # rolled back: debris (staged dirs / moved-but-unreferenced
            # versions) is invisible; vacuum reclaims it, then retry lands
            strm.vacuum_merge_table(target, staged_grace_sec=0.0)
            assert rows(target) == want
            strm.rebucket_merge_table(spark, target, 8)
            assert strm._load_manifest(target)["params"]["n_buckets"] == 8
            assert rows(target) == want


def test_optimize_crash_at_every_op_never_tears(spark, tmp_path):
    """optimize_merge_table under crash injection at EVERY mutating fs op
    (S3 semantics): the rows never change, and the manifest names either
    the old layout (old versions, no file stats) or the new one (new
    versions, each with file stats for its own files) — never a mix. A
    grace-less vacuum then reclaims the debris and a re-run lands the new
    layout."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    def build(target, fs=mfs.LOCAL_FS):
        docs = spark.createDataFrame(
            [(i, f"text-{i}", float(i % 7)) for i in range(16)],
            "doc_id long, text string, score double",
        )
        strm.merge_table(docs, target, keys=["doc_id"], order_cols=["doc_id"],
                         n_buckets=2, fs=fs)

    def optimize(target, fs=mfs.LOCAL_FS):
        strm.optimize_merge_table(spark, target, cluster_by="score",
                                  cluster_files=2, fs=fs)

    def rows(target):
        return sorted(
            (r.doc_id, r.text, r.score)
            for r in strm.read_merged(spark, target).collect()
        )

    def is_new_layout(before, after):
        fst = after.get("filestats") or {}
        return (
            set(after["buckets"]) == set(before["buckets"])
            and all(after["buckets"][b] != before["buckets"][b] for b in before["buckets"])
            and set(fst) == set(after["buckets"])
            and all(fst[b]["rel"] == after["buckets"][b] and fst[b]["col"] == "score"
                    for b in fst)
        )

    # op budget for a full optimize
    probe = str(tmp_path / "probe")
    probe_fs = mfs.NonAtomicRenameFS()
    build(probe, probe_fs)
    ops_build = probe_fs.ops
    optimize(probe, probe_fs)
    total_ops = probe_fs.ops - ops_build
    assert total_ops >= 3
    want = rows(probe)

    for crash_at in range(total_ops):
        target = str(tmp_path / f"run{crash_at}")
        build(target)
        before = strm._load_manifest(target)
        try:
            optimize(target, mfs.NonAtomicRenameFS(fail_after_ops=crash_at))
        except mfs.NonAtomicRenameFS.InjectedCrash:
            mfs.break_writer_lease(mfs.LOCAL_FS, target)
        assert rows(target) == want, crash_at
        after = strm._load_manifest(target)
        landed = is_new_layout(before, after)
        assert landed or after == before, crash_at
        strm.vacuum_merge_table(target, staged_grace_sec=0.0)
        assert rows(target) == want, crash_at
        if not landed:
            optimize(target)
            assert is_new_layout(before, strm._load_manifest(target)), crash_at
            assert rows(target) == want, crash_at
        stats = strm.merge_table_stats(target)
        assert stats["debris_versions"] == stats["staging_dirs"] == 0, crash_at


def test_snapshot_repin_replay_safe_mode(spark, tmp_path):
    """ADVICE r7: a foreachBatch merge-then-pin batch replayed by the
    at-least-once contract re-merges the same rows under FRESH version
    uuids, so the re-pin sees a manifest whose pointers differ from the
    stored snapshot. if_exists='return_existing' treats the FIRST pin as
    authoritative and converges; the default mode still loses loudly; a
    structurally different generation raises in BOTH modes."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    batch = [(1, 100, 1, "a", 1.0), (2, 200, 2, "a", 2.0)]
    strm.merge_micro_batch(_ev(spark, batch), target, n_buckets=4)
    pinned = strm.snapshot_merge_table(target, "b000", if_exists="return_existing")

    # replay: identical batch re-merges -> fresh version uuids, same rows
    strm.merge_micro_batch(_ev(spark, batch), target, n_buckets=4)
    assert strm._load_manifest(target) != pinned  # pointers really moved

    # default mode wedges exactly as the advisory described...
    with pytest.raises(ValueError, match="different content"):
        strm.snapshot_merge_table(target, "b000")
    # ...the replay-safe mode returns the authoritative first pin
    again = strm.snapshot_merge_table(target, "b000", if_exists="return_existing")
    assert again == pinned
    # and the pinned state stays readable with the original content
    got = sorted(
        (r.user_id, r.event_id)
        for r in strm.read_merged(spark, target, snapshot="b000").collect()
    )
    assert got == [(1, 1), (2, 2)]

    # a structurally different state (new bucket committed) is tag misuse
    strm.merge_micro_batch(
        _ev(spark, [(9, 900, 7, "a", 9.0)]), target, n_buckets=4
    )
    if set(strm._load_manifest(target)["buckets"]) != set(pinned["buckets"]):
        with pytest.raises(ValueError, match="different table generation"):
            strm.snapshot_merge_table(target, "b000", if_exists="return_existing")


def test_vacuum_and_stats_tolerate_concurrent_snapshot_drop(spark, tmp_path, monkeypatch):
    """ADVICE r7: drop_snapshot is lease-free, so a tag can vanish between
    list_snapshots and its read. vacuum/stats/GC must skip it, not crash."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _ev(spark, [(1, 100, 1, "a", 1.0)]), target, n_buckets=2
    )
    strm.snapshot_merge_table(target, "keep")

    real_list = strm.list_snapshots

    def ghost_list(t, fs=strm.merge_fs.LOCAL_FS):
        # a tag that was listed but dropped before the read
        return real_list(t, fs) + ["ghost"]

    monkeypatch.setattr(strm, "list_snapshots", ghost_list)
    # none of these may raise on the vanished tag
    strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    stats = strm.merge_table_stats(target)
    assert stats["snapshots"] == 2  # the listing still counted the ghost
    strm.merge_micro_batch(  # _merge_locked's GC pin loop
        _ev(spark, [(2, 200, 1, "a", 2.0)]), target, n_buckets=2
    )
    strm.rebucket_merge_table(spark, target, 4)  # rebucket's GC pin loop
    assert strm.read_merged(spark, target).count() == 1


def test_cdc_index_refresh_equals_direct_append_and_survives_crash(spark, sf_dir, tmp_path):
    """VERDICT r7 item 3 — the CDC -> ANN-index-refresh production loop:
    feeding ivfpq_index_append from read_changes(base) must land the index
    in EXACTLY the state of a direct bulk append of the same increment
    (CDC is discovery, not transformation), the refreshed rows must be
    searchable, and a crash mid-CDC-append heals through the existing
    recover + re-append path to the same final state."""
    import shutil

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as io_mod
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    emb = io_mod.load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 160
    ).select("vec_id", "embedding", "label")
    base = emb.filter(F.col("vec_id") % 16 != 0)
    inc = emb.filter(F.col("vec_id") % 16 == 0)

    target = str(tmp_path / "corpus")
    strm.merge_table(base, target, keys=["vec_id"], order_cols=["vec_id"])
    strm.snapshot_merge_table(target, "base")
    pristine = str(tmp_path / "index")
    clustering.build_ivfpq_index(
        strm.read_merged(spark, target, snapshot="base").select(
            "vec_id", "embedding", "label"
        ),
        pristine, m=4, k=8, max_iters=2, round_decimals=6,
    )
    strm.merge_table(inc, target, keys=["vec_id"], order_cols=["vec_id"])
    cdc = strm.read_changes(spark, target, since="base")
    # the diff of an insert-only increment is pure inserts
    assert cdc.filter(F.col("_change_type") != "insert").count() == 0
    changed = cdc.filter(F.col("_change_type") == "insert").select(
        "vec_id", "embedding"
    )
    n_inc = inc.count()
    # the O(delta) commit-log reader discovers the identical insert set
    log_changed = strm.read_commit_changes(spark, target, since="base").filter(
        F.col("_change_type") == "insert"
    ).select("vec_id", "embedding")
    assert sorted(
        (r.vec_id, tuple(r.embedding)) for r in log_changed.collect()
    ) == sorted((r.vec_id, tuple(r.embedding)) for r in changed.collect())

    # CDC-fed refresh == direct bulk append of the same increment
    refreshed = str(tmp_path / "refreshed")
    shutil.copytree(pristine, refreshed)
    assert clustering.ivfpq_index_append(spark, refreshed, changed) == n_inc
    direct = str(tmp_path / "direct")
    shutil.copytree(pristine, direct)
    assert clustering.ivfpq_index_append(
        spark, direct, inc.select("vec_id", "embedding")
    ) == n_inc

    def rows(path, table):
        return sorted(tuple(r) for r in spark.read.parquet(path + table).collect())

    for table in ("/vectors", "/codes"):
        assert rows(refreshed, table) == rows(direct, table), table

    # the refreshed rows are searchable: vec_id 0 arrived via CDC and is
    # its own nearest neighbor
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = clustering.ivfpq_topk_indexed(
        spark, refreshed, query, k=10, n_probe=2, refine=4
    ).collect()
    assert got[0]["vec_id"] == 0 and abs(got[0]["cos_sim"] - 1.0) < 1e-6
    assert [tuple(r) for r in got] == [
        tuple(r)
        for r in clustering.ivfpq_topk_indexed(
            spark, direct, query, k=10, n_probe=2, refine=4
        ).collect()
    ]

    # one crash point mid-CDC-append (the full per-op sweep lives in
    # tests/test_index_append_crash.py): recover, re-append the SAME CDC
    # read, converge on the identical final state
    crashed = str(tmp_path / "crashed")
    shutil.copytree(pristine, crashed)
    fs = mfs.NonAtomicRenameFS(fail_after_ops=2)
    try:
        clustering.ivfpq_index_append(spark, crashed, changed, fs=fs)
        crashed_mid = False
    except mfs.NonAtomicRenameFS.InjectedCrash:
        crashed_mid = True
        mfs.break_writer_lease(mfs.LOCAL_FS, crashed)
    assert crashed_mid
    ic.recover(ic.store("ivfpq", crashed))
    if rows(crashed, "/vectors") != rows(direct, "/vectors"):
        assert clustering.ivfpq_index_append(spark, crashed, changed) == n_inc
    for table in ("/vectors", "/codes"):
        assert rows(crashed, table) == rows(direct, table), table


def test_delete_from_merge_table_modes_pins_and_crash(spark, tmp_path):
    """X-9h (r8): DELETE on the merge gold table. Keys-mode touches only
    the keys' buckets (untouched buckets keep their exact files);
    predicate-mode rewrites only buckets containing matches; an emptied
    bucket leaves the manifest; the pre-delete snapshot still time-travels
    to the full state; CDC reports the removals as deletes; a crash before
    the manifest put leaves the table intact."""
    import glob
    import os

    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    target = str(tmp_path / "gold")
    # 32 users across 8 buckets, value == user_id for predicate targeting
    strm.merge_micro_batch(
        _ev(spark, [(i, 1000 + i, i, "seed", float(i)) for i in range(32)]),
        target, n_buckets=8,
    )
    strm.snapshot_merge_table(target, "pre")

    def files():
        out = {}
        for p in glob.glob(target + "/store/*/*/*.parquet"):
            b = p.split("/store/")[1].split("/")[0]
            out.setdefault(b, set()).add(os.path.relpath(p, target))
        return out

    before = files()

    # exactly one of keys/predicate
    with pytest.raises(ValueError, match="exactly one"):
        strm.delete_from_merge_table(spark, target)

    # keys-mode: remove user 3 — only its bucket gets a new version
    k = spark.createDataFrame([(3,)], "user_id long")
    assert strm.delete_from_merge_table(spark, target, keys=k) == 1
    after = files()
    user3_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(3).cast("long")), F.lit(8)).cast("string").alias("b")
    ).first()["b"]
    assert {b for b in before if before[b] != after.get(b)} == {user3_bucket}
    assert strm.read_merged(spark, target).filter("user_id = 3").count() == 0
    # absent keys: no-op
    assert strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(999,)], "user_id long")
    ) == 0

    # predicate-mode: pruning pass rewrites only buckets WITH matches
    before2 = files()
    n = strm.delete_from_merge_table(
        spark, target, predicate="last_value >= 28"
    )
    assert n == 4  # users 28..31
    after2 = files()
    hit_buckets = {
        r["b"]
        for r in spark.createDataFrame([(u,) for u in (28, 29, 30, 31)], "u long")
        .select(F.pmod(F.xxhash64(F.col("u")), F.lit(8)).cast("string").alias("b"))
        .collect()
    }
    assert {b for b in before2 if before2[b] != after2.get(b)} == hit_buckets

    # empty a whole bucket: its manifest entry disappears
    bucket0_users = [
        u for u in range(32)
        if spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(u).cast("long")), F.lit(8)).alias("b")
        ).first()["b"] == int(user3_bucket) and u != 3 and u < 28
    ]
    strm.delete_from_merge_table(
        spark, target,
        keys=spark.createDataFrame([(u,) for u in bucket0_users], "user_id long"),
    )
    assert user3_bucket not in strm._load_manifest(target)["buckets"]

    # time travel: the 'pre' snapshot still reads the FULL original state
    assert strm.read_merged(spark, target, snapshot="pre").count() == 32
    # CDC: everything removed so far surfaces as deletes
    ch = strm.read_changes(spark, target, since="pre")
    assert ch.filter("_change_type <> 'delete'").count() == 0
    assert ch.count() == 1 + 4 + len(bucket0_users)

    # crash before the manifest put: committed state untouched, debris
    # invisible, vacuum reclaims
    state = sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    )
    fs = mfs.NonAtomicRenameFS(fail_after_ops=1)
    with pytest.raises(mfs.NonAtomicRenameFS.InjectedCrash):
        strm.delete_from_merge_table(
            spark, target, predicate="last_value >= 0", fs=fs
        )
    mfs.break_writer_lease(mfs.LOCAL_FS, target)
    assert sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    ) == state
    strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    assert sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    ) == state


def test_commit_log_cdc_o_delta_reads(spark, tmp_path):
    """r8 commit-log CDC: every merge/delete captures its change rows at
    commit time; read_commit_changes walks the chain between two pinned
    states and unions ONLY those deltas — per-commit granularity (a key
    updated twice appears in both commits, unlike the compacted state
    diff), rebucket is a walkable no-op, a rollback that rewinds lineage
    fails loudly, retention vacuum drops aged deltas (walk fails loudly,
    state diff still works), and compacting the log reproduces the state
    diff exactly."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _ev(spark, [(1, 100, 1, "a", 1.0), (2, 200, 2, "a", 2.0)]),
        target, n_buckets=4,
    )
    strm.snapshot_merge_table(target, "s1")
    # commit A: update user 1, insert user 3
    strm.merge_micro_batch(
        _ev(spark, [(3, 300, 1, "b", 3.0), (4, 400, 3, "a", 4.0)]),
        target, n_buckets=4,
    )
    # commit B: update user 1 AGAIN (per-commit granularity shows both)
    strm.merge_micro_batch(
        _ev(spark, [(5, 500, 1, "c", 5.0)]), target, n_buckets=4
    )
    # commit C: delete user 2
    strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(2,)], "user_id long")
    )

    log = strm.read_commit_changes(spark, target, since="s1")
    got = sorted(
        (r._commit_seq, r.user_id, r._change_type, r.event_id)
        for r in log.collect()
    )
    assert got == [
        (1, 1, "update_postimage", 3),
        (1, 1, "update_preimage", 1),
        (1, 3, "insert", 4),
        (2, 1, "update_postimage", 5),
        (2, 1, "update_preimage", 3),
        (3, 2, "delete", 2),
    ]

    # compacting the log == the state diff (net semantics recovered from
    # per-commit granularity: last post/insert per key wins, first
    # pre/delete per key is the preimage; user 1's intermediate event 3
    # must vanish)
    from pyspark.sql import Window

    post = log.filter(F.col("_change_type").isin("insert", "update_postimage"))
    pre = log.filter(F.col("_change_type").isin("delete", "update_preimage"))
    w_last = Window.partitionBy("user_id").orderBy(F.col("_commit_seq").desc())
    w_first = Window.partitionBy("user_id").orderBy(F.col("_commit_seq").asc())
    compacted = (
        post.withColumn("__rn", F.row_number().over(w_last)).filter("__rn = 1")
        .unionByName(
            pre.withColumn("__rn", F.row_number().over(w_first)).filter("__rn = 1")
        )
        .drop("__rn", "_commit_seq", "_commit_ts")
    )
    # ...minus keys whose first pre and last post cancel (none here) —
    # compare against the engine's own state diff
    diff = strm.read_changes(spark, target, since="s1")
    assert sorted(tuple(r) for r in compacted.collect()) == sorted(
        tuple(r) for r in diff.collect()
    )

    # rebucket: content no-op, chain stays walkable, rows unchanged
    strm.rebucket_merge_table(spark, target, 8)
    assert sorted(
        (r._commit_seq, r.user_id, r._change_type, r.event_id)
        for r in strm.read_commit_changes(spark, target, since="s1").collect()
    ) == got

    strm.snapshot_merge_table(target, "s2")
    # rollback rewinds lineage: s2 is no longer an ancestor of current
    strm.rollback_merge_table(target, "s1")
    with pytest.raises(ValueError, match="not an ancestor|broken"):
        strm.read_commit_changes(spark, target, since="s2")
    # ...while rolling back exactly TO `since` is a correct empty diff
    assert strm.read_commit_changes(spark, target, since="s1").count() == 0

    # roll forward again, then retention-vacuum the log
    strm.rollback_merge_table(target, "s2")
    strm.merge_micro_batch(
        _ev(spark, [(9, 900, 9, "z", 9.0)]), target, n_buckets=8
    )
    strm.vacuum_merge_table(target, changes_keep=1, staged_grace_sec=0.0)
    assert strm.merge_table_stats(target)["commit_deltas"] == 1
    with pytest.raises(ValueError, match="broken"):
        strm.read_commit_changes(spark, target, since="s1")
    # the state diff is unaffected by log retention
    assert strm.read_changes(spark, target, since="s1").count() > 0


def test_rollback_captures_synthetic_delta(spark, tmp_path):
    """r9 (VERDICT r8 item 3): rollback_merge_table(spark=...) captures
    the state diff between the rolled-back and restored states as a
    kind='rollback' commit, so the chain stays walkable across the
    rollback — read_commit_changes(since=<pre-rollback tag>) succeeds and
    its compacted net equals read_changes over the same range (instead of
    failing over to the O(table) state diff exactly when an operator is
    recovering from a bad write). Legacy no-spark rollback keeps the
    loud-failure lineage rewind."""
    from pyspark.sql import Window

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _ev(spark, [(1, 100, 1, "a", 1.0), (2, 200, 2, "a", 2.0)]),
        target, n_buckets=4,
    )
    strm.snapshot_merge_table(target, "good")
    # bad write: update user 1, insert user 3, then delete user 2
    strm.merge_micro_batch(
        _ev(spark, [(3, 300, 1, "b", 3.0), (4, 400, 3, "a", 4.0)]),
        target, n_buckets=4,
    )
    strm.snapshot_merge_table(target, "bad")
    strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(2,)], "user_id long")
    )

    # rollback WITH capture: chain stays walkable from the pre-bad tag
    strm.rollback_merge_table(target, "good", spark=spark)
    log = strm.read_commit_changes(spark, target, since="good")
    assert log.count() > 0  # per-commit history: bad commits + synthetic
    # the synthetic rollback delta restores user 2 (insert) and reverts
    # user 1 to its pre-bad image; net over the whole range must be empty
    post = log.filter(F.col("_change_type").isin("insert", "update_postimage"))
    pre = log.filter(F.col("_change_type").isin("delete", "update_preimage"))
    w_last = Window.partitionBy("user_id").orderBy(F.col("_commit_seq").desc())
    w_first = Window.partitionBy("user_id").orderBy(F.col("_commit_seq").asc())
    last_post = (
        post.withColumn("__rn", F.row_number().over(w_last))
        .filter("__rn = 1").drop("__rn", "_commit_seq", "_commit_ts")
    )
    first_pre = (
        pre.withColumn("__rn", F.row_number().over(w_first))
        .filter("__rn = 1").drop("__rn", "_commit_seq", "_commit_ts")
    )
    # keys whose first-pre row EQUALS their last-post row (modulo the
    # change-type tag) cancelled out: with the synthetic delta, EVERY key
    # cancels (the range starts and ends at the same state)
    lp = {tuple(r) for r in last_post.drop("_change_type").collect()}
    fp = {tuple(r) for r in first_pre.drop("_change_type").collect()}
    assert lp == fp and len(lp) > 0
    # ...which is exactly what the state diff says (empty)
    assert strm.read_changes(spark, target, since="good").count() == 0

    # from the mid-range tag: compacted net == state diff (non-empty here)
    log2 = strm.read_commit_changes(spark, target, since="bad")
    assert log2.count() > 0
    diff2 = strm.read_changes(spark, target, since="bad")
    cols = diff2.columns  # shared column order for row comparison
    lp2 = (
        log2.filter(F.col("_change_type").isin("insert", "update_postimage"))
        .withColumn("__rn", F.row_number().over(w_last))
        .filter("__rn = 1").select(*cols)
    )
    fp2 = (
        log2.filter(F.col("_change_type").isin("delete", "update_preimage"))
        .withColumn("__rn", F.row_number().over(w_first))
        .filter("__rn = 1").select(*cols)
    )
    i_ct = cols.index("_change_type")
    i_uid = cols.index("user_id")
    lpd = {t[i_uid]: t for t in (tuple(r) for r in lp2.collect())}
    fpd = {t[i_uid]: t for t in (tuple(r) for r in fp2.collect())}
    net_rows = []
    for uid in set(lpd) | set(fpd):
        lrow, frow = lpd.get(uid), fpd.get(uid)
        if (
            lrow is not None
            and frow is not None
            and tuple(v for j, v in enumerate(lrow) if j != i_ct)
            == tuple(v for j, v in enumerate(frow) if j != i_ct)
        ):
            continue  # first pre == last post: the key cancelled out
        if lrow is not None:
            net_rows.append(lrow)
        if frow is not None:
            net_rows.append(frow)
    assert sorted(map(str, net_rows)) == sorted(
        str(tuple(r)) for r in diff2.collect()
    )

    # a later merge chains onto the synthetic commit
    strm.merge_micro_batch(
        _ev(spark, [(9, 900, 9, "z", 9.0)]), target, n_buckets=4
    )
    assert strm.read_commit_changes(spark, target, since="good").count() > 0


def test_capture_changes_opt_out(spark, tmp_path):
    """ADVICE r8: merge_table(capture_changes=False) skips the per-commit
    delta join+write; the commit record still lands (chain walkable) but
    read_commit_changes over a range covering it fails loudly with the
    read_changes fallback — which stays correct."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    df1 = spark.createDataFrame([(1, 10, "a")], "k long, v long, s string")
    strm.merge_table(df1, target, keys=["k"], order_cols=["v"], n_buckets=4)
    strm.snapshot_merge_table(target, "s1")
    df2 = spark.createDataFrame([(2, 20, "b")], "k long, v long, s string")
    strm.merge_table(df2, target, keys=["k"], order_cols=["v"], n_buckets=4,
                     capture_changes=False)
    with pytest.raises(ValueError, match="capture_changes=False"):
        strm.read_commit_changes(spark, target, since="s1")
    got = {(r.k, r._change_type) for r in
           strm.read_changes(spark, target, since="s1").collect()}
    assert got == {(2, "insert")}
    # no delta dir was written for the uncaptured commit
    import json
    import os

    m = json.loads(open(strm._manifest_path(target)).read())
    cdir = os.path.join(target, "changes", m["commit"]["id"])
    assert os.path.exists(os.path.join(cdir, "_commit.json"))
    assert not os.path.exists(os.path.join(cdir, "delta"))
    # stats surface the log health: chain fully walkable, one uncaptured
    stats = strm.merge_table_stats(target)
    assert stats["walkable_commits"] == 2
    assert stats["uncaptured_commits"] == 1
    # a captured commit AFTER the opt-out is readable from its own tag
    strm.snapshot_merge_table(target, "s2")
    df3 = spark.createDataFrame([(3, 30, "c")], "k long, v long, s string")
    strm.merge_table(df3, target, keys=["k"], order_cols=["v"], n_buckets=4)
    assert {(r.k, r._change_type) for r in
            strm.read_commit_changes(spark, target, since="s2").collect()} == {
        (3, "insert")
    }


def test_return_existing_requires_ancestry(spark, tmp_path):
    """ADVICE r8: if_exists='return_existing' must not silently return a
    stored pin from a DIVERGENT lineage just because the bucket keyset /
    params / schema match (nearly always true on a mature table). The
    stored pin's commit must be an ancestor of the current head; a
    genuine merge-then-pin replay passes (replay chains on top), tag
    reuse after a lineage rewind raises."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    df = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")],
                               "k long, v long, s string")
    strm.merge_table(df, target, keys=["k"], order_cols=["v"], n_buckets=4)
    strm.snapshot_merge_table(target, "base")
    df2 = spark.createDataFrame([(1, 11, "a2"), (2, 21, "b2")],
                                "k long, v long, s string")
    strm.merge_table(df2, target, keys=["k"], order_cols=["v"], n_buckets=4)
    strm.snapshot_merge_table(target, "pin", if_exists="return_existing")

    # genuine replay: re-merge (same keys -> same buckets) then re-pin
    strm.merge_table(df2, target, keys=["k"], order_cols=["v"], n_buckets=4)
    got = strm.snapshot_merge_table(target, "pin", if_exists="return_existing")
    assert got == strm._load_snapshot(target, "pin", strm.merge_fs.LOCAL_FS)

    # divergent lineage: legacy rollback rewinds, a new merge re-creates a
    # structurally identical state on a DIFFERENT chain -> reuse raises
    strm.rollback_merge_table(target, "base")
    strm.merge_table(df2, target, keys=["k"], order_cols=["v"], n_buckets=4)
    with pytest.raises(ValueError, match="NOT an ancestor"):
        strm.snapshot_merge_table(target, "pin", if_exists="return_existing")


def test_commit_log_retention_at_depth(spark, tmp_path):
    """VERDICT r8 item 8: a `since` older than the changes_keep window
    must fail LOUDLY (naming the fallback), never return a partial diff;
    a `since` still inside the window keeps working; and a delta dir
    removed between the chain walk and the read (concurrent vacuum,
    ADVICE r8) surfaces the same broken-chain error instead of a raw
    Spark path error."""
    import shutil

    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    for i in range(1, 5):  # four commits, a snapshot after each
        strm.merge_table(
            spark.createDataFrame([(i, i * 10, "x")], "k long, v long, s string"),
            target, keys=["k"], order_cols=["v"], n_buckets=4,
        )
        strm.snapshot_merge_table(target, f"after{i}")

    # keep only the 2 most recent commit deltas
    strm.vacuum_merge_table(target, changes_keep=2, staged_grace_sec=0.0)
    # inside the window: after2 -> head covers commits 3 and 4
    ok = strm.read_commit_changes(spark, target, since="after2")
    assert {r.k for r in ok.collect()} == {3, 4}
    # older than the window: loud failure naming the fallback, not a
    # partial diff
    with pytest.raises(ValueError, match="read_changes"):
        strm.read_commit_changes(spark, target, since="after1")
    # the state diff fallback is unaffected
    assert {r.k for r in strm.read_changes(spark, target, since="after1").collect()} == {2, 3, 4}

    # concurrent-vacuum window: delta dir vanishes after the chain walk —
    # simulate by deleting ONLY the delta dir (commit record intact)
    import json

    m = json.loads(open(strm._manifest_path(target)).read())
    head = m["commit"]["id"]
    shutil.rmtree(os.path.join(target, "changes", head, "delta"))
    with pytest.raises(ValueError, match="delta vacuumed.*use read_changes"):
        strm.read_commit_changes(spark, target, since="after3")


def test_manifest_stats_and_bucket_skipping(spark, tmp_path):
    """r9 data skipping: merge_table(stats_cols=[...]) records per-bucket
    min/max in the manifest; read_merged(range_filters=...) prunes
    provably-disjoint buckets DRIVER-SIDE (fewer input files) while the
    filter itself guarantees correctness; an all-pruned range returns a
    typed empty DF; a stats-less merge drops its touched buckets' stats
    (stale protection); deletes keep stats (conservative superset);
    snapshots pin stats and rollback restores them; rebucket drops them."""
    import json

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")

    def rows(kvs):
        return spark.createDataFrame(
            [(k, v, "x") for k, v in kvs], "k long, v long, s string"
        )

    # enough keys that all 4 buckets carry rows; v correlates with the
    # key's BUCKET so bucket v-spans are genuinely disjoint (a real
    # time-ordered or range-partitioned ingest has exactly this shape)
    kb = {
        r.k: r.b
        for r in spark.range(1, 25).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(4)).alias("b"),
        ).collect()
    }
    kvs = [(k, int(b) * 1000 + k) for k, b in kb.items()]
    strm.merge_table(rows(kvs), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, stats_cols=["v"])
    m = json.loads(open(strm._manifest_path(target)).read())
    assert set(m["stats"]) == set(m["buckets"])
    assert all("v" in st for st in m["stats"].values())

    full = strm.read_merged(spark, target)
    # pick a range covering exactly ONE bucket's v-span
    spans = {b: tuple(st["v"]) for b, st in m["stats"].items()}
    b_lo = min(spans, key=lambda b: spans[b][0])
    lo, hi = spans[b_lo]
    overlapping = [b for b, (mn, mx) in spans.items() if not (mn > hi or mx < lo)]
    skipped = strm.read_merged(spark, target, range_filters={"v": (lo, hi)})
    want = sorted(tuple(r) for r in full.filter(
        (F.col("v") >= lo) & (F.col("v") <= hi)).collect())
    assert sorted(tuple(r) for r in skipped.collect()) == want
    # the skip is REAL: only the overlapping buckets' files were read
    n_all = len(full.inputFiles())
    n_skip = len(skipped.inputFiles())
    assert n_skip < n_all
    assert n_skip == sum(
        len([f for f in full.inputFiles() if f"/store/{b}/" in f])
        for b in overlapping
    )

    # all-pruned range: typed empty DF, not None
    vmax = max(mx for _, mx in spans.values())
    empty = strm.read_merged(spark, target, range_filters={"v": (vmax + 1, None)})
    assert empty is not None and empty.count() == 0
    assert "k" in empty.columns

    # snapshot pins stats; a stats-less merge drops touched buckets' stats
    strm.snapshot_merge_table(target, "pinned")
    strm.merge_table(rows([(1, 99999)]), target, keys=["k"],
                     order_cols=["v"], n_buckets=4)
    m2 = json.loads(open(strm._manifest_path(target)).read())
    assert len(m2.get("stats", {})) < len(m["stats"])
    # ...so a range read stays CORRECT (no pruning on the dropped bucket)
    big = strm.read_merged(spark, target, range_filters={"v": (99999, None)})
    assert {r.k for r in big.collect()} == {1}
    # rollback restores the pinned stats
    strm.rollback_merge_table(target, "pinned", spark=spark)
    m3 = json.loads(open(strm._manifest_path(target)).read())
    assert m3["stats"] == m["stats"]

    # delete keeps stats (bounds stay valid supersets)
    strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(2,)], "k long"))
    m4 = json.loads(open(strm._manifest_path(target)).read())
    assert set(m4["stats"]) == set(m4["buckets"])
    after_del = strm.read_merged(spark, target, range_filters={"v": (lo, hi)})
    want2 = sorted(
        t for t in want if t[full.columns.index("k")] != 2
    )
    assert sorted(tuple(r) for r in after_del.collect()) == want2

    # rebucket invalidates bucket-keyed stats wholesale
    strm.rebucket_merge_table(spark, target, 8)
    m5 = json.loads(open(strm._manifest_path(target)).read())
    assert "stats" not in m5
    # reads stay correct without stats (no pruning, filter still applied)
    assert sorted(
        tuple(r)[:3] for r in strm.read_merged(
            spark, target, range_filters={"v": (lo, hi)}).select(
            "k", "v", "s").collect()
    ) == sorted(t[:3] for t in want2)


def test_incremental_dedup_consumer_survives_rollback(spark, tmp_path):
    """r9 composition: the O(delta) incremental-dedup consumer (commit-log
    CDC inserts -> hash join against the pinned base) keeps working when a
    bad crawl batch is ROLLED BACK with delta capture in the middle of its
    range — the chain stays walkable, the synthetic delta cancels the bad
    batch's inserts, and compacting the log (last post per key, minus keys
    whose first-pre cancels) yields exactly the surviving new docs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "docs_gold")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    strm.merge_table(
        docs([(1, "alpha"), (2, "beta")]), target,
        keys=["doc_id"], order_cols=["doc_id"],
    )
    strm.snapshot_merge_table(target, "base")
    # good crawl batch
    strm.merge_table(docs([(10, "alpha"), (11, "gamma")]), target,
                     keys=["doc_id"], order_cols=["doc_id"])
    strm.snapshot_merge_table(target, "good1")
    # bad crawl batch, rolled back WITH capture
    strm.merge_table(docs([(20, "junk"), (21, "junk2")]), target,
                     keys=["doc_id"], order_cols=["doc_id"])
    strm.rollback_merge_table(target, "good1", spark=spark)
    # another good batch on top of the rollback
    strm.merge_table(docs([(12, "beta")]), target,
                     keys=["doc_id"], order_cols=["doc_id"])

    log = strm.read_commit_changes(spark, target, since="base")
    # per-commit view contains the bad inserts AND their synthetic deletes
    kinds = {(r.doc_id, r._change_type) for r in log.collect()}
    assert (20, "insert") in kinds and (20, "delete") in kinds
    # compact to net: last post per key, cancelled by matching first pre
    cols = [c for c in log.columns if c not in ("_commit_seq", "_commit_ts")]
    w_last = Window.partitionBy("doc_id").orderBy(F.col("_commit_seq").desc())
    w_first = Window.partitionBy("doc_id").orderBy(F.col("_commit_seq").asc())
    post = (
        log.filter(F.col("_change_type").isin("insert", "update_postimage"))
        .withColumn("__rn", F.row_number().over(w_last))
        .filter("__rn = 1").select(*cols)
    )
    pre = (
        log.filter(F.col("_change_type").isin("delete", "update_preimage"))
        .withColumn("__rn", F.row_number().over(w_first))
        .filter("__rn = 1").select(*cols)
    )
    i_ct = cols.index("_change_type")
    strip = lambda t: tuple(v for j, v in enumerate(t) if j != i_ct)
    pre_rows = {strip(tuple(r)) for r in pre.collect()}
    net_inserts = {
        r.doc_id
        for r in post.collect()
        if strip(tuple(r)) not in pre_rows
    }
    assert net_inserts == {10, 11, 12}  # bad batch cancelled, good ones kept

    # ...and the dedup flag over the net inserts matches the base corpus
    base_h = (
        strm.read_merged(spark, target, snapshot="base")
        .select(F.md5("text").alias("h")).distinct()
        .withColumn("__dup", F.lit(True))
    )
    flags = {
        r.doc_id: r.is_dup
        for r in post.filter(F.col("doc_id").isin(*net_inserts))
        .select("doc_id", F.md5("text").alias("h"))
        .join(base_h, "h", "left")
        .select("doc_id", F.coalesce("__dup", F.lit(False)).alias("is_dup"))
        .collect()
    }
    assert flags == {10: True, 11: False, 12: True}


def test_manifest_stats_timestamp_skipping(spark, tmp_path):
    """r9: stats_cols record TIMESTAMP bounds (ISO-tagged in the
    manifest) and event-time range_filters prune buckets driver-side —
    the canonical events-table use case; rows stay exactly the filter's
    result and the skip is real (fewer input files)."""
    import datetime
    import json

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    # event time correlated with the key's bucket: four disjoint day spans
    kb = {
        r.k: int(r.b)
        for r in spark.range(1, 25).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(4)).alias("b"),
        ).collect()
    }
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (k, base + datetime.timedelta(days=b, minutes=int(k)))
        for k, b in kb.items()
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    strm.merge_table(df, target, keys=["k"], order_cols=["ts"],
                     n_buckets=4, stats_cols=["ts"])
    m = json.loads(open(strm._manifest_path(target)).read())
    assert all(st["ts"][2] == "ts" for st in m["stats"].values())

    day1 = (base, base + datetime.timedelta(hours=23))
    full = strm.read_merged(spark, target)
    got = strm.read_merged(spark, target, range_filters={"ts": day1})
    want = sorted(
        tuple(r) for r in full.filter(
            (F.col("ts") >= day1[0]) & (F.col("ts") <= day1[1])).collect()
    )
    assert sorted(tuple(r) for r in got.collect()) == want and want
    assert len(got.inputFiles()) < len(full.inputFiles())

    # mismatched filter type: no pruning, row filter still correct
    odd = strm.read_merged(spark, target, range_filters={"ts": (None, None)})
    assert odd.count() == full.count()


def test_cluster_by_file_level_skipping(spark, tmp_path):
    """r10 clustered layout (VERDICT r9 item 1): on a hash-bucketed table
    whose filtered column does NOT correlate with the key hash, bucket
    min/max prunes NOTHING (asserted first — the gap the feature closes);
    merge_table(cluster_by=...) lays each bucket version out as
    range-disjoint files and read_merged(range_filters=...) then skips
    FILES (pinned via inputFiles). Lifecycle: re-clustering merges refresh
    touched buckets' file stats; a non-clustering merge drops them (stale
    protection); DELETE rewrites drop them; snapshots pin them and
    rollback restores them; rebucket drops them wholesale; null cluster
    values and all-pruned ranges stay correct."""
    import json

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")

    def rows(kvs):
        return spark.createDataFrame(
            [(k, v, "x") for k, v in kvs], "k long, v long, s string"
        )

    def man():
        return json.loads(open(strm._manifest_path(target)).read())

    # v is INDEPENDENT of k's hash bucket: every bucket's v-span converges
    # to ~the full range — the production shape bucket stats cannot prune
    kvs = [(k, (k * 37) % 1000) for k in range(400)]
    strm.merge_table(rows(kvs), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, stats_cols=["v"], cluster_by="v",
                     cluster_files=4)
    m = man()
    assert set(m["filestats"]) == set(m["buckets"])
    assert all(fb["rel"] == m["buckets"][b] and fb["col"] == "v"
               for b, fb in m["filestats"].items())
    lo, hi = 100, 300
    # 1) the gap: bucket-level stats skip ZERO buckets for this range
    assert not [b for b, st in m["stats"].items()
                if st["v"][0] > hi or st["v"][1] < lo]
    # 2) the win: file-level stats skip files inside EVERY bucket
    full = strm.read_merged(spark, target)
    got = strm.read_merged(spark, target, range_filters={"v": (lo, hi)})
    want = sorted(tuple(r) for r in full.filter(
        (F.col("v") >= lo) & (F.col("v") <= hi)).collect())
    assert sorted(tuple(r) for r in got.collect()) == want
    n_all = sum(len(fb["files"]) for fb in m["filestats"].values())
    assert len(full.inputFiles()) == n_all
    assert len(got.inputFiles()) < n_all
    # the files are genuinely range-disjoint per bucket: spans don't nest
    for fb in m["filestats"].values():
        spans = sorted((f[1], f[2]) for f in fb["files"] if f[1] is not None)
        assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:]))

    # all-pruned range -> typed empty (file pruning can empty every bucket)
    empty = strm.read_merged(spark, target, range_filters={"v": (5000, None)})
    assert empty is not None and empty.count() == 0 and "k" in empty.columns

    # 3) re-clustering merge refreshes touched buckets' file stats
    strm.snapshot_merge_table(target, "pinned")
    strm.merge_table(rows([(1, 7777), (2, 8888)]), target, keys=["k"],
                     order_cols=["v"], n_buckets=4, stats_cols=["v"],
                     cluster_by="v", cluster_files=4)
    m2 = man()
    assert set(m2["filestats"]) == set(m2["buckets"])
    touched2 = {b for b in m2["buckets"] if m2["buckets"][b] != m["buckets"][b]}
    for b in touched2:
        assert m2["filestats"][b]["rel"] == m2["buckets"][b]
    hi_read = strm.read_merged(spark, target, range_filters={"v": (7000, None)})
    assert {r.k for r in hi_read.collect()} == {1, 2}

    # 4) snapshot pinned the OLD file stats; time-travel read skips on them
    snap_read = strm.read_merged(spark, target, snapshot="pinned",
                                 range_filters={"v": (lo, hi)})
    assert sorted(tuple(r) for r in snap_read.collect()) == want
    # rollback restores them
    strm.rollback_merge_table(target, "pinned", spark=spark)
    assert man()["filestats"] == m["filestats"]

    # 5) a non-clustering merge DROPS its touched buckets' file stats
    strm.merge_table(rows([(3, 9999)]), target, keys=["k"],
                     order_cols=["v"], n_buckets=4, stats_cols=["v"])
    m3 = man()
    assert len(m3.get("filestats", {})) < len(m["filestats"])
    assert {r.k for r in strm.read_merged(
        spark, target, range_filters={"v": (9999, None)}).collect()} == {3}

    # 6) DELETE rewrites drop touched buckets' file stats, reads stay exact
    strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(5,)], "k long"))
    m4 = man()
    assert all(fb["rel"] == m4["buckets"][b]
               for b, fb in m4.get("filestats", {}).items())
    after_del = strm.read_merged(spark, target, range_filters={"v": (lo, hi)})
    want2 = sorted(t for t in want if t[0] not in (3, 5))
    assert sorted(tuple(r) for r in after_del.collect()) == want2

    # 7) rebucket drops file stats wholesale; reads stay correct
    strm.rebucket_merge_table(spark, target, 8)
    m5 = man()
    assert "filestats" not in m5 and "stats" not in m5
    assert sorted(
        tuple(r)[:3] for r in strm.read_merged(
            spark, target, range_filters={"v": (lo, hi)}).select(
            "k", "v", "s").collect()
    ) == [t[:3] for t in want2]

    # 8) null cluster values: recorded files with null bounds always read,
    # range reads (which never keep NULLs) stay exact, full reads keep them
    t2 = str(tmp_path / "gold_nulls")
    nkvs = [(k, (k * 37) % 100) for k in range(40)] + [(100, None), (101, None)]
    strm.merge_table(rows(nkvs), t2, keys=["k"], order_cols=["k"],
                     n_buckets=2, cluster_by="v", cluster_files=2)
    r = strm.read_merged(spark, t2, range_filters={"v": (10, 50)})
    assert {x.k for x in r.collect()} == {
        k for k, v in nkvs if v is not None and 10 <= v <= 50}
    assert strm.read_merged(spark, t2).count() == len(nkvs)


def test_clustered_merge_crash_at_every_op_never_tears(spark, tmp_path):
    """The clustered stage write + per-file stats pass slot into the same
    two-phase commit: crash after every mutating bookkeeping op of a
    clustered merge and require the committed state — AND the skipping
    range read over it — to be exactly pre- or post-batch, with vacuum
    reclaiming debris and a retry converging."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    def rows(kvs):
        return spark.createDataFrame(
            [(k, v, "x") for k, v in kvs], "k long, v long, s string"
        )

    seed = [(k, (k * 37) % 100) for k in range(12)]
    batch = [(k, 500 + k) for k in range(6)]  # updates half the keys

    def merge(t, kvs, fs):
        strm.merge_table(rows(kvs), t, keys=["k"], order_cols=["v"],
                         n_buckets=2, stats_cols=["v"], cluster_by="v",
                         cluster_files=2, fs=fs)

    def ranged(t):
        df = strm.read_merged(spark, t, range_filters={"v": (20, 600)})
        return sorted((r.k, r.v) for r in df.collect())

    probe = str(tmp_path / "probe")
    probe_fs = mfs.NonAtomicRenameFS()
    merge(probe, seed, probe_fs)
    ops1 = probe_fs.ops
    before = ranged(probe)
    merge(probe, batch, probe_fs)
    total_ops = probe_fs.ops - ops1
    after = ranged(probe)
    assert before != after and total_ops >= 3

    target = str(tmp_path / "gold")
    merge(target, seed, mfs.LOCAL_FS)
    outcomes = set()
    for crash_at in range(total_ops):
        fs = mfs.NonAtomicRenameFS(fail_after_ops=crash_at)
        try:
            merge(target, batch, fs)
        except mfs.NonAtomicRenameFS.InjectedCrash:
            mfs.break_writer_lease(mfs.LOCAL_FS, target)
        got = ranged(target)
        assert got in (before, after), f"torn clustered merge at {crash_at}"
        outcomes.add("back" if got == before else "forward")
        if got == before:
            strm.vacuum_merge_table(target, staged_grace_sec=0.0)
            assert ranged(target) == before
            merge(target, batch, mfs.LOCAL_FS)
            assert ranged(target) == after
            # reset for the next crash point
            import shutil as _sh

            _sh.rmtree(target)
            merge(target, seed, mfs.LOCAL_FS)
    assert outcomes == {"back", "forward"}


def test_where_is_and_erase_everywhere_zero_residual(spark, tmp_path):
    """r10 erasure (VERDICT r9 item 2): where_is names every retained
    location still holding an id — live state, superseded store versions,
    snapshot pins, commit-log deltas; erase_everywhere(mode='refuse')
    raises naming the blocking snapshot tags BEFORE touching a pin;
    mode='rewrite' rewrites the pinned versions, vacuums the superseded
    ones, scrubs the deltas down to key-only delete tombstones, and the
    final audit — plus a raw sweep over EVERY parquet under the table
    dir — finds ZERO copies of the erased content. Time travel and CDC
    stay functional (minus the erased rows)."""
    import os as _os

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import erasure
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")

    def rows(kvs):
        return spark.createDataFrame(
            [(k, v, f"secret-{k}-{v}") for k, v in kvs],
            "k long, v long, s string",
        )

    strm.merge_table(rows([(k, k) for k in range(20)]), target,
                     keys=["k"], order_cols=["v"], n_buckets=4,
                     stats_cols=["v"], cluster_by="v", cluster_files=2)
    strm.snapshot_merge_table(target, "run1")
    # update the doomed keys (so their content sits in run1's pinned
    # versions, the superseded pre-update versions, AND two deltas)
    strm.merge_table(rows([(3, 103), (7, 107)]), target,
                     keys=["k"], order_cols=["v"], n_buckets=4)
    strm.snapshot_merge_table(target, "run2")
    doomed = spark.createDataFrame([(3,), (7,)], "k long")

    pre = erasure.where_is(spark, target, doomed)
    kinds = {h["kind"] for h in pre}
    assert {"live", "snapshot", "changes"} <= kinds
    assert {h["ref"] for h in pre if h["kind"] == "snapshot"} == {"run1", "run2"}

    # refuse mode: loud, names the blocking tags, erases the LIVE state
    # (the delete half) but leaves every pin untouched
    with pytest.raises(ValueError, match="run1"):
        erasure.erase_everywhere(spark, target, doomed)
    assert {r.k for r in strm.read_merged(
        spark, target, snapshot="run1").collect()} == set(range(20))

    out = erasure.erase_everywhere(spark, target, doomed, mode="rewrite")
    assert out["residual"] == []
    assert set(out["updated_snapshots"]) == {"run1", "run2"}
    assert out["scrubbed_commits"]

    # independent raw sweep: no parquet row under the table dir carries
    # the erased keys' CONTENT anywhere
    store_files = []
    delta_dirs = set()
    for root, _dirs, files in _os.walk(target):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            if f"{_os.sep}store{_os.sep}" in root + _os.sep:
                store_files.append(_os.path.join(root, f))
            elif f"{_os.sep}changes{_os.sep}" in root + _os.sep:
                delta_dirs.add(root)
    assert store_files
    svc = spark.read.parquet(*store_files).filter(F.col("k").isin(3, 7))
    assert svc.count() == 0
    for d in sorted(delta_dirs):
        leaked = spark.read.parquet(d).filter(
            F.col("k").isin(3, 7)
            & (F.col("s").isNotNull() | F.col("v").isNotNull()
               | F.col("_change_type").isin("insert", "update_postimage"))
        )
        assert leaked.count() == 0, d

    # time travel still works, minus the erased rows
    for tag in ("run1", "run2"):
        got = {r.k for r in strm.read_merged(spark, target, snapshot=tag).collect()}
        assert got == set(range(20)) - {3, 7}, tag
    # CDC across the scrubbed range still walks; the erased keys surface
    # only as key-only delete evidence; other keys' rows keep full content
    strm.merge_table(rows([(11, 211)]), target, keys=["k"],
                     order_cols=["v"], n_buckets=4)
    log = strm.read_commit_changes(spark, target, since="run1")
    mine = log.filter(F.col("k").isin(3, 7)).collect()
    assert mine and all(
        r._change_type in ("delete", "update_preimage")
        and r.s is None and r.v is None
        for r in mine
    )
    others = log.filter(~F.col("k").isin(3, 7)).collect()
    assert others and any(r.k == 11 and r.s == "secret-11-211" for r in others)

    # idempotent re-run: nothing left to do, still zero residual
    out2 = erasure.erase_everywhere(spark, target, doomed, mode="rewrite")
    assert out2["residual"] == [] and out2["deleted"] == 0
    assert out2["updated_snapshots"] == [] and out2["rewritten_versions"] == []


def test_nullstats_and_null_filter_skipping(spark, tmp_path):
    """r10 null-count stats (VERDICT r9 item 6): merge_table(stats_cols)
    now also records per-bucket row/null/ndv counts; read_merged
    null_filters prunes provably ALL-NULL buckets for IS NOT NULL reads
    and provably NULL-FREE buckets for IS NULL reads (fewer input files),
    while the row-level filter guarantees correctness; deletes KEEP the
    counts (both prune proofs are monotone under row removal); a
    stats-less merge drops them; composes with range_filters."""
    import json

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")

    # route v's nullness by the key's BUCKET: one all-null bucket, one
    # null-free bucket, the rest mixed
    kb = {
        r.k: int(r.b)
        for r in spark.range(1, 41).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(4)).alias("b"),
        ).collect()
    }
    assert set(kb.values()) == {0, 1, 2, 3}
    def v_for(k):
        b = kb[k]
        if b == 0:
            return None          # bucket 0: all-null
        if b == 1:
            return int(k)        # bucket 1: null-free
        return int(k) if k % 2 else None  # mixed
    rows = [(k, v_for(k), "x") for k in sorted(kb)]
    df = spark.createDataFrame(rows, "k long, v long, s string")
    strm.merge_table(df, target, keys=["k"], order_cols=["k"],
                     n_buckets=4, stats_cols=["v"])
    m = json.loads(open(strm._manifest_path(target)).read())
    assert set(m["nullstats"]) == set(m["buckets"])
    ns = m["nullstats"]
    assert ns["0"]["nulls"]["v"] == ns["0"]["rows"] > 0
    assert ns["1"]["nulls"]["v"] == 0 and ns["1"]["ndv"]["v"] > 0

    full = strm.read_merged(spark, target)
    n_all = len(full.inputFiles())

    nn = strm.read_merged(spark, target, null_filters={"v": "not_null"})
    assert {r.k for r in nn.collect()} == {k for k, v, _ in rows if v is not None}
    files_b0 = [f for f in full.inputFiles() if "/store/0/" in f]
    assert len(nn.inputFiles()) == n_all - len(files_b0) < n_all

    nl = strm.read_merged(spark, target, null_filters={"v": "null"})
    assert {r.k for r in nl.collect()} == {k for k, v, _ in rows if v is None}
    files_b1 = [f for f in full.inputFiles() if "/store/1/" in f]
    assert len(nl.inputFiles()) == n_all - len(files_b1) < n_all

    # composes with range_filters (both prunes apply)
    comb = strm.read_merged(spark, target, null_filters={"v": "not_null"},
                            range_filters={"v": (None, 1000)})
    assert {r.k for r in comb.collect()} == {k for k, v, _ in rows if v is not None}

    # delete keeps the counts; pruning stays VALID (monotone proofs)
    victim = next(k for k in kb if kb[k] == 1)
    strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(victim,)], "k long"))
    m2 = json.loads(open(strm._manifest_path(target)).read())
    assert "1" in m2["nullstats"]
    nl2 = strm.read_merged(spark, target, null_filters={"v": "null"})
    assert {r.k for r in nl2.collect()} == {k for k, v, _ in rows if v is None}
    nn2 = strm.read_merged(spark, target, null_filters={"v": "not_null"})
    assert {r.k for r in nn2.collect()} == {
        k for k, v, _ in rows if v is not None and k != victim}

    # a stats-less merge drops its touched buckets' counts -> no pruning
    # there, reads stay correct
    strm.merge_table(spark.createDataFrame([(victim, None, "y")],
                                           "k long, v long, s string"),
                     target, keys=["k"], order_cols=["k"], n_buckets=4)
    m3 = json.loads(open(strm._manifest_path(target)).read())
    assert "1" not in m3.get("nullstats", {})
    assert victim in {r.k for r in strm.read_merged(
        spark, target, null_filters={"v": "null"}).collect()}

    # bad mode fails loudly
    import pytest
    with pytest.raises(ValueError, match="not_null"):
        strm.read_merged(spark, target, null_filters={"v": "nope"})


def test_zorder_multi_column_file_skipping(spark, tmp_path):
    """r10 Z-order (multi-dim cluster_by): a LIST of cluster columns
    range-bins each column (sampling range partitioner), interleaves the
    bits into one z-value, and tiles each bucket version's files on it —
    so a range filter on EITHER column prunes files (1-D clustering gives
    the second column nothing), per-file bounds are recorded per column,
    and correctness never depends on the layout."""
    import os as _os

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    rows = spark.createDataFrame(
        [(i, (i * 37) % 997, (i * 61) % 991) for i in range(1600)],
        "k long, v long, w long",
    )
    strm.merge_table(rows, target, keys=["k"], order_cols=["v"],
                     n_buckets=4, stats_cols=["v", "w"],
                     cluster_by=["v", "w"], cluster_files=8)

    m = strm._load_manifest(target)
    assert set(m["filestats"]) == set(m["buckets"])
    for fb in m["filestats"].values():
        assert fb["cols"] == ["v", "w"]
        for f in fb["files"]:
            assert len(f) == 3  # fname + one bounds entry per column
            assert f[1] is not None and f[2] is not None

    full = strm.read_merged(spark, target)
    n_all = len(full.inputFiles())
    assert n_all == sum(len(fb["files"]) for fb in m["filestats"].values())

    # a selective range on EACH dimension prunes files on its own
    v_rng, w_rng = (100, 220), (650, 760)
    rd_v = strm.read_merged(spark, target, range_filters={"v": v_rng})
    rd_w = strm.read_merged(spark, target, range_filters={"w": w_rng})
    rd_vw = strm.read_merged(
        spark, target, range_filters={"v": v_rng, "w": w_rng}
    )
    n_v, n_w, n_vw = (len(d.inputFiles()) for d in (rd_v, rd_w, rd_vw))
    assert n_v < n_all, (n_v, n_all)   # 1-D layout gives w this, z gives BOTH
    assert n_w < n_all, (n_w, n_all)
    assert n_vw <= min(n_v, n_w)       # conjunction prunes at least as hard

    # correctness: pruned reads == full read filtered row-level
    from pyspark.sql import functions as F

    def rowset(df):
        return sorted(tuple(r) for r in df.select("k", "v", "w").collect())

    assert rowset(rd_v) == rowset(
        full.filter((F.col("v") >= v_rng[0]) & (F.col("v") <= v_rng[1]))
    )
    assert rowset(rd_w) == rowset(
        full.filter((F.col("w") >= w_rng[0]) & (F.col("w") <= w_rng[1]))
    )
    assert rowset(rd_vw) == rowset(
        full.filter(
            (F.col("v") >= v_rng[0]) & (F.col("v") <= v_rng[1])
            & (F.col("w") >= w_rng[0]) & (F.col("w") <= w_rng[1])
        )
    )

    # a later NON-clustering merge drops its touched buckets' file stats
    # (they name the superseded version) — reads stay correct, just unpruned
    strm.merge_table(
        spark.createDataFrame([(1, 5000, 5000)], "k long, v long, w long"),
        target, keys=["k"], order_cols=["v"], n_buckets=4,
    )
    m2 = strm._load_manifest(target)
    touched = {b for b in m2["buckets"] if m2["buckets"][b] != m["buckets"][b]}
    assert touched and all(b not in m2.get("filestats", {}) for b in touched)
    after = strm.read_merged(spark, target, range_filters={"v": (4000, None)})
    assert rowset(after) == [(1, 5000, 5000)]


def test_optimize_merge_table_clusters_committed_layout(spark, tmp_path):
    """r10: optimize_merge_table is Delta's standalone OPTIMIZE ZORDER — a
    table ingested WITHOUT cluster_by gets the clustered layout + per-file
    bounds as a content no-op: rows identical, per-bucket stats untouched
    (still exact), range reads now prune files, time travel keeps the old
    layout, and the commit chain crosses the optimize with an empty
    delta."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    rows = spark.createDataFrame(
        [(i, (i * 37) % 997, (i * 61) % 991) for i in range(800)],
        "k long, v long, w long",
    )
    strm.merge_table(rows, target, keys=["k"], order_cols=["v"],
                     n_buckets=4, stats_cols=["v"])
    m0 = strm._load_manifest(target)
    assert "filestats" not in m0  # unclustered ingest: no file-level skip
    strm.snapshot_merge_table(target, "pre")
    before = sorted(tuple(r) for r in strm.read_merged(spark, target)
                    .select("k", "v", "w").collect())

    m1 = strm.optimize_merge_table(spark, target, cluster_by="v",
                                   cluster_files=4)
    assert set(m1["filestats"]) == set(m1["buckets"])
    assert m1["stats"] == m0["stats"]          # row set unchanged -> exact
    assert m1["nullstats"] == m0["nullstats"]
    after = sorted(tuple(r) for r in strm.read_merged(spark, target)
                   .select("k", "v", "w").collect())
    assert after == before  # content no-op

    # the layout now earns the skip
    full = strm.read_merged(spark, target)
    rd = strm.read_merged(spark, target, range_filters={"v": (100, 220)})
    assert 0 < len(rd.inputFiles()) < len(full.inputFiles())
    assert sorted(tuple(r) for r in rd.select("k", "v", "w").collect()) == [
        t for t in before if 100 <= t[1] <= 220
    ]

    # time travel: the pre-optimize snapshot still reads the old layout
    snap = sorted(tuple(r) for r in
                  strm.read_merged(spark, target, snapshot="pre")
                  .select("k", "v", "w").collect())
    assert snap == before

    # commit chain: a merge AFTER the optimize is readable O(delta) from
    # the pre-optimize head — the optimize contributes an empty delta
    strm.merge_table(
        spark.createDataFrame([(2, 9999, 1)], "k long, v long, w long"),
        target, keys=["k"], order_cols=["v"], n_buckets=4,
    )
    ch = strm.read_commit_changes(spark, target, since="pre")
    upserts = {(r.k, r.v) for r in ch.filter(F.col("_change_type") != "delete").collect()}
    assert (2, 9999) in upserts

    # Z-order re-optimize over a bucket SUBSET (incremental re-clustering)
    m2 = strm.optimize_merge_table(spark, target, cluster_by=["v", "w"],
                                   cluster_files=4, buckets=[0, 1])
    for b in ("0", "1"):
        if b in m2["buckets"]:
            assert m2["filestats"][b]["cols"] == ["v", "w"]
    final = sorted(tuple(r) for r in strm.read_merged(spark, target)
                   .select("k", "v", "w").collect())
    assert final == sorted([t for t in before if t[0] != 2] + [(2, 9999, 1)])


def test_optimize_only_decayed_is_incremental(spark, tmp_path):
    """r10: only_decayed=True re-clusters exactly the buckets whose layout
    decayed — untouched on a fully-clustered table (no version churn), and
    after a non-clustering merge dirties some buckets, only THOSE get new
    versions while the still-clustered buckets keep their exact files."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    rows = spark.createDataFrame(
        [(i, (i * 37) % 997) for i in range(800)], "k long, v long"
    )
    strm.merge_table(rows, target, keys=["k"], order_cols=["v"],
                     n_buckets=4, cluster_by="v", cluster_files=4)
    m1 = strm._load_manifest(target)

    # fully clustered -> no-op: identical manifest, no staged churn
    m2 = strm.optimize_merge_table(spark, target, cluster_by="v",
                                   cluster_files=4, only_decayed=True)
    assert m2["buckets"] == m1["buckets"]

    # a non-clustering merge decays its touched buckets
    strm.merge_table(
        spark.createDataFrame([(3, 4444), (5, 5555)], "k long, v long"),
        target, keys=["k"], order_cols=["v"], n_buckets=4,
    )
    m3 = strm._load_manifest(target)
    dirty = {b for b in m3["buckets"] if b not in m3.get("filestats", {})}
    clean = set(m3["buckets"]) - dirty
    assert dirty and clean

    m4 = strm.optimize_merge_table(spark, target, cluster_by="v",
                                   cluster_files=4, only_decayed=True)
    for b in clean:  # untouched buckets keep their exact version
        assert m4["buckets"][b] == m3["buckets"][b]
    for b in dirty:  # decayed ones were rewritten and re-stat'd
        assert m4["buckets"][b] != m3["buckets"][b]
        assert m4["filestats"][b]["rel"] == m4["buckets"][b]

    # different cluster COLUMNS count as decay too
    m5 = strm.optimize_merge_table(spark, target, cluster_by=["v", "k"],
                                   cluster_files=4, only_decayed=True)
    assert all(m5["filestats"][b]["cols"] == ["v", "k"] for b in m5["buckets"])
    got = sorted(tuple(r) for r in strm.read_merged(spark, target)
                 .select("k", "v").collect())
    want = sorted([(i, (i * 37) % 997) for i in range(800) if i not in (3, 5)]
                  + [(3, 4444), (5, 5555)])
    assert got == want


def test_optimize_target_file_bytes_auto_sizing(spark, tmp_path):
    """r11 (VERDICT r10 item 7): optimize_merge_table(target_file_bytes=)
    derives the file count from the touched buckets' committed parquet
    bytes (Delta OPTIMIZE maxFileSize shape) instead of a fixed
    cluster_files — a small target yields more, smaller files; a huge
    target collapses each bucket toward one file; the chosen sizing is
    reported and the layout still prunes on the cluster column."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    rows = spark.createDataFrame(
        [(i, (i * 37) % 997, "x" * 64) for i in range(4000)],
        "k long, v long, pad string",
    )
    strm.merge_table(rows, target, keys=["k"], order_cols=["v"], n_buckets=2)

    # huge target: one file per bucket
    m_big = strm.optimize_merge_table(
        spark, target, cluster_by="v", target_file_bytes=1 << 30)
    assert m_big["_optimize_sizing"]["cluster_files"] == 1
    files_big = len(strm.read_merged(spark, target).inputFiles())

    # small target: sized from real bytes -> strictly more files
    touched_bytes = m_big["_optimize_sizing"]["touched_bytes"]
    m_small = strm.optimize_merge_table(
        spark, target, cluster_by="v",
        target_file_bytes=max(1, touched_bytes // 16))
    sz = m_small["_optimize_sizing"]
    assert sz["cluster_files"] >= 8  # ~16 files over 2 buckets
    files_small = len(strm.read_merged(spark, target).inputFiles())
    assert files_small > files_big

    # the sizing key is report-only: the committed manifest has no trace
    assert "_optimize_sizing" not in strm._load_manifest(target)
    # and the sized layout still prunes files on the cluster column
    full = strm.read_merged(spark, target)
    rd = strm.read_merged(spark, target, range_filters={"v": (0, 60)})
    assert 0 < len(rd.inputFiles()) < len(full.inputFiles())
    assert rd.count() == rows.filter("v between 0 and 60").count()


def _drain_checkpoints():
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    probe = mfs.scratch("probe_")
    os.rmdir(probe)
    root = os.path.dirname(probe)
    return {d for d in os.listdir(root) if d.startswith("ckpt_")}


def test_drained_streams_leave_no_checkpoint(spark, tmp_path):
    """A drained AvailableNow query's checkpoint is removed once it has
    terminated, whether it drained or failed."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    src_dir = str(tmp_path / "src")
    spark.range(5).write.parquet(src_dir)
    stream = spark.readStream.schema("id long").parquet(src_dir)
    before = _drain_checkpoints()
    out = strm.run_to_table(spark, stream.groupBy().count())
    assert out.first()[0] == 5
    assert _drain_checkpoints() == before
    with pytest.raises(StreamingQueryException):
        strm.run_to_table(spark, stream.select(F.raise_error(F.lit("boom"))), mode="append")
    assert _drain_checkpoints() == before
