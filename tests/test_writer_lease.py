"""Writer-lease enforcement of the single-writer contract:
merge_micro_batch / vacuum_merge_table / index_commit.compact /
ivf_index_append / pq_index_append take the table's lease, so a concurrent
second writer FAILS LOUDLY (ConcurrentWriterError) instead of corrupting —
and a lease stranded by a dead writer is reclaimable (TTL expiry or
operator break)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs


# ---------------------------------------------------------------------------
# lease primitive
# ---------------------------------------------------------------------------


def test_put_if_absent_is_create_once(tmp_path):
    fs = mfs.LOCAL_FS
    p = str(tmp_path / "t" / "once.json")
    assert fs.put_if_absent(p, b"first")
    assert not fs.put_if_absent(p, b"second")  # loses, writes nothing
    assert fs.read_bytes(p) == b"first"


def test_lease_mutual_exclusion_and_release(tmp_path):
    fs = mfs.LOCAL_FS
    table = str(tmp_path / "tbl")
    a = mfs.acquire_writer_lease(fs, table, owner="writer-a")
    with pytest.raises(mfs.ConcurrentWriterError):
        mfs.acquire_writer_lease(fs, table, owner="writer-b")
    # reentrant: the SAME owner (a restarted job with a stable id) re-enters
    assert mfs.acquire_writer_lease(fs, table, owner="writer-a") == "writer-a"
    mfs.release_writer_lease(fs, table, a)
    # now free for anyone
    b = mfs.acquire_writer_lease(fs, table, owner="writer-b")
    # releasing with a token that no longer holds it must NOT steal b's lease
    mfs.release_writer_lease(fs, table, "writer-a")
    with pytest.raises(mfs.ConcurrentWriterError):
        mfs.acquire_writer_lease(fs, table, owner="writer-c")
    mfs.release_writer_lease(fs, table, b)


def test_lease_refresh_and_info(tmp_path):
    """A reentrant re-acquire (the maintenance heartbeat) must re-stamp
    acquired_unix so a long run never drifts into reclaimable territory;
    lease_info exposes holder/age/expiry for the operator runbook."""
    fs = mfs.LOCAL_FS
    table = str(tmp_path / "tbl")
    assert mfs.lease_info(fs, table) is None
    t0 = time.time()
    mfs.acquire_writer_lease(fs, table, owner="job", ttl_sec=100, _now=t0)
    # 90s in: refreshed by the heartbeat...
    mfs.acquire_writer_lease(fs, table, owner="job", ttl_sec=100, _now=t0 + 90)
    # ...so at t0+150 (past the ORIGINAL expiry) the lease is still live
    info = mfs.lease_info(fs, table, _now=t0 + 150)
    assert info["owner"] == "job" and not info["expired"]
    assert 59 < info["age_sec"] < 61
    with pytest.raises(mfs.ConcurrentWriterError):
        mfs.acquire_writer_lease(fs, table, owner="other", _now=t0 + 150)
    # without further refreshes it expires and info says so
    assert mfs.lease_info(fs, table, _now=t0 + 300)["expired"]


def test_ivf_index_stats_reports_debris_and_lease(spark, sf_dir, tmp_path):
    """index_commit.stats: clean index -> zero debris; a crashed append
    leaves visible staging debris and the stranded lease; recovery zeroes
    it."""
    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb.filter(F.col("vec_id") < 100), path)
    st = ic.store("ivf", path)
    clean = ic.stats(st)
    assert clean["lease"] is None
    clean = clean["vectors"]
    assert clean["cells"] >= 2 and clean["data_files"] >= clean["cells"]
    assert clean["append_staging_dirs"] == clean["append_markers"] == 0

    batch = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    fs = mfs.NonAtomicRenameFS(fail_after_ops=1)  # die before the marker
    with pytest.raises(mfs.NonAtomicRenameFS.InjectedCrash):
        sim.ivf_index_append(spark, path, batch, fs=fs)
    dirty = ic.stats(st)
    assert dirty["vectors"]["append_staging_dirs"] == 1  # the debris is VISIBLE
    assert dirty["lease"] is not None  # ...and so is the stranded lease

    mfs.break_writer_lease(mfs.LOCAL_FS, path)
    ic.recover(st)
    healed = ic.stats(st)
    assert healed["vectors"]["append_staging_dirs"] == 0
    assert healed["vectors"]["append_markers"] == 0
    assert healed["lease"] is None


def test_lease_ttl_expiry_reclaim_and_break(tmp_path):
    fs = mfs.LOCAL_FS
    table = str(tmp_path / "tbl")
    mfs.acquire_writer_lease(fs, table, owner="dead-writer", ttl_sec=3600)
    # still live -> refused
    with pytest.raises(mfs.ConcurrentWriterError):
        mfs.acquire_writer_lease(fs, table, owner="next")
    # 2h later the lease is expired -> reclaimed by the next writer
    later = time.time() + 7200
    got = mfs.acquire_writer_lease(fs, table, owner="next", _now=later)
    assert got == "next"
    rec = json.loads(fs.read_bytes(os.path.join(table, mfs.LEASE_NAME)).decode())
    assert rec["owner"] == "next"
    # operator intervention: break, then anyone acquires immediately
    mfs.break_writer_lease(fs, table)
    assert mfs.acquire_writer_lease(fs, table, owner="third") == "third"


# ---------------------------------------------------------------------------
# enforcement in the writers
# ---------------------------------------------------------------------------


def _ev(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, user_id long, event_type string, value double"
    )
    return df.select(
        "event_id", F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id", "event_type", "value",
    )


def test_merge_and_vacuum_refuse_concurrent_writer(spark, tmp_path):
    target = str(tmp_path / "gold")
    seed = [(i, 1000 + i, i, "seed", float(i)) for i in range(4)]
    strm.merge_micro_batch(_ev(spark, seed), target, n_buckets=2)
    committed = sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    )

    # writer A is mid-run (holds the lease); a second merge and a vacuum
    # must both refuse, leaving the committed state untouched
    mfs.acquire_writer_lease(mfs.LOCAL_FS, target, owner="writer-a")
    update = [(100, 2000, 0, "update", -1.0)]
    with pytest.raises(mfs.ConcurrentWriterError):
        strm.merge_micro_batch(_ev(spark, update), target, n_buckets=2)
    with pytest.raises(mfs.ConcurrentWriterError):
        strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    assert sorted(
        (r.user_id, r.event_id) for r in strm.read_merged(spark, target).collect()
    ) == committed

    # writer A finishes -> the queued work proceeds
    mfs.release_writer_lease(mfs.LOCAL_FS, target, "writer-a")
    strm.merge_micro_batch(_ev(spark, update), target, n_buckets=2)
    state = {r.user_id: r.event_id for r in strm.read_merged(spark, target).collect()}
    assert state[0] == 100
    # and the lease is released again afterwards
    assert not os.path.exists(os.path.join(target, mfs.LEASE_NAME))


def test_ivf_maintenance_refuses_concurrent_writer(spark, sf_dir, tmp_path):
    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb.filter(F.col("vec_id") < 100), path)
    batch = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    before = sorted(
        tuple(r) for r in spark.read.parquet(path + "/vectors").collect()
    )

    mfs.acquire_writer_lease(mfs.LOCAL_FS, path, owner="writer-a")
    with pytest.raises(mfs.ConcurrentWriterError):
        sim.ivf_index_append(spark, path, batch)
    with pytest.raises(mfs.ConcurrentWriterError):
        ic.compact(spark, ic.store("ivf", path), max_files=0)
    # refused writers changed nothing
    assert sorted(
        tuple(r) for r in spark.read.parquet(path + "/vectors").collect()
    ) == before

    mfs.release_writer_lease(mfs.LOCAL_FS, path, "writer-a")
    assert sim.ivf_index_append(spark, path, batch) == 20
    assert not os.path.exists(os.path.join(path, mfs.LEASE_NAME))


def test_offline_builders_take_the_lease(spark, sf_dir, tmp_path):
    """r6: a REBUILD overwriting a live index/signature table while an
    append or query-side build runs would interleave two writers' files —
    build_ivf_index, pq_build_index, and both signature-table writers must
    refuse while another writer holds the lease (sig tables scope theirs
    to a sibling <path>.lock dir, since mode('overwrite') would delete an
    in-dir lease mid-build)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd

    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    ivf = str(tmp_path / "ivf")
    mfs.acquire_writer_lease(mfs.LOCAL_FS, ivf, owner="other")
    with pytest.raises(mfs.ConcurrentWriterError):
        sim.build_ivf_index(emb, ivf)
    mfs.break_writer_lease(mfs.LOCAL_FS, ivf)
    sim.build_ivf_index(emb, ivf)  # ok once free

    pq = str(tmp_path / "pq")
    mfs.acquire_writer_lease(mfs.LOCAL_FS, pq, owner="other")
    with pytest.raises(mfs.ConcurrentWriterError):
        clustering.pq_build_index(emb, pq, m=4, k=4, max_iters=1)
    mfs.break_writer_lease(mfs.LOCAL_FS, pq)

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{j}" for j in range(20)))], "doc_id long, text string"
    )
    sig = str(tmp_path / "sigs")
    mfs.acquire_writer_lease(mfs.LOCAL_FS, sig + ".lock", owner="other")
    with pytest.raises(mfs.ConcurrentWriterError):
        dd.write_signature_table(docs, sig)
    with pytest.raises(mfs.ConcurrentWriterError):
        dd.write_signature_table(docs, sig, family="md5")
    mfs.break_writer_lease(mfs.LOCAL_FS, sig + ".lock")
    dd.write_signature_table(docs, sig)  # ok once free; lease released after
    assert not os.path.exists(os.path.join(sig + ".lock", mfs.LEASE_NAME))


def test_pq_append_refuses_concurrent_writer(spark, sf_dir, tmp_path):
    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    path = str(tmp_path / "pq")
    clustering.pq_build_index(
        emb.filter(F.col("vec_id") < 100), path, m=4, k=8, max_iters=1,
        round_decimals=6,
    )
    batch = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    before = sorted(tuple(r) for r in spark.read.parquet(path + "/codes").collect())

    mfs.acquire_writer_lease(mfs.LOCAL_FS, path, owner="writer-a")
    with pytest.raises(mfs.ConcurrentWriterError):
        clustering.pq_index_append(spark, path, batch)
    assert sorted(
        tuple(r) for r in spark.read.parquet(path + "/codes").collect()
    ) == before
    mfs.release_writer_lease(mfs.LOCAL_FS, path, "writer-a")
    assert clustering.pq_index_append(spark, path, batch) == 20
    assert not os.path.exists(os.path.join(path, mfs.LEASE_NAME))


def test_ivfpq_builder_and_append_refuse_concurrent_writer(
    spark, sf_dir, tmp_path
):
    """The combined-index builder and its two-table append enforce the same
    single-writer contract as every other index writer: a held lease turns
    them into a loud ConcurrentWriterError with BOTH tables untouched."""
    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    path = str(tmp_path / "ivfpq")

    mfs.acquire_writer_lease(mfs.LOCAL_FS, path, owner="writer-a")
    with pytest.raises(mfs.ConcurrentWriterError):
        clustering.build_ivfpq_index(
            emb.filter(F.col("vec_id") < 100), path, m=4, k=8, max_iters=1,
            round_decimals=6,
        )
    mfs.release_writer_lease(mfs.LOCAL_FS, path, "writer-a")
    clustering.build_ivfpq_index(
        emb.filter(F.col("vec_id") < 100), path, m=4, k=8, max_iters=1,
        round_decimals=6,
    )
    batch = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    before_v = sorted(tuple(r) for r in spark.read.parquet(path + "/vectors").collect())
    before_c = sorted(tuple(r) for r in spark.read.parquet(path + "/codes").collect())

    mfs.acquire_writer_lease(mfs.LOCAL_FS, path, owner="writer-a")
    with pytest.raises(mfs.ConcurrentWriterError):
        clustering.ivfpq_index_append(spark, path, batch)
    assert sorted(
        tuple(r) for r in spark.read.parquet(path + "/vectors").collect()
    ) == before_v
    assert sorted(
        tuple(r) for r in spark.read.parquet(path + "/codes").collect()
    ) == before_c
    mfs.release_writer_lease(mfs.LOCAL_FS, path, "writer-a")
    assert clustering.ivfpq_index_append(spark, path, batch) == 20
    assert not os.path.exists(os.path.join(path, mfs.LEASE_NAME))


# ---------------------------------------------------------------------------
# lease heartbeat (VERDICT r6 item 6)
# ---------------------------------------------------------------------------


def test_lease_heartbeat_outlives_ttl(tmp_path):
    """The background heartbeat keeps a long job's lease live well past its
    ORIGINAL ttl: another writer is still refused, and only release frees
    the table."""
    fs = mfs.LOCAL_FS
    table = str(tmp_path / "tbl")
    tok = mfs.acquire_writer_lease(fs, table, owner="long-job", ttl_sec=0.4)
    with mfs.lease_heartbeat(fs, table, tok, ttl_sec=0.4, interval_sec=0.1):
        time.sleep(1.0)  # 2.5x the original ttl
        info = mfs.lease_info(fs, table)
        assert info["owner"] == "long-job" and not info["expired"]
        with pytest.raises(mfs.ConcurrentWriterError):
            mfs.acquire_writer_lease(fs, table, owner="intruder", ttl_sec=0.4)
    mfs.release_writer_lease(fs, table, tok)
    assert mfs.acquire_writer_lease(fs, table, owner="intruder") == "intruder"
    mfs.release_writer_lease(fs, table, "intruder")


def test_lease_heartbeat_never_stomps_reclaimer(tmp_path):
    """A writer paused past its TTL whose lease was legitimately reclaimed
    must NOT have its (late-started) heartbeat overwrite the new holder's
    record — the beat thread checks ownership and stops."""
    fs = mfs.LOCAL_FS
    table = str(tmp_path / "tbl")
    tok = mfs.acquire_writer_lease(fs, table, owner="paused", ttl_sec=0.2)
    time.sleep(0.5)  # lease expires with no beats (the paused writer)
    assert (
        mfs.acquire_writer_lease(fs, table, owner="reclaimer", ttl_sec=60.0)
        == "reclaimer"
    )
    with mfs.lease_heartbeat(fs, table, tok, ttl_sec=60.0, interval_sec=0.05):
        time.sleep(0.4)  # several ticks against the reclaimed lease
    info = mfs.lease_info(fs, table)
    assert info["owner"] == "reclaimer"
    mfs.release_writer_lease(fs, table, "reclaimer")


def test_build_past_ttl_not_reclaimed_midrun(spark, tmp_path):
    """VERDICT r6 item 6 Done-criterion: a build_ivf_index whose writes run
    PAST the original lease TTL is not reclaimed mid-run — the wired-in
    heartbeat refreshes the lease, so an intruder probing after the TTL
    elapsed is still refused, and the build completes and releases."""
    import threading

    slow = F.udf(lambda v: (time.sleep(2.0), v)[1], "array<float>")
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0], "a")], "vec_id long, embedding array<float>, label string"
    ).withColumn("embedding", slow("embedding"))
    path = str(tmp_path / "ivf")
    build_err: list[Exception] = []

    def build():
        try:
            sim.build_ivf_index(emb, path, lease_ttl_sec=0.3)
        except Exception as e:  # surfaced in the main thread's asserts
            build_err.append(e)

    t = threading.Thread(target=build)
    t.start()
    lease_path = os.path.join(path, mfs.LEASE_NAME)
    deadline = time.time() + 30
    while not os.path.exists(lease_path) and time.time() < deadline:
        time.sleep(0.02)
    assert os.path.exists(lease_path), "build never took the lease"
    time.sleep(1.0)  # > 3x the original ttl; the slow write is still running
    assert t.is_alive(), "build finished too fast to exercise the TTL window"
    with pytest.raises(mfs.ConcurrentWriterError):
        mfs.acquire_writer_lease(mfs.LOCAL_FS, path, owner="intruder", ttl_sec=0.3)
    t.join(timeout=120)
    assert not build_err, build_err
    # completed build released its lease; centroids landed
    assert not os.path.exists(lease_path)
    assert spark.read.parquet(path + "/centroids").count() == 1


def test_rollback_refuses_concurrent_writer(spark, tmp_path):
    """rollback_merge_table is a writer op: under a held lease it must fail
    loudly with the manifest untouched (a rollback racing a live merge
    would resurrect superseded bucket versions mid-commit)."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    ev = spark.createDataFrame(
        [(1, 100, 1, "a", 1.0)],
        "event_id long, ts_s long, user_id long, event_type string, value double",
    ).select(
        "event_id", F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id", "event_type", "value",
    )
    strm.merge_micro_batch(ev, target, n_buckets=2)
    strm.snapshot_merge_table(target, "t1")
    before = strm._load_manifest(target)

    mfs.acquire_writer_lease(mfs.LOCAL_FS, target, owner="writer-a")
    with pytest.raises(mfs.ConcurrentWriterError):
        strm.rollback_merge_table(target, "t1")
    assert strm._load_manifest(target) == before
    mfs.release_writer_lease(mfs.LOCAL_FS, target, "writer-a")
    assert strm.rollback_merge_table(target, "t1") == before
    assert not os.path.exists(os.path.join(target, mfs.LEASE_NAME))


def test_snapshot_refuses_concurrent_writer(spark, tmp_path):
    """snapshot_merge_table is a writer op (code review r7): a lease-free
    snapshot racing a rebucket's whole-generation GC could pin bucket
    paths that were just deleted. Under a held lease it fails loudly; a
    released lease lets it pin."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    ev = spark.createDataFrame(
        [(1, 100, 1, "a", 1.0)],
        "event_id long, ts_s long, user_id long, event_type string, value double",
    ).select(
        "event_id", F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id", "event_type", "value",
    )
    strm.merge_micro_batch(ev, target, n_buckets=2)

    mfs.acquire_writer_lease(mfs.LOCAL_FS, target, owner="writer-a")
    with pytest.raises(mfs.ConcurrentWriterError):
        strm.snapshot_merge_table(target, "t1")
    assert strm.list_snapshots(target) == []
    mfs.release_writer_lease(mfs.LOCAL_FS, target, "writer-a")
    strm.snapshot_merge_table(target, "t1")
    assert strm.list_snapshots(target) == ["t1"]
    assert not os.path.exists(os.path.join(target, mfs.LEASE_NAME))


class _GateFS(mfs.LocalFS):
    """Heartbeat-hang simulation (ADVICE r7): the first lease read INSIDE a
    beat blocks on ``gate`` (signalling ``entered`` first), modeling a beat
    whose fs I/O stalls past the shutdown join while release runs."""

    def __init__(self):
        import threading

        self.entered = threading.Event()
        self.gate = threading.Event()
        self.armed = True

    def read_bytes(self, path: str) -> bytes:
        if self.armed and path.endswith(mfs.LEASE_NAME):
            self.armed = False
            self.entered.set()
            self.gate.wait(timeout=10.0)
        return super().read_bytes(path)


def test_lease_heartbeat_does_not_resurrect_after_release(tmp_path):
    """ADVICE r7: a beat whose fs I/O hangs past the shutdown join must not
    re-create the lease AFTER release deleted it (a resurrected stale lease
    blocks every writer until the TTL runs out). Sequence forced here: beat
    enters its lease read and stalls -> main thread stops the heartbeat and
    RELEASES the lease while the beat is stalled -> beat resumes with the
    stale pre-release record. The stop re-check before put_atomic must win:
    the table ends unlocked."""
    fs = _GateFS()
    table = str(tmp_path / "tbl")
    tok = mfs.acquire_writer_lease(fs, table, owner="hung-job", ttl_sec=60.0)

    cm = mfs.lease_heartbeat(fs, table, tok, ttl_sec=60.0, interval_sec=0.05)
    cm.__enter__()
    assert fs.entered.wait(timeout=5.0)  # beat is now stalled mid-read

    # shutdown while the beat hangs: the gate stays closed through the
    # whole join timeout (max(5, 2*interval) = 5 s), so __exit__ gives up
    # on the still-stalled thread and RELEASE deletes the lease — exactly
    # the advisory's window. Only then does the gate open and the beat
    # resume with its stale pre-release record.
    cm.__exit__(None, None, None)  # sets stop, join times out (~5 s)
    mfs.release_writer_lease(fs, table, tok)
    assert mfs.lease_info(fs, table) is None
    fs.gate.set()  # un-hang the beat AFTER the release

    # give the straggling beat time to (wrongly) resurrect the lease
    time.sleep(0.5)
    assert mfs.lease_info(fs, table) is None, "stale lease resurrected"
    # a new writer acquires immediately — no TTL wait
    assert mfs.acquire_writer_lease(fs, table, owner="next") == "next"
    mfs.release_writer_lease(fs, table, "next")


# ---------------------------------------------------------------------------
# CAS lease capability (VERDICT r7 item 7)
# ---------------------------------------------------------------------------


def test_cas_fs_put_if_match_semantics(tmp_path):
    """The conditional-replace primitive: succeeds exactly once per etag
    generation, fails on a stale etag and on a vanished object."""
    fs = mfs.CASLocalFS()
    p = str(tmp_path / "obj.json")
    fs.put_atomic(p, b"v1")
    _, e1 = fs.read_with_etag(p)
    assert fs.put_if_match(p, b"v2", e1)
    assert not fs.put_if_match(p, b"v3", e1)  # stale generation
    data, e2 = fs.read_with_etag(p)
    assert data == b"v2" and e2 != e1
    fs.rmtree(p)
    assert not fs.put_if_match(p, b"v4", e2)  # vanished


def test_cas_expired_reclaim_admits_exactly_one(tmp_path):
    """On a CAS store, reclaiming an expired lease is ONE conditional
    replace — of N concurrent reclaimers exactly one wins, the rest see
    the winner's live lease (no delete-after-create window at all)."""
    import threading

    fs = mfs.CASLocalFS()
    table = str(tmp_path / "tbl")
    mfs.acquire_writer_lease(fs, table, owner="dead", ttl_sec=0.05)
    time.sleep(0.2)  # expire

    results = {}

    def grab(name):
        try:
            results[name] = mfs.acquire_writer_lease(
                fs, table, owner=name, ttl_sec=60.0
            )
        except mfs.ConcurrentWriterError as e:
            results[name] = e

    threads = [threading.Thread(target=grab, args=(f"w{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [n for n, r in results.items() if not isinstance(r, Exception)]
    assert len(winners) == 1, results
    info = mfs.lease_info(fs, table)
    assert info["owner"] == winners[0] and not info["expired"]
    # losers saw the WINNER's live lease, not a torn state
    for n, r in results.items():
        if n != winners[0]:
            assert isinstance(r, mfs.ConcurrentWriterError)
    mfs.release_writer_lease(fs, table, winners[0])


class _GateCASFS(mfs.CASLocalFS):
    """Pause the FIRST lease put_if_match between its caller's read and
    the conditional put — the exact heartbeat-vs-reclaim interleaving."""

    def __init__(self):
        import threading

        self.entered = threading.Event()
        self.gate = threading.Event()
        self.armed = True

    def put_if_match(self, path: str, data: bytes, etag: str) -> bool:
        if self.armed and path.endswith(mfs.LEASE_NAME):
            self.armed = False
            self.entered.set()
            self.gate.wait(timeout=10.0)
        return super().put_if_match(path, data, etag)


def test_cas_heartbeat_loses_to_reclaimer_instead_of_stomping(tmp_path):
    """The race ADVICE r6 documented as open: the heartbeat READS its own
    (by now expired) record, a reclaimer takes the lease, then the
    heartbeat writes. On a CAS store the write is conditional on the
    pre-reclaim etag, so it FAILS and the new holder's record survives —
    forced deterministically here by gating the beat between its read and
    its put."""
    fs = _GateCASFS()
    table = str(tmp_path / "tbl")
    tok = mfs.acquire_writer_lease(fs, table, owner="paused", ttl_sec=0.15)
    with mfs.lease_heartbeat(fs, table, tok, ttl_sec=0.15, interval_sec=0.05):
        assert fs.entered.wait(timeout=5.0)  # beat read its record, now gated
        time.sleep(0.3)  # lease expires while the beat is paused
        # reclaimer takes the expired lease (armed flag already consumed,
        # so ITS conditional put runs ungated)
        assert (
            mfs.acquire_writer_lease(fs, table, owner="reclaimer", ttl_sec=60.0)
            == "reclaimer"
        )
        fs.gate.set()  # paused beat resumes: put_if_match must fail
        time.sleep(0.3)
        info = mfs.lease_info(fs, table)
        assert info["owner"] == "reclaimer", "heartbeat stomped the reclaimer"
    info = mfs.lease_info(fs, table)
    assert info["owner"] == "reclaimer"
    mfs.release_writer_lease(fs, table, "reclaimer")


class _ManifestGateCASFS(mfs.CASLocalFS):
    """Pause the FIRST put_if_match on a merge-table MANIFEST between the
    caller's read and its conditional commit — the exact two-writers-
    raced-past-the-lease interleaving (VERDICT r8 item 5)."""

    def __init__(self):
        import threading

        self.entered = threading.Event()
        self.gate = threading.Event()
        self.armed = True

    def put_if_match(self, path: str, data: bytes, etag: str) -> bool:
        if self.armed and path.endswith("_MANIFEST.json"):
            self.armed = False
            self.entered.set()
            self.gate.wait(timeout=20.0)
        return super().put_if_match(path, data, etag)


def test_cas_manifest_commit_detects_racing_writer(spark, tmp_path):
    """r9 (VERDICT r8 item 5): on a CAS store the manifest commit is
    conditional on the generation the merge read — two mergers that both
    got past the lease (same stable lease_owner: the retried-job-races-
    its-predecessor case the lease deliberately admits) and write the
    SAME bucket cannot lose an update: one wins, the other raises
    ConcurrentWriterError having committed NOTHING (no rebase is possible
    for a genuine overlap), and a clean retry lands its batch on top."""
    import threading

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    fs = _ManifestGateCASFS()
    target = str(tmp_path / "gold")

    # three keys in the SAME bucket (disjoint buckets would rebase —
    # see test_cas_disjoint_bucket_rebase_both_writers_commit)
    byb: dict = {}
    for r in spark.range(1, 60).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(4)).alias("b"),
    ).collect():
        byb.setdefault(r.b, []).append(r.k)
    k1, k2, k3 = next(ks for ks in byb.values() if len(ks) >= 3)[:3]

    def rows(ks):
        return spark.createDataFrame(
            [(k, k * 10, "x") for k in ks], "k long, v long, s string"
        )

    # seed so both racing commits are put_if_match (not first-commit
    # put_if_absent); arm the gate only afterwards
    fs.armed = False
    strm.merge_table(rows([k1]), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, fs=fs, lease_owner="job")
    fs.armed = True

    result: dict = {}

    def writer_a():
        try:
            strm.merge_table(rows([k2]), target, keys=["k"], order_cols=["v"],
                             n_buckets=4, fs=fs, lease_owner="job")
            result["a"] = "committed"
        except mfs.ConcurrentWriterError as e:
            result["a"] = e

    ta = threading.Thread(target=writer_a)
    ta.start()
    assert fs.entered.wait(timeout=60.0)  # A read the manifest, now gated
    # B races past (same owner -> reentrant lease) and commits the bucket
    strm.merge_table(rows([k3]), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, fs=fs, lease_owner="job")
    fs.gate.set()  # A resumes: its put_if_match must FAIL, rebase refused
    ta.join(timeout=120.0)
    assert isinstance(result["a"], mfs.ConcurrentWriterError), result

    # B's update survived; A committed nothing
    got = {r.k for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got == {k1, k3}
    # A's retry lands cleanly on the new state
    strm.merge_table(rows([k2]), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, fs=fs, lease_owner="job")
    got2 = {r.k for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got2 == {k1, k2, k3}
    # the losing attempt's staged version is invisible debris -> vacuum
    strm.vacuum_merge_table(target, fs=fs, staged_grace_sec=0.0)
    assert {r.k for r in strm.read_merged(spark, target, fs=fs).collect()} == got2


class _PostPutGateFS(mfs.LocalFS):
    """Stall the beat right AFTER its lease re-stamp lands (put returned,
    post-put stop-check not yet run) — the exact put-to-read window of the
    ADVICE r8 finding."""

    def __init__(self):
        import threading

        self.entered = threading.Event()
        self.gate = threading.Event()
        self.armed = False

    def put_atomic(self, path: str, data: bytes) -> None:
        super().put_atomic(path, data)
        if self.armed and path.endswith(mfs.LEASE_NAME):
            self.armed = False
            self.entered.set()
            self.gate.wait(timeout=30.0)


def test_heartbeat_undo_spares_restarted_same_owner_lease(tmp_path):
    """ADVICE r8 (fs.py heartbeat shutdown-undo): the undo compares the
    FULL record bytes before deleting, so a restarted job that
    re-acquired with the SAME stable lease_owner inside the beat's
    put-to-read window keeps its live lease (owner-only comparison
    deleted it). Forced deterministically: the beat stalls right after
    its re-stamp; shutdown + release + same-owner re-acquire all land in
    that window; the resumed beat's undo must leave the NEW record
    alone."""
    fs = _PostPutGateFS()
    table = str(tmp_path / "tbl")
    path = os.path.join(table, mfs.LEASE_NAME)

    tok = mfs.acquire_writer_lease(fs, table, owner="job", ttl_sec=60.0)
    cm = mfs.lease_heartbeat(fs, table, tok, ttl_sec=60.0, interval_sec=0.05)
    cm.__enter__()
    fs.armed = True
    assert fs.entered.wait(timeout=10.0)  # beat re-stamped, now stalled

    cm.__exit__(None, None, None)  # stop set; join gives up on the stall
    mfs.release_writer_lease(fs, table, tok)
    # restarted job, SAME stable owner, re-acquires in the window (the
    # ~5 s join timeout guarantees a different acquired_unix)
    assert mfs.acquire_writer_lease(fs, table, owner="job", ttl_sec=60.0) == "job"
    new_record = fs.read_bytes(path)

    fs.gate.set()  # beat resumes into its post-put stop-check + undo
    time.sleep(0.5)
    # the fixed undo byte-compares and walks away: the restarted job's
    # lease survives, bit-identical
    assert mfs.lease_info(fs, table) is not None, "undo deleted a live lease"
    assert fs.read_bytes(path) == new_record
    mfs.release_writer_lease(fs, table, "job")


def test_cas_disjoint_bucket_rebase_both_writers_commit(spark, tmp_path):
    """r9 rebase: two mergers racing past the lease whose batches touch
    DISJOINT buckets must BOTH commit (Delta-style logical conflict
    resolution) — the loser re-points its commit at the winner's head and
    retries its conditional put; the commit chain carries both commits in
    winner-then-loser order. A genuine overlap (same bucket) still
    raises, committing nothing."""
    import threading

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    # pick keys by their actual bucket under n_buckets=4
    buckets = {
        r.k: r.b
        for r in spark.range(1, 40)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(4)).alias("b"),
        )
        .collect()
    }
    by_bucket: dict = {}
    for k, b in buckets.items():
        by_bucket.setdefault(b, []).append(k)
    b0, b1 = sorted(by_bucket)[:2]
    k_seed, k_a = by_bucket[b0][0], by_bucket[b0][1]  # same bucket as seed
    k_b = by_bucket[b1][0]  # different bucket

    def rows(ks):
        return spark.createDataFrame(
            [(k, k * 10, "x") for k in ks], "k long, v long, s string"
        )

    fs = _ManifestGateCASFS()
    target = str(tmp_path / "gold")
    fs.armed = False
    strm.merge_table(rows([k_seed]), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, fs=fs, lease_owner="job")
    strm.snapshot_merge_table(target, "pre", fs=fs)
    fs.armed = True

    result: dict = {}

    def writer_a():
        try:
            # touches bucket b0 only (k_a shares k_seed's bucket)
            strm.merge_table(rows([k_a]), target, keys=["k"], order_cols=["v"],
                             n_buckets=4, fs=fs, lease_owner="job")
            result["a"] = "committed"
        except mfs.ConcurrentWriterError as e:  # pragma: no cover
            result["a"] = e

    ta = threading.Thread(target=writer_a)
    ta.start()
    assert fs.entered.wait(timeout=60.0)  # A read + staged, gated pre-commit
    # B commits bucket b1 while A is gated — disjoint from A's bucket
    strm.merge_table(rows([k_b]), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, fs=fs, lease_owner="job")
    fs.gate.set()  # A resumes: precondition fails -> REBASE -> commits
    ta.join(timeout=120.0)
    assert result["a"] == "committed", result

    got = {r.k for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got == {k_seed, k_a, k_b}
    # the chain carries both commits, B (winner) then A (rebased loser)
    log = strm.read_commit_changes(spark, target, since="pre", fs=fs)
    seqs = {(r._commit_seq, r.k) for r in log.collect()}
    assert seqs == {(1, k_b), (2, k_a)}

    # genuine overlap: same interleaving, but B writes A's bucket -> A
    # must raise and commit nothing
    fs.entered.clear(); fs.gate.clear(); fs.armed = True
    k_a2, k_b2 = by_bucket[b0][2], by_bucket[b0][3]
    result2: dict = {}

    def writer_a2():
        try:
            strm.merge_table(rows([k_a2]), target, keys=["k"], order_cols=["v"],
                             n_buckets=4, fs=fs, lease_owner="job")
            result2["a"] = "committed"
        except mfs.ConcurrentWriterError as e:
            result2["a"] = e

    ta2 = threading.Thread(target=writer_a2)
    ta2.start()
    assert fs.entered.wait(timeout=60.0)
    strm.merge_table(rows([k_b2]), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, fs=fs, lease_owner="job")
    fs.gate.set()
    ta2.join(timeout=120.0)
    assert isinstance(result2["a"], mfs.ConcurrentWriterError), result2
    got2 = {r.k for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got2 == {k_seed, k_a, k_b, k_b2}
    # the loser's retry lands cleanly
    strm.merge_table(rows([k_a2]), target, keys=["k"], order_cols=["v"],
                     n_buckets=4, fs=fs, lease_owner="job")
    assert {r.k for r in strm.read_merged(spark, target, fs=fs).collect()} == {
        k_seed, k_a, k_b, k_b2, k_a2
    }


# ---------------------------------------------------------------------------
# r10 (ADVICE r9): conditional puts for the NON-merge manifest writers, and
# vacuum's staged-version protection
# ---------------------------------------------------------------------------


def _evdf(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts_s long, user_id long, event_type string, value double",
    ).select(
        "event_id", F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id", "event_type", "value",
    )


def test_delete_conditional_commit_loses_to_racing_merge(spark, tmp_path):
    """r10: delete_from_merge_table's manifest put is conditional on the
    generation it read — a merge that races past the lease (same stable
    owner) and commits in the delete's read-to-put window makes the delete
    raise ConcurrentWriterError having committed NOTHING; its clean retry
    then deletes against the new state."""
    import threading

    fs = _ManifestGateCASFS()
    target = str(tmp_path / "gold")
    fs.armed = False
    strm.merge_micro_batch(
        _evdf(spark, [(i, 100 + i, i, "a", 1.0) for i in range(1, 6)]),
        target, n_buckets=4, fs=fs, lease_owner="job",
    )
    fs.armed = True

    result: dict = {}

    def deleter():
        try:
            n = strm.delete_from_merge_table(
                spark, target,
                keys=spark.createDataFrame([(3,)], "user_id long"),
                fs=fs, lease_owner="job",
            )
            result["d"] = n
        except mfs.ConcurrentWriterError as e:
            result["d"] = e

    td = threading.Thread(target=deleter)
    td.start()
    assert fs.entered.wait(timeout=60.0)  # delete staged, gated at its put
    strm.merge_micro_batch(  # racing merge commits first
        _evdf(spark, [(9, 900, 9, "b", 2.0)]),
        target, n_buckets=4, fs=fs, lease_owner="job",
    )
    fs.gate.set()
    td.join(timeout=120.0)
    assert isinstance(result["d"], mfs.ConcurrentWriterError), result
    # the losing delete changed nothing: user 3 still present, merge's row in
    got = {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got == {1, 2, 3, 4, 5, 9}
    # clean retry lands
    assert strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(3,)], "user_id long"),
        fs=fs, lease_owner="job",
    ) == 1
    got2 = {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got2 == {1, 2, 4, 5, 9}


def test_rollback_conditional_commit_loses_to_racing_merge(spark, tmp_path):
    """r10: rollback_merge_table's restore put is conditional — a commit
    landing between the rollback's diff and its put would make both the
    captured rollback delta and the restored manifest stale, so the
    rollback raises instead and a re-run restores against the new head."""
    import threading

    fs = _ManifestGateCASFS()
    target = str(tmp_path / "gold")
    fs.armed = False
    strm.merge_micro_batch(
        _evdf(spark, [(1, 100, 1, "a", 1.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    strm.snapshot_merge_table(target, "t1", fs=fs, lease_owner="job")
    strm.merge_micro_batch(
        _evdf(spark, [(2, 200, 2, "b", 2.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    fs.armed = True

    result: dict = {}

    def roller():
        try:
            strm.rollback_merge_table(
                target, "t1", fs=fs, lease_owner="job", spark=spark
            )
            result["r"] = "committed"
        except mfs.ConcurrentWriterError as e:
            result["r"] = e

    tr = threading.Thread(target=roller)
    tr.start()
    assert fs.entered.wait(timeout=60.0)
    strm.merge_micro_batch(  # racing merge commits first
        _evdf(spark, [(3, 300, 3, "c", 3.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    fs.gate.set()
    tr.join(timeout=120.0)
    assert isinstance(result["r"], mfs.ConcurrentWriterError), result
    # rollback committed nothing: the racing merge's row is still there
    got = {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got == {1, 2, 3}
    # re-run restores against the new head
    strm.rollback_merge_table(target, "t1", fs=fs, lease_owner="job", spark=spark)
    got2 = {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got2 == {1}


def test_rebucket_conditional_commit_loses_to_racing_merge(spark, tmp_path):
    """r10: rebucket's whole-generation rewrite cannot silently overwrite a
    commit that landed during the O(table) restage — its put is
    conditional and the loser raises with the old bucketing intact."""
    import threading

    fs = _ManifestGateCASFS()
    target = str(tmp_path / "gold")
    fs.armed = False
    strm.merge_micro_batch(
        _evdf(spark, [(i, 100 + i, i, "a", 1.0) for i in range(1, 4)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    fs.armed = True

    result: dict = {}

    def rebucketer():
        try:
            strm.rebucket_merge_table(
                spark, target, 8, fs=fs, lease_owner="job"
            )
            result["r"] = "committed"
        except mfs.ConcurrentWriterError as e:
            result["r"] = e

    tr = threading.Thread(target=rebucketer)
    tr.start()
    assert fs.entered.wait(timeout=60.0)
    strm.merge_micro_batch(  # racing merge commits mid-rebucket
        _evdf(spark, [(7, 700, 7, "b", 2.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    fs.gate.set()
    tr.join(timeout=120.0)
    assert isinstance(result["r"], mfs.ConcurrentWriterError), result
    assert strm._load_manifest(target, fs=fs)["params"]["n_buckets"] == 2
    got = {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert got == {1, 2, 3, 7}  # NO lost update
    # clean retry re-spreads everything
    strm.rebucket_merge_table(spark, target, 8, fs=fs, lease_owner="job")
    assert strm._load_manifest(target, fs=fs)["params"]["n_buckets"] == 8
    assert {
        r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()
    } == got


def _race_at_commit(writer, racer, fs):
    """Run ``writer`` in a thread until the gate holds its manifest put,
    run ``racer`` to commit first, then release the writer. Returns the
    writer's result or the exception it raised."""
    import threading

    result: dict = {}

    def run():
        try:
            result["w"] = writer()
        except mfs.ConcurrentWriterError as e:
            result["w"] = e

    t = threading.Thread(target=run)
    t.start()
    assert fs.entered.wait(timeout=60.0)  # writer staged, gated at its put
    racer()
    fs.gate.set()
    t.join(timeout=120.0)
    assert not t.is_alive()
    return result["w"]


def test_optimize_conditional_commit_loses_to_racing_merge(spark, tmp_path):
    """optimize_merge_table's put is conditional and, unlike merge, never
    rebases: a merge that commits in the optimize's read-to-put window —
    to a bucket the optimize does not touch, so a merge in the optimize's
    place would rebase — makes it raise ConcurrentWriterError having
    committed nothing, with the merge's manifest left in place; a clean
    retry lays out the buckets."""
    fs = _ManifestGateCASFS()
    target = str(tmp_path / "gold")
    fs.armed = False
    strm.merge_micro_batch(
        _evdf(spark, [(i, 100 + i, i, "a", 1.0) for i in range(1, 9)]),
        target, n_buckets=4, fs=fs, lease_owner="job",
    )
    racer_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(9).cast("long")), F.lit(4)).alias("b")
    ).first()["b"]
    layout = sorted(
        int(b) for b in strm._load_manifest(target, fs)["buckets"]
        if int(b) != racer_bucket
    )
    assert layout
    fs.armed = True
    raced: dict = {}

    def optimize():
        return strm.optimize_merge_table(
            spark, target, cluster_by="ts", buckets=layout, fs=fs,
            lease_owner="job",
        )

    def racer():
        strm.merge_micro_batch(
            _evdf(spark, [(9, 900, 9, "b", 2.0)]),
            target, n_buckets=4, fs=fs, lease_owner="job",
        )
        raced["manifest"] = strm._load_manifest(target, fs)

    got = _race_at_commit(optimize, racer, fs)
    assert isinstance(got, mfs.ConcurrentWriterError), got
    assert strm._load_manifest(target, fs) == raced["manifest"]
    assert "filestats" not in raced["manifest"]
    rows = {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()}
    assert rows == set(range(1, 10))
    # clean retry lands the layout on exactly the requested buckets
    m = optimize()
    assert sorted(int(b) for b in m["filestats"]) == layout
    assert {
        r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()
    } == rows


def test_vacuum_grace_spares_young_debris(spark, tmp_path):
    """r10 (ADVICE r9): an unreferenced store version may be a LIVE
    commit's phase-1 staging — vacuum's staged_grace_sec spares young
    debris (default: an hour) and reclaims it only once it has aged into
    genuine orphanhood (forced here with grace=0)."""
    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _evdf(spark, [(1, 100, 1, "a", 1.0)]), target, n_buckets=2
    )
    # fresh debris: an unreferenced version dir + a staging tree
    orphan = os.path.join(target, "store", "0", "deadbeefcafe")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as fh:
        fh.write(b"x")
    stage = os.path.join(target, ".staging", "feedface")
    os.makedirs(stage)

    assert strm.vacuum_merge_table(target) == []  # default grace spares both
    assert os.path.isdir(orphan) and os.path.isdir(stage)
    removed = strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    assert set(removed) == {orphan, stage}
    assert not os.path.isdir(orphan) and not os.path.isdir(stage)
    assert {r.user_id for r in strm.read_merged(spark, target).collect()} == {1}


class _VacuumDuringCommitCASFS(mfs.CASLocalFS):
    """Run a grace-less vacuum INSIDE a merge's read-to-put window (on the
    merge's first manifest put_if_match) — the exact lease-free
    interleaving of ADVICE r9: vacuum reclaims the merge's staged-but-
    uncommitted versions, and the merge's commit must then fail LOUDLY
    instead of landing a manifest that points at deleted files."""

    def __init__(self, spark):
        self.spark = spark
        self.target: str | None = None
        self.armed = False
        self.vacuumed: list[str] = []

    def put_if_match(self, path: str, data: bytes, etag: str) -> bool:
        if self.armed and path.endswith("_MANIFEST.json"):
            self.armed = False  # un-arm BEFORE vacuum's own epoch-bump put
            self.vacuumed = strm.vacuum_merge_table(
                self.target, fs=self, lease_owner="job", staged_grace_sec=0.0
            )
        return super().put_if_match(path, data, etag)


def test_vacuum_epoch_bump_fails_racing_merge_commit_loudly(spark, tmp_path):
    """r10 (ADVICE r9), tightened r11 (ADVICE r10): on a CAS store vacuum
    bumps gc_epoch with a conditional put BEFORE reclaiming, so a merge
    whose staged versions a grace-less concurrent vacuum just deleted
    fails its own conditional commit and — since r11 — treats the epoch
    change itself as a genuine conflict and raises WITHOUT re-pointing
    (the r10 isdir re-verify could pass inside vacuum's read-to-rmtree
    window). The committed manifest NEVER names deleted files. The
    merge's retry lands cleanly."""
    fs = _VacuumDuringCommitCASFS(spark)
    target = str(tmp_path / "gold")
    fs.target = target
    strm.merge_micro_batch(
        _evdf(spark, [(1, 100, 1, "a", 1.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    fs.armed = True
    with pytest.raises(mfs.ConcurrentWriterError, match="vacuum"):
        strm.merge_micro_batch(
            _evdf(spark, [(2, 200, 2, "b", 2.0)]),
            target, n_buckets=2, fs=fs, lease_owner="job",
        )
    # The in-window vacuum may or may not have reclaimed the staged work:
    # the r11 bump-anchored cutoff spares anything staged within its 1 s
    # mtime margin (here everything happens sub-second), which is SAFE —
    # spared-but-aborted staging is invisible debris. Either way the merge
    # raised and committed nothing; committed state is intact and readable.
    assert {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()} == {1}
    # the aborted writer's debris ages past the margin -> a follow-up
    # grace-less vacuum reclaims it (unless the in-window one already did)
    if not fs.vacuumed:
        stats = strm.merge_table_stats(target, fs=fs)
        assert stats["debris_versions"] + stats["staging_dirs"] > 0
        store = os.path.join(target, "store")
        old = time.time() - 7200
        for b in os.listdir(store):
            for v in os.listdir(os.path.join(store, b)):
                os.utime(os.path.join(store, b, v), (old, old))
        staging = os.path.join(target, ".staging")
        if os.path.isdir(staging):
            for d in os.listdir(staging):
                os.utime(os.path.join(staging, d), (old, old))
        assert strm.vacuum_merge_table(
            target, fs=fs, lease_owner="job", staged_grace_sec=0.0
        )
    stats = strm.merge_table_stats(target, fs=fs)
    assert stats["debris_versions"] == stats["staging_dirs"] == 0
    # retry lands
    strm.merge_micro_batch(
        _evdf(spark, [(2, 200, 2, "b", 2.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    assert {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()} == {1, 2}


# ---------------------------------------------------------------------------
# r11 (ADVICE r10): the read-to-rmtree TOCTOU, both halves
# ---------------------------------------------------------------------------


class _ReadToRmtreeWindowFS(mfs.CASLocalFS):
    """Suspend a PRE-bump writer at its manifest put until vacuum has read
    its retained set (first store-version rmtree = strictly after that
    read), then suspend vacuum's rmtree until the writer's commit attempt
    finishes — the EXACT interleaving of ADVICE r10: under r10 semantics
    the writer's rebase would pass its isdir re-verify and land a manifest
    naming files vacuum deletes a moment later."""

    def __init__(self):
        self.writer_ident: int | None = None
        self.w_staged = threading.Event()   # writer reached its put
        self.w_may_put = threading.Event()  # vacuum read the retained set
        self.w_done = threading.Event()     # writer's commit attempt over
        self.armed_rmtree = False

    def put_if_match(self, path: str, data: bytes, etag: str) -> bool:
        if (
            threading.get_ident() == self.writer_ident
            and path.endswith("_MANIFEST.json")
        ):
            self.w_staged.set()
            assert self.w_may_put.wait(120), "vacuum never read retained set"
        return super().put_if_match(path, data, etag)

    def rmtree(self, path: str) -> None:
        if self.armed_rmtree and f"{os.sep}store{os.sep}" in path:
            self.armed_rmtree = False
            self.w_may_put.set()
            assert self.w_done.wait(120), "writer never finished its commit"
        super().rmtree(path)


def test_vacuum_read_to_rmtree_window_prebump_writer_raises(spark, tmp_path):
    """r11 (ADVICE r10 medium): a writer that staged against the PRE-bump
    generation and lands its put attempt AFTER vacuum's retained-set read
    but BEFORE vacuum's rmtree must raise (gc_epoch change = genuine
    conflict), not rebase — under r10 its isdir re-verify passed in this
    window and the committed manifest named files vacuum then deleted."""
    import threading as _th

    fs = _ReadToRmtreeWindowFS()
    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _evdf(spark, [(1, 100, 1, "a", 1.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )

    w_err: list[BaseException] = []

    def _writer():
        try:
            strm.merge_micro_batch(
                _evdf(spark, [(2, 200, 2, "b", 2.0)]),
                target, n_buckets=2, fs=fs, lease_owner="job",
            )
        except BaseException as e:  # noqa: BLE001 — recorded for the assert
            w_err.append(e)
        finally:
            fs.w_done.set()

    wt = _th.Thread(target=_writer, daemon=True)
    fs.writer_ident = None
    wt.start()
    fs.writer_ident = wt.ident
    assert fs.w_staged.wait(120), "writer never staged"
    # backdate everything staged so far: the writer's uncommitted versions
    # must land in vacuum's reclaim set deterministically (not depend on
    # whether staging took longer than the cutoff's 1 s mtime margin) —
    # committed versions are referenced, so backdating cannot harm them
    old = time.time() - 7200
    store = os.path.join(target, "store")
    for b in os.listdir(store):
        for v in os.listdir(os.path.join(store, b)):
            os.utime(os.path.join(store, b, v), (old, old))
    staging = os.path.join(target, ".staging")
    if os.path.isdir(staging):
        for d in os.listdir(staging):
            os.utime(os.path.join(staging, d), (old, old))
    fs.armed_rmtree = True
    removed = strm.vacuum_merge_table(
        target, fs=fs, lease_owner="job", staged_grace_sec=0.0
    )
    wt.join(120)
    assert not wt.is_alive()
    # the writer raised the vacuum-conflict error instead of committing
    assert len(w_err) == 1 and isinstance(w_err[0], mfs.ConcurrentWriterError)
    assert "vacuum" in str(w_err[0])
    # vacuum really reclaimed the writer's staged (now-aborted) versions
    assert any(f"{os.sep}store{os.sep}" in p for p in removed)
    # committed state intact: every manifest rel exists, table readable
    man = json.loads(fs.read_bytes(os.path.join(target, "_MANIFEST.json")))
    for rel in man["buckets"].values():
        assert os.path.isdir(os.path.join(target, rel)), rel
    assert {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()} == {1}
    # retry lands cleanly against the post-bump generation
    strm.merge_micro_batch(
        _evdf(spark, [(2, 200, 2, "b", 2.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    assert {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()} == {1, 2}


class _PostBumpStagerFS(mfs.CASLocalFS):
    """Pause vacuum right after its gc_epoch bump lands (before it
    enumerates anything) until a POST-bump writer has staged; the writer's
    put is held until vacuum fully finishes (wrapper in the test) — so its
    unreferenced staged versions sit in vacuum's candidate scan at grace 0
    and must be spared by the bump-anchored mtime cutoff for the first-try
    put to safely reference them."""

    def __init__(self):
        self.vacuum_ident: int | None = None
        self.epoch_bumped = threading.Event()
        self.w3_staged = threading.Event()
        self.vacuum_done = threading.Event()

    def put_if_match(self, path: str, data: bytes, etag: str) -> bool:
        ok = super().put_if_match(path, data, etag)
        if (
            path.endswith("_MANIFEST.json")
            and threading.get_ident() == self.vacuum_ident
            and ok
            and b'"gc_epoch"' in data
            and not self.epoch_bumped.is_set()
        ):
            self.epoch_bumped.set()
            assert self.w3_staged.wait(120), "post-bump writer never staged"
        return ok


def test_vacuum_bump_cutoff_spares_postbump_stager_at_grace_zero(spark, tmp_path):
    """r11 (ADVICE r10 medium, second half): a writer that read the
    POST-bump manifest and staged while vacuum was scanning must have its
    versions spared at staged_grace_sec=0 (mtime >= bump instant), so its
    clean first-try conditional put lands a manifest whose files all
    survive — while genuinely old debris is still reclaimed."""
    import threading as _th

    fs = _PostBumpStagerFS()
    target = str(tmp_path / "gold")
    strm.merge_micro_batch(
        _evdf(spark, [(1, 100, 1, "a", 1.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    # genuinely old debris: must still be reclaimed at grace 0
    orphan = os.path.join(target, "store", "0", "deadbeefcafe")
    os.makedirs(orphan)
    old = time.time() - 7200
    os.utime(orphan, (old, old))

    removed: list[str] = []

    def _vacuum():
        fs.vacuum_ident = _th.get_ident()
        try:
            removed.extend(
                strm.vacuum_merge_table(
                    target, fs=fs, lease_owner="job", staged_grace_sec=0.0
                )
            )
        finally:
            fs.vacuum_done.set()

    vt = _th.Thread(target=_vacuum, daemon=True)
    vt.start()
    assert fs.epoch_bumped.wait(120), "vacuum never bumped the epoch"

    # post-bump writer: reads the bumped manifest, stages now (vacuum is
    # paused pre-scan), and its put is held until vacuum fully finished —
    # so vacuum's candidate scan definitely saw the staged versions as
    # unreferenced and only the bump-anchored cutoff protects them.
    orig_put = fs.put_if_match

    def _w3_put(path, data, etag):
        if path.endswith("_MANIFEST.json") and not fs.vacuum_done.is_set():
            fs.w3_staged.set()
            assert fs.vacuum_done.wait(120), "vacuum never finished"
        return orig_put(path, data, etag)

    fs.put_if_match = _w3_put  # type: ignore[method-assign]
    strm.merge_micro_batch(
        _evdf(spark, [(2, 200, 2, "b", 2.0)]),
        target, n_buckets=2, fs=fs, lease_owner="job",
    )
    fs.put_if_match = orig_put  # type: ignore[method-assign]
    vt.join(120)
    assert not vt.is_alive()
    # old debris reclaimed; the post-bump writer's staged work spared
    assert orphan in removed
    assert not any("deadbeefcafe" not in p and f"{os.sep}store{os.sep}" in p
                   for p in removed)
    # the writer committed first-try and every manifest rel exists
    man = json.loads(fs.read_bytes(os.path.join(target, "_MANIFEST.json")))
    for rel in man["buckets"].values():
        assert os.path.isdir(os.path.join(target, rel)), rel
    assert {r.user_id for r in strm.read_merged(spark, target, fs=fs).collect()} == {1, 2}
