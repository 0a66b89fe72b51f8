"""Crash-at-every-op sweeps of the derived-store layer (operators/index_commit).

One sweep per layer operation, parametrized over the store kinds that
support it: staged append (single-table for ivf, pq and signature,
multi-table for ivfpq), tombstone write, compaction and compaction with
purge. Each sweep injects a crash after EVERY mutating filesystem op of the
operation under simulated S3 semantics (NonAtomicRenameFS: rename =
copy+delete, put_atomic all-or-nothing), breaks the dead writer's lease,
runs ``index_commit.recover`` with a healthy filesystem (the restart) and
requires at every crash point:

- the store exactly before or exactly after the operation (a compaction of
  several units may stop between two unit swaps; its content never
  changes, and a purge never lets a tombstoned row back into a read);
- search read-back equal to the never-crashed store's, before the
  operation where the crash rolled it back and after it otherwise;
- a retry that converges on the never-crashed store;

and, over the sweep, both sides of the commit point. The stores are tiny
(two IVF cells, a handful of documents), built once per module.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

_PQ = dict(m=2, k=4, max_iters=1, round_decimals=6)
_BIG = 10_000  # a file-count threshold no unit reaches: only a purge picks units


def _text(prefix: str, tail: str = "") -> str:
    return " ".join(f"{prefix}_{j}" for j in range(30)) + tail


class _Kind:
    """One store kind on tiny data: how to build, append to and search it."""

    def __init__(self, spark, sf_dir, name):
        self.spark, self.name = spark, name
        self.id_col = "doc_id" if name == "signature" else "vec_id"
        if name == "signature":
            docs = [(i, _text(f"tok{i}")) for i in range(4)] + [(9, _text("shared"))]
            self.base = spark.createDataFrame(docs, "doc_id long, text string")
            self.batches = [
                spark.createDataFrame(rows, "doc_id long, text string")
                for rows in ([(100, _text("new")), (101, _text("other"))],
                             [(102, _text("third")), (103, _text("fourth"))])
            ]
            self.increment = spark.createDataFrame(
                [(1000, _text("shared", " tail")), (1001, _text("new", " tail"))],
                "doc_id long, text string",
            )
            return
        emb = (
            src.load_table(spark, sf_dir, "embeddings")
            .filter(F.col("label") < 2).orderBy("vec_id").limit(40).collect()
        )
        df = spark.createDataFrame(emb[:24], "vec_id long, embedding array<float>, label int")
        self.base = df.coalesce(1)
        self.batches = [
            spark.createDataFrame(
                [(r.vec_id, r.embedding) for r in emb[lo:lo + 8]],
                "vec_id long, embedding array<float>",
            ).coalesce(1)
            for lo in (24, 32)
        ]
        self.query_id = emb[0].vec_id
        self.query = [float(x) for x in emb[0].embedding]

    def store(self, path):
        return ic.store(self.name, path)

    def build(self, path):
        if self.name == "ivf":
            sim.build_ivf_index(self.base, path)
        elif self.name == "pq":
            clustering.pq_build_index(self.base, path, **_PQ)
        elif self.name == "ivfpq":
            clustering.build_ivfpq_index(self.base, path, **_PQ)
        else:
            dd.write_signature_table(self.base, path)

    def append(self, path, batch, fs=None):
        if self.name == "ivf":
            return sim.ivf_index_append(self.spark, path, batch, fs=fs)
        if self.name == "pq":
            return clustering.pq_index_append(self.spark, path, batch, fs=fs)
        if self.name == "ivfpq":
            return clustering.ivfpq_index_append(self.spark, path, batch, fs=fs)
        return dd.append_signature_table(batch, path, fs=fs, coalesce_files=1)

    def search(self, path):
        if self.name == "ivf":
            out = sim.ivf_topk_indexed(self.spark, path, self.query_id, k=10)
        elif self.name == "pq":
            out = clustering.pq_topk_indexed(self.spark, path, self.query, k=10)
        elif self.name == "ivfpq":
            out = clustering.ivfpq_topk_indexed(
                self.spark, path, self.query, k=10, n_probe=2, refine=4
            )
        else:
            out = dd.cross_corpus_neardup_indexed(
                self.increment, self.spark, path, threshold=0.5
            )
            return sorted(tuple(r) for r in out.collect())
        return [tuple(r) for r in out.collect()]  # ranked: order counts

    def doomed(self, path):
        """A key frame holding one id the store's search returns."""
        hit = 9 if self.name == "signature" else next(
            r[0] for r in self.search(path) if r[0] != self.query_id
        )
        return self.spark.createDataFrame([(hit,)], f"{self.id_col} long")


def _canon(rows):
    return tuple(sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows
    ))


def _state(spark, kind, path):
    """Every data table's rows, the tombstone ids and each unit's file count."""
    st = kind.store(path)
    tombs = ic.read_tombstones(spark, st)
    return (
        tuple(_canon(spark.read.parquet(st.path(rel)).collect()) for rel in st.tables),
        _canon(tombs.collect()) if tombs is not None else (),
        tuple(
            tuple((unit, len(files)) for unit, files in ic.units(st, rel).items())
            for rel in st.tables
        ),
    )


def _live(spark, kind, path):
    st = kind.store(path)
    return tuple(
        _canon(ic.read_live(spark, st, rel, kind.id_col).collect()) for rel in st.tables
    )


@pytest.fixture(scope="module")
def bases(spark, sf_dir, tmp_path_factory):
    """``bases(name)`` -> (kind, {"base", "fragmented", "tombstoned"} ->
    pristine path), built on first use: the built store; the same with one
    more append (two files per index cell); and the fragmented store with
    one searched id tombstoned."""
    root = tmp_path_factory.mktemp("store_bases")
    built = {}

    def get(name):
        if name not in built:
            kind = _Kind(spark, sf_dir, name)
            base = str(root / name / "base")
            kind.build(base)
            frag = str(root / name / "fragmented")
            shutil.copytree(base, frag)
            kind.append(frag, kind.batches[1])
            paths = {"base": base, "fragmented": frag}
            if kind.store(base).tombstones:
                tomb = str(root / name / "tombstoned")
                shutil.copytree(frag, tomb)
                ic.write_tombstones(kind.store(tomb), kind.doomed(tomb), kind.id_col)
                paths["tombstoned"] = tomb
            built[name] = kind, paths
        return built[name]

    return get


def _sweep(spark, tmp_path, kind, pristine, op, exact=True):
    """Crash ``op(path, fs)`` after every mutating fs op, recover, and check
    the store (module docstring). ``exact``: every crash point leaves the
    store exactly before or after; otherwise a point may stop between
    unit swaps, and each point must keep the live rows and the answer."""
    live, before, answer = (
        _live(spark, kind, pristine), _state(spark, kind, pristine), kind.search(pristine)
    )
    probe = str(tmp_path / "probe")
    shutil.copytree(pristine, probe)
    probe_fs = mfs.NonAtomicRenameFS()
    op(probe, probe_fs)
    after, want, total_ops = _state(spark, kind, probe), kind.search(probe), probe_fs.ops
    assert after != before and total_ops >= 3
    assert exact or want == answer

    outcomes = set()
    for crash_at in range(total_ops):
        path = str(tmp_path / f"run{crash_at}")
        shutil.copytree(pristine, path)
        try:
            op(path, mfs.NonAtomicRenameFS(fail_after_ops=crash_at))
        except mfs.NonAtomicRenameFS.InjectedCrash:
            # a crashed writer strands its lease; the restart breaks it
            # once the writer is known dead
            mfs.break_writer_lease(mfs.LOCAL_FS, kind.store(path).lease)
        ic.recover(kind.store(path))
        got = _state(spark, kind, path)
        outcome = {before: "rolled_back", after: "rolled_forward"}.get(got, "between")
        assert not exact or outcome != "between", f"torn at crash op {crash_at}"
        outcomes.add(outcome)
        if not exact:
            assert _live(spark, kind, path) == live, f"live rows at op {crash_at}"
        expected = answer if outcome == "rolled_back" else want
        assert kind.search(path) == expected, f"read-back at op {crash_at}"
        if outcome != "rolled_forward":
            op(path, None)  # the retry converges on the never-crashed store
            assert _state(spark, kind, path) == after, f"retry at op {crash_at}"
        shutil.rmtree(path)
    assert {"rolled_back", "rolled_forward"} <= outcomes


@pytest.mark.parametrize("name", ["ivf", "pq", "ivfpq", "signature"])
def test_append_crash_at_every_op(spark, tmp_path, bases, name):
    """Staged append: one table (ivf, pq, signature) or, for ivfpq, vectors
    and codes under one root marker — never one table appended without
    the other."""
    kind, paths = bases(name)
    _sweep(spark, tmp_path, kind, paths["base"],
           lambda path, fs: kind.append(path, kind.batches[0], fs))


@pytest.mark.parametrize("name", ["ivf", "ivfpq", "signature"])
def test_tombstone_write_crash_at_every_op(spark, tmp_path, bases, name):
    """Tombstone write: the search answers exactly pre-takedown (the doomed
    id still surfaces) or exactly post-takedown (it never does)."""
    kind, paths = bases(name)
    doomed = kind.doomed(paths["base"])
    _sweep(spark, tmp_path, kind, paths["base"],
           lambda path, fs: ic.write_tombstones(kind.store(path), doomed, kind.id_col, fs))


@pytest.mark.parametrize("name", ["ivf", "pq", "ivfpq", "signature"])
def test_compact_crash_at_every_op(spark, tmp_path, bases, name):
    """Compaction of every unit holding more than one file: rows and search
    never change, and a re-run finishes the units a crash left. A flat
    table is one unit, so it is exactly before or after."""
    kind, paths = bases(name)
    _sweep(spark, tmp_path, kind, paths["fragmented"],
           lambda path, fs: ic.compact(spark, kind.store(path), fs, max_files=1),
           exact=not kind.store("").cells)


@pytest.mark.parametrize("name", ["ivf", "ivfpq", "signature"])
def test_compact_purge_crash_at_every_op(spark, tmp_path, bases, name):
    """Compaction with purge: the search is the takedown answer at every
    crash point (tombstones are cleared only after the last tombstoned row
    is off disk), and a re-run converges on the purged store."""
    kind, paths = bases(name)
    _sweep(
        spark, tmp_path, kind, paths["tombstoned"],
        lambda path, fs: ic.compact(
            spark, kind.store(path), fs, max_files=_BIG, purge=True, id_col=kind.id_col
        ),
        exact=not kind.store("").cells,
    )


def test_recover_refuses_a_live_writer(bases, tmp_path):
    """Recovery takes the store's writer lease like every mutation: while
    another owner holds it, marker-less staging may be that writer's batch
    in flight, so ``recover`` raises and leaves it in place."""
    kind, paths = bases("ivf")
    path = str(tmp_path / "ivf")
    shutil.copytree(paths["base"], path)
    st = kind.store(path)
    staging = ic.staging_path(st.path("vectors"), "inflight")
    os.makedirs(os.path.join(staging, "label=0"))
    mfs.acquire_writer_lease(mfs.LOCAL_FS, st.lease, owner="live-writer")
    with pytest.raises(mfs.ConcurrentWriterError):
        ic.recover(st)
    assert os.path.isdir(staging)
    mfs.break_writer_lease(mfs.LOCAL_FS, st.lease)  # the writer is now dead
    assert staging in ic.recover(st)["removed"]
    assert not os.path.exists(staging)


def test_append_staging_invisible_to_readers(spark, sf_dir, tmp_path):
    """Pre-commit staging (and a committed-marker state before roll-forward)
    must be invisible to a concurrent reader of the live table: dot-prefixed
    dirs are excluded from Spark's listing, and files land only tag-renamed
    after the marker."""
    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120)
    base = emb.filter(F.col("vec_id") < 100)
    batch = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(base, path)
    before = _canon(spark.read.parquet(path + "/vectors").collect())

    # crash right before the marker PUT (op 1 is the writer-lease acquire,
    # op 2 the marker): staging fully written, zero commits
    fs = mfs.NonAtomicRenameFS(fail_after_ops=1)
    try:
        sim.ivf_index_append(spark, path, batch, fs=fs)
    except mfs.NonAtomicRenameFS.InjectedCrash:
        mfs.break_writer_lease(mfs.LOCAL_FS, path)
    # a reader sees the pre-append table exactly, debris and all
    assert _canon(spark.read.parquet(path + "/vectors").collect()) == before
    out = ic.recover(ic.store("ivf", path))
    assert out["removed"]  # the stranded staging dir was reclaimed
    assert _canon(spark.read.parquet(path + "/vectors").collect()) == before


def test_compact_purge_lands_crashed_tombstone_append_before_purge(
    spark, tmp_path
):
    """A tombstone write that crashed after its marker committed but before
    the staged tombstone file landed leaves an erasure that
    ``read_tombstones`` cannot see yet. A purge that cleared the tombstone
    dir then would destroy the committed tombstone while the doc's rows
    survive the rewrite (a silently lost erasure). ``compact`` lands
    crashed tombstone appends first, so the purge consumes them: erased
    rows off disk, nothing resurfaces."""
    base = spark.createDataFrame(
        [(i, _text(f"tok{i}")) for i in range(4)] + [(9, _text("shared"))],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [(1000, _text("shared", " tail"))], "doc_id long, text string"
    )
    path = str(tmp_path / "table")
    dd.write_signature_table(base, path)
    st = ic.store("signature", path)

    # hand-build the exact crash state: tombstone staged + marker PUT
    # (the commit point), files never landed
    tdir = st.path(st.tombstones)
    tag, staging = ic.new_staging(tdir)
    spark.createDataFrame([(9,)], "doc_id long").coalesce(1).write.parquet(staging)
    files = ic._staged_files(mfs.LOCAL_FS, staging)
    assert files, "staged tombstone file missing"
    mfs.LOCAL_FS.put_atomic(
        os.path.join(tdir, f"{ic.MARKER_PREFIX}{tag}.json"),
        json.dumps({"tag": tag, "files": files}).encode(),
    )
    # committed but unlanded: the plain tombstone read cannot see it yet
    assert ic.read_tombstones(spark, st) is None

    out = ic.compact(spark, st, target_files=1, purge=True)
    # the purge consumed the landed tombstone: rows physically gone
    assert out["purged_rows"] > 0
    assert 9 not in {r.doc_id for r in spark.read.parquet(path).collect()}
    got = dd.cross_corpus_neardup_indexed(increment, spark, path, threshold=0.5).collect()
    assert got == [], "erased doc resurfaced after purge"
    # and the consumed tombstone is cleared (no leftover erasure debris)
    assert ic.read_tombstones(spark, st) is None


def test_compaction_crash_replay_spares_later_tombstones(spark, tmp_path):
    """A tombstone committed BETWEEN a post-marker compaction crash and its
    recovery must survive the stale marker's replay: the marker records
    exactly the tombstone files its purge consumed and roll-forward deletes
    only those, never the whole dir. Sweep every crash point; at each,
    erase a SECOND doc after the crash, heal, and require both erasures to
    hold (doc 9 via purge-or-tombstone, doc 8 via its post-crash
    tombstone) with a clean re-purge landing."""
    base = spark.createDataFrame(
        [(i, _text(f"tok{i}")) for i in range(4)]
        + [(9, _text("shared")), (8, _text("second"))],
        "doc_id long, text string",
    )
    inc9 = spark.createDataFrame([(1000, _text("shared", " tail"))], "doc_id long, text string")
    inc8 = spark.createDataFrame([(2000, _text("second", " tail"))], "doc_id long, text string")

    pristine = str(tmp_path / "pristine")
    dd.write_signature_table(base, pristine)
    ic.write_tombstones(
        ic.store("signature", pristine), spark.createDataFrame([(9,)], "doc_id long"), "doc_id"
    )

    def crawl(p, inc):
        return sorted(
            tuple(r)
            for r in dd.cross_corpus_neardup_indexed(inc, spark, p, threshold=0.5).collect()
        )

    def purge(p, fs=None):
        ic.compact(spark, ic.store("signature", p), fs, target_files=1, purge=True)

    probe = str(tmp_path / "probe")
    shutil.copytree(pristine, probe)
    probe_fs = mfs.NonAtomicRenameFS()
    purge(probe, probe_fs)
    total_ops = probe_fs.ops

    doomed8 = spark.createDataFrame([(8,)], "doc_id long")
    spared = 0
    for crash_at in range(total_ops):
        path = str(tmp_path / f"run{crash_at}")
        shutil.copytree(pristine, path)
        st = ic.store("signature", path)
        try:
            purge(path, mfs.NonAtomicRenameFS(fail_after_ops=crash_at))
        except mfs.NonAtomicRenameFS.InjectedCrash:
            mfs.break_writer_lease(mfs.LOCAL_FS, st.lease)
        # a NEW erasure commits between the crash and the restart healing
        ic.write_tombstones(st, doomed8, "doc_id")
        marked_post_commit = any(
            e.startswith(ic.SWAP_PREFIX) for e in mfs.LOCAL_FS.listdir(path)
        )
        ic.recover(st)
        # BOTH erasures hold at every crash point
        assert crawl(path, inc9) == [], f"doc 9 resurfaced at op {crash_at}"
        assert crawl(path, inc8) == [], f"doc 8 erasure lost at op {crash_at}"
        if marked_post_commit:
            spared += 1  # replay ran with the later tombstone present
        # a clean purge then lands doc 8's physical erasure too
        purge(path)
        left = {r.doc_id for r in spark.read.parquet(path).collect()}
        assert 8 not in left and 9 not in left
        assert crawl(path, inc8) == [] and crawl(path, inc9) == []
        shutil.rmtree(path)
    assert spared > 0, "sweep never exercised a post-marker replay"
