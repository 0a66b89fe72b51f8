"""Every store the package reads is written by its current writers, so the
readers index the fields those writers record and accept no other layout.
One test runs each writer on a tiny table and checks that its output holds
every such field; the other checks that a manifest missing one of them is
refused at load."""

from __future__ import annotations

import glob
import json
import os

import pytest

from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

_KW = dict(keys=["user_id"], order_cols=["ts"], n_buckets=2)
_MANIFEST_FIELDS = {"buckets", "params", "schema", "commit"}
_RECORD_FIELDS = {"id", "parent", "kind", "empty", "captured", "ts"}


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"n{i % 3}", float(i), i) for i in range(lo, hi)],
        "user_id long, name string, value double, ts long",
    )


def _assert_readable(target, writer):
    """The manifest, every snapshot and every commit record under
    ``target`` hold the fields the readers index, read as raw JSON after
    ``writer`` ran."""
    docs = [strm._manifest_path(target)]
    docs += glob.glob(os.path.join(target, "_snapshots", "*.json"))
    for path in docs:
        with open(path) as fh:
            m = json.load(fh)
        assert _MANIFEST_FIELDS <= set(m), (writer, path, sorted(m))
        assert m["commit"]["id"], (writer, path)
    for path in glob.glob(os.path.join(target, "changes", "*", "_commit.json")):
        with open(path) as fh:
            rec = json.load(fh)
        assert _RECORD_FIELDS <= set(rec), (writer, path, sorted(rec))
        assert rec["ts"] is not None, (writer, path)
        if rec["captured"] and not rec["empty"]:
            assert "schema" in rec, (writer, path)


def test_every_writer_records_what_the_readers_index(spark, tmp_path, monkeypatch):
    fs = mfs.CASLocalFS()  # vacuum's gc_epoch bump is a manifest put too
    target = str(tmp_path / "gold")
    writers = [
        ("merge", lambda: strm.merge_table(
            _batch(spark, 0, 8), target, stats_cols=["value"], fs=fs, **_KW)),
        ("uncaptured merge", lambda: strm.merge_table(
            _batch(spark, 6, 10), target, capture_changes=False, fs=fs, **_KW)),
        ("snapshot", lambda: strm.snapshot_merge_table(target, "s1", fs=fs)),
        ("keys delete", lambda: strm.delete_from_merge_table(
            spark, target, keys=spark.range(2).withColumnRenamed("id", "user_id"),
            fs=fs)),
        ("predicate delete", lambda: strm.delete_from_merge_table(
            spark, target, predicate="value > 8", fs=fs)),
        ("optimize", lambda: strm.optimize_merge_table(
            spark, target, cluster_by="value", fs=fs)),
        ("rebucket", lambda: strm.rebucket_merge_table(spark, target, 4, fs=fs)),
        ("rollback with spark", lambda: strm.rollback_merge_table(
            target, "s1", fs=fs, spark=spark)),
        ("rollback without spark", lambda: strm.rollback_merge_table(
            target, "s1", fs=fs)),
        ("vacuum", lambda: strm.vacuum_merge_table(
            target, fs=fs, staged_grace_sec=0.0)),
    ]
    for name, write in writers:
        write()
        _assert_readable(target, name)
    assert strm._load_manifest(target, fs)["gc_epoch"] == 1

    events = str(tmp_path / "events_gold")
    strm.merge_micro_batch(
        spark.createDataFrame(
            [(1, "view", 1.0, 10, 100), (2, "buy", 2.0, 20, 200)],
            "user_id long, event_type string, value double, ts long, event_id long",
        ),
        events, n_buckets=2,
    )
    _assert_readable(events, "merge_micro_batch")

    # derived stores: a purge's swap marker lists the tombstones it consumed
    sig = str(tmp_path / "sig")
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(8))) for i in range(3)],
        "doc_id long, text string",
    )
    dd.write_signature_table(docs, sig)
    params = spark.read.parquet(sig + "/_params").first()
    assert params["family"] == "xxhash64"
    st = ic.store("signature", sig)
    ic.write_tombstones(st, spark.range(1).withColumnRenamed("id", "doc_id"), "doc_id")
    markers = []
    roll = ic._roll_swap_forward

    def read_marker(fs_, st_, table_dir, meta):
        path = os.path.join(table_dir, f"{ic.SWAP_PREFIX}{meta['tag']}.json")
        markers.append(json.loads(fs_.read_bytes(path).decode()))
        roll(fs_, st_, table_dir, meta)

    monkeypatch.setattr(ic, "_roll_swap_forward", read_marker)
    assert ic.compact(spark, st, purge=True)["purged_rows"] == 1
    assert markers and all("tomb_files" in m for m in markers)
    assert markers[-1]["tomb_files"]

    # BPE: the config pins the pretokenize mode, and save refuses none
    merges = spark.createDataFrame([(0, "a", "b")], "rank int, left string, right string")
    bpe = str(tmp_path / "bpe")
    tx.bpe_save(bpe, merges)
    assert spark.read.parquet(bpe + "/config").first()["pretokenize"] == "whitespace"
    with pytest.raises(ValueError, match="pretokenize"):
        tx.bpe_save(str(tmp_path / "bpe_none"), merges, pretokenize=None)


def test_manifest_without_a_recorded_field_is_refused(spark, tmp_path):
    target = str(tmp_path / "gold")
    strm.merge_table(_batch(spark, 0, 4), target, **_KW)
    strm.snapshot_merge_table(target, "s")
    paths = (strm._manifest_path(target), strm._snapshot_path(target, "s"))
    stored = {}
    for path in paths:
        with open(path) as fh:
            stored[path] = json.load(fh)
    for field in ("params", "schema", "commit"):
        for path in paths:
            with open(path, "w") as fh:
                json.dump({k: v for k, v in stored[path].items() if k != field}, fh)
        for load in (
            lambda: strm._load_manifest(target),
            lambda: strm._load_manifest_cas(target, mfs.CASLocalFS()),
            lambda: strm._load_snapshot(target, "s"),
        ):
            with pytest.raises(ValueError, match="corrupt merge manifest"):
                load()
