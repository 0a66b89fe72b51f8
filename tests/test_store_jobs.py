"""Merge-table commits compute each thing once: the touched buckets are
observed on one pass over the batch keys, the merged rows and the commit's
change rows come from one merge window, the column stats are observed on
the write that stages the buckets, per-file stats and commit deltas are
read with the schema they were written with, and a delete's count is
observed on its delta write. Job budgets are counted per operation in a
job group of its own, on the session fixture's small in-memory tables."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import local_table
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import erasure
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

_SCHEMA = "user_id long, name string, value double, ts timestamp"
_KW = dict(keys=["user_id"], order_cols=["ts"], n_buckets=4,
           stats_cols=["value", "name", "ts"])


def _jobs(spark, fn):
    """Run ``fn`` under a job group of its own; return its result and the
    number of Spark jobs it launched, read from the status tracker."""
    sc = spark.sparkContext
    group = "store-jobs-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _batch(spark, lo, hi, v):
    """Rows ``lo..hi-1``; every 7th name and every 11th value is null."""
    return spark.createDataFrame(
        [(i, None if i % 7 == 0 else f"n{i % 5}",
          None if i % 11 == 0 else float(i * v),
          dt.datetime(2024, 1, 1) + dt.timedelta(hours=i * v))
         for i in range(lo, hi)],
        _SCHEMA,
    )


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A merge table with a 's0' snapshot after its first commit and three
    commits on top, each updating some keys and inserting others."""
    target = str(tmp_path_factory.mktemp("store_jobs") / "gold")
    strm.merge_table(_batch(spark, 0, 40, 1), target, **_KW)
    strm.snapshot_merge_table(target, "s0")
    for c in range(1, 4):
        strm.merge_table(_batch(spark, 30 * c, 30 * c + 25, c + 1), target, **_KW)
    return target


@pytest.fixture
def table(base, tmp_path):
    """A private copy of ``base`` (manifests name relative paths)."""
    return shutil.copytree(base, str(tmp_path / "gold"))


def _rows(df):
    return sorted(tuple(r) for r in df.drop("_commit_ts").collect())


def test_merge_with_stats_and_capture_stays_in_its_job_budget(spark, table):
    # the observed touched-bucket set (1), the merge window's shuffle and
    # the stage write that computes it and observes the stats (2), and the
    # delta write from the window's checkpoint (1). Collecting the touched
    # buckets through a distinct, deduplicating the batch in a window of
    # its own, re-reading the staged files for the stats, re-running the
    # merge for the delta or joining old and staged files for the change
    # rows would exceed 4
    _, n = _jobs(spark, lambda: strm.merge_table(
        _batch(spark, 50, 65, 5), table, **_KW))
    assert n <= 4
    live = {r.user_id: r.value for r in strm.read_merged(spark, table).collect()}
    assert len(live) == 55 + 5 + 25 + 25  # 0..54, 55..59 new, 60..84, 90..114
    assert live[52] == 260.0 and live[59] == 295.0 and live[64] == 320.0


def test_optimize_stays_in_its_job_budget(spark, table):
    # a footer job on the restaged files would exceed 5
    man, n = _jobs(spark, lambda: strm.optimize_merge_table(
        spark, table, cluster_by="value", cluster_files=2))
    assert n <= 5
    assert set(man["filestats"]) == set(man["buckets"])


def test_keys_delete_counts_rows_from_its_delta_write(spark, table):
    # collecting the touched buckets through a distinct, or counting rows
    # before or after the commit, would exceed 9
    keys = spark.createDataFrame([(3,), (33,), (999,)], "user_id long")
    removed, n = _jobs(
        spark, lambda: strm.delete_from_merge_table(spark, table, keys=keys))
    assert removed == 2 and n <= 9
    assert strm.read_merged(spark, table).count() == 105 - 2


def test_keys_delete_with_local_relation_keys_broadcasts_them(spark, table):
    # keys as a local relation have a size estimate, so the anti and semi
    # joins broadcast them; the same keys as an RDD (above) plan two
    # sort-merge joins whose four shuffle stages add a job each
    keys = local_table(spark, [(3,), (33,), (999,)],
                       StructType([StructField("user_id", LongType())]))
    removed, n = _jobs(
        spark, lambda: strm.delete_from_merge_table(spark, table, keys=keys))
    assert removed == 2 and n <= 5
    assert strm.read_merged(spark, table).count() == 105 - 2


def test_predicate_delete_counts_rows_from_its_delta_write(spark, table):
    # counting matches per bucket through a groupBy, or rows before or
    # after, would exceed 3.
    # Values 180..252 sit at keys 60..84 (77 is null): 67..84 less 77 match
    removed, n = _jobs(spark, lambda: strm.delete_from_merge_table(
        spark, table, predicate="value BETWEEN 200 AND 300"))
    assert removed == 17 and n <= 3
    assert strm.read_merged(spark, table).count() == 105 - 17


def test_read_commit_changes_builds_without_a_job(spark, base):
    # an inferred read would launch one footer job per delta in the range
    df, n = _jobs(spark, lambda: strm.read_commit_changes(spark, base, since="s0"))
    assert n == 0
    assert df.agg(F.max("_commit_seq")).first()[0] == 3


def _assert_stats_recomputed(spark, target, cols):
    """The manifest's per-bucket stats equal a groupBy over the table.
    Bounds are compared as JSON text, so NaN and the sign of -0.0 count."""
    man = strm._load_manifest(target)
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}"),
                 F.sum(F.col(c).isNull().cast("long")).alias(f"nu_{c}"),
                 F.approx_count_distinct(c).alias(f"nd_{c}")]
    got = strm.read_merged(spark, target).groupBy("__bucket").agg(*aggs).collect()
    assert {str(r["__bucket"]) for r in got} == set(man["stats"]) == set(man["buckets"])
    for r in got:
        b = str(r["__bucket"])
        ns = man["nullstats"][b]
        assert ns["rows"] == r["rows"]
        for c in cols:
            assert ns["nulls"][c] == r[f"nu_{c}"]
            assert ns["ndv"][c] == r[f"nd_{c}"]
            want = strm._enc_bounds(r[f"mn_{c}"], r[f"mx_{c}"])
            assert json.dumps(man["stats"][b].get(c)) == json.dumps(want), (b, c)
    return man


def test_manifest_stats_equal_a_recomputed_aggregate(spark, base):
    _assert_stats_recomputed(spark, base, _KW["stats_cols"])


_TYPED_COLS = ["s", "d", "day", "t"]


def _typed_batch(spark, lo, hi):
    """Keys ``lo..hi-1`` with a string, a double, a date and a timestamp
    column. The double is NULL in every row of bucket 0 (of 4), -0.0 at
    every 9th key and NaN at every 13th; no row holds +0.0, so each
    bucket's minimum has one sign."""
    b = F.pmod(F.xxhash64("k"), F.lit(4))
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 != 0, F.concat(F.lit("s"), (F.col("id") % 5).cast("string"))).alias("s"),
        F.when(b == 0, F.lit(None).cast("double"))
        .when(F.col("id") % 9 == 0, F.lit(-0.0))
        .when(F.col("id") % 13 == 0, F.lit(float("nan")))
        .otherwise(F.col("id") * 1.5 + 1).alias("d"),
        F.when(F.col("id") % 11 != 0, F.date_add(F.lit(dt.date(2024, 1, 1)), F.col("id").cast("int"))).alias("day"),
        (F.lit(dt.datetime(2024, 1, 1)) + F.make_interval(hours=F.col("id").cast("int"))).alias("t"),
    )


def test_observed_stats_equal_a_recomputed_aggregate_for_every_write_shape(spark, tmp_path):
    """Stats observed on the stage write equal the grouped aggregate for
    string, double, date and timestamp columns, an all-NULL bucket, a
    clustered write (whose range partitioner samples its input: rows must
    not be counted twice) and an uncaptured merge; an empty batch commits
    nothing in one job."""
    target = str(tmp_path / "typed")
    kw = dict(keys=["k"], order_cols=["t"], n_buckets=4, stats_cols=_TYPED_COLS)
    strm.merge_table(_typed_batch(spark, 0, 60), target, **kw)
    man = _assert_stats_recomputed(spark, target, _TYPED_COLS)
    nulls = [b for b, ns in man["nullstats"].items() if ns["nulls"]["d"] == ns["rows"]]
    assert nulls == ["0"] and "d" not in man["stats"]["0"]
    assert man["nullstats"]["0"]["ndv"]["d"] == 0
    assert any(json.dumps(st["d"][0]) == "-0.0" for st in man["stats"].values() if "d" in st)
    assert any(json.dumps(st["d"][1]) == "NaN" for st in man["stats"].values() if "d" in st)

    strm.merge_table(_typed_batch(spark, 40, 100), target, cluster_by="t", cluster_files=2, **kw)
    man = _assert_stats_recomputed(spark, target, _TYPED_COLS)
    assert set(man["filestats"]) == set(man["buckets"])
    assert sum(ns["rows"] for ns in man["nullstats"].values()) == 100

    strm.merge_table(_typed_batch(spark, 90, 130), target, capture_changes=False, **kw)
    man = _assert_stats_recomputed(spark, target, _TYPED_COLS)
    assert sum(ns["rows"] for ns in man["nullstats"].values()) == 130

    _, n = _jobs(spark, lambda: strm.merge_table(_typed_batch(spark, 0, 0), target, **kw))
    assert n == 1
    assert json.dumps(strm._load_manifest(target)) == json.dumps(man)


def _record(target, cid):
    with open(os.path.join(target, "changes", cid, "_commit.json")) as f:
        return json.load(f)


def test_scrubbed_delta_reads_through_its_recorded_schema(spark, table):
    # the first commit after s0 updated keys 30..39 and inserted 40..54
    cid = strm._load_manifest(table)["commit"]["id"]
    for _ in range(2):
        cid = _record(table, cid)["parent"]
    doomed = spark.createDataFrame([(31,), (35,)], "user_id long")
    assert erasure._scrub_delta(spark, table, cid, doomed, ["user_id"], mfs.LOCAL_FS)
    recorded, n = _jobs(spark, lambda: strm.read_commit_changes(spark, table, since="s0"))
    assert n == 0
    got = _rows(recorded)
    mine = [r for r in got if r[0] in (31, 35)]
    # updated keys keep key-only preimage evidence, their content is gone
    assert mine and all(r[1] is None and r[2] is None and r[3] is None
                        and r[4] == "update_preimage" for r in mine)
    # the scrub keeps every column and type, so the recorded schema holds
    active = strm._delta_dir(table, cid, mfs.LOCAL_FS)
    recorded_schema = StructType.fromJson(_record(table, cid)["schema"])
    assert (spark.read.parquet(active).schema
            == spark.read.schema(recorded_schema).parquet(active).schema)


_CDC_SCHEMA = "k long, v string, w double, t long"
_CDC_KW = dict(keys=["k"], order_cols=["t"], n_buckets=2)
# (step, batch schema, batch rows): each merged on the state the steps
# before it left, on a table first holding a NULL key and keys 1..3
_CDC_STEPS = [
    ("null key", _CDC_SCHEMA,
     [(None, "a2", 1.5, 2), (3, "d", 4.0, 2)]),
    ("duplicate batch keys", _CDC_SCHEMA,
     [(1, "x", 9.0, 5), (1, "y", 8.0, 7), (1, "z", 7.0, 6),
      (4, "p", 1.0, 1), (4, "q", 2.0, 3)]),
    ("row equal to its stored row", _CDC_SCHEMA, [(2, "c", 3.0, 1)]),
    ("added column", _CDC_SCHEMA + ", extra string",
     [(2, "c", 3.0, 1, "e"), (5, "n", 0.0, 1, "f")]),
    ("omitted column", "k long, v string, t long",
     [(1, "y", 7), (6, "m", 1)]),
]


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_merge_delta_is_the_state_diff_without_a_join(spark, tmp_path, monkeypatch):
    """Each commit's delta equals ``_change_rows`` over the states before
    and after it, and the delta the commit writes is planned without a
    join: the merge window pairs each key's rows."""
    target = str(tmp_path / "cdc")
    strm.merge_table(spark.createDataFrame(
        [(None, "a", 1.0, 1), (1, "b", 2.0, 1), (2, "c", 3.0, 1), (3, "d", 4.0, 1)],
        _CDC_SCHEMA), target, **_CDC_KW)
    strm.snapshot_merge_table(target, "step0")
    plans = []
    commit = strm._commit

    def _spy(*args, **kw):
        if kw.get("changes") is not None:
            plans.append(kw["changes"]._jdf.queryExecution().optimizedPlan().toString())
        return commit(*args, **kw)

    monkeypatch.setattr(strm, "_commit", _spy)
    for i, (step, schema, rows) in enumerate(_CDC_STEPS, start=1):
        strm.merge_table(spark.createDataFrame(rows, schema), target, **_CDC_KW)
        strm.snapshot_merge_table(target, f"step{i}")
        got = strm.read_commit_changes(
            spark, target, since=f"step{i - 1}", until=f"step{i}"
        ).drop("_commit_seq", "_commit_ts")
        want = strm._change_rows(
            strm.read_merged(spark, target, snapshot=f"step{i - 1}"),
            strm.read_merged(spark, target, snapshot=f"step{i}"), ["k"])
        assert got.columns == want.columns, step
        assert _sorted_rows(got) == _sorted_rows(want), step
    assert len(plans) == len(_CDC_STEPS)
    assert not [p for p in plans if "Join" in p]
    # the steps' own expectations, so an equal but wrong pair cannot pass
    deltas = [
        _sorted_rows(strm.read_commit_changes(
            spark, target, since=f"step{i - 1}", until=f"step{i}"
        ).drop("_commit_seq", "_commit_ts").select("k", "v", "_change_type"))
        for i in range(1, len(_CDC_STEPS) + 1)
    ]
    assert deltas[0] == sorted([
        (None, "a", "update_preimage"), (None, "a2", "update_postimage"),
        (3, "d", "update_preimage"), (3, "d", "update_postimage")], key=repr)
    assert deltas[1] == sorted([
        (1, "b", "update_preimage"), (1, "y", "update_postimage"),
        (4, "q", "insert")], key=repr)
    assert deltas[2] == []
    assert deltas[3] == sorted([
        (2, "c", "update_preimage"), (2, "c", "update_postimage"),
        (5, "n", "insert")], key=repr)
    assert deltas[4] == sorted([
        (1, "y", "update_preimage"), (1, "y", "update_postimage"),
        (6, "m", "insert")], key=repr)
    live = {r.k: (r.v, r.w, r.t, r.extra) for r in strm.read_merged(spark, target).collect()}
    assert live == {None: ("a2", 1.5, 2, None), 1: ("y", None, 7, None),
                    2: ("c", 3.0, 1, "e"), 3: ("d", 4.0, 2, None),
                    4: ("q", 2.0, 3, None), 5: ("n", 0.0, 1, "f"),
                    6: ("m", None, 1, None)}


def _cached_rdds(spark):
    return {int(i.id()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_merge_releases_its_checkpoint_blocks(spark, tmp_path, monkeypatch):
    """The delta is written from the merge window's materialized blocks,
    and a merge releases them when it ends: after it commits and after
    its commit raises."""
    target = str(tmp_path / "gold")
    before = _cached_rdds(spark)
    during = []
    commit = strm._commit

    def _spy(*args, **kw):
        during.append(_cached_rdds(spark) - before)
        return commit(*args, **kw)

    monkeypatch.setattr(strm, "_commit", _spy)
    for c in range(3):
        strm.merge_table(_batch(spark, 20 * c, 20 * c + 30, c + 1), target, **_KW)
    assert len(during) == 3 and all(during)
    assert _cached_rdds(spark) - before == set()

    def _lost(*args, **kw):
        during.append(_cached_rdds(spark) - before)
        raise mfs.ConcurrentWriterError("lost the race")

    monkeypatch.setattr(strm, "_commit", _lost)
    with pytest.raises(mfs.ConcurrentWriterError):
        strm.merge_table(_batch(spark, 70, 80, 9), target, **_KW)
    assert during[-1]
    assert _cached_rdds(spark) - before == set()
    assert strm.read_merged(spark, target).count() == 70

