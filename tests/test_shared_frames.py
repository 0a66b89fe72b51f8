"""A returned lazy plan that reads one frame from several branches shares it
through one lazy checkpoint (``dedup._truncate_lineage``), not a persisted
table: the LSH and SimHash signature tables and the ``shared_scans`` scans.
Under AQE each in-memory scan of a persisted frame is a table-cache stage
with a job of its own; the checkpoint is filled by the first stage that
reads it. ``sources.io.release`` frees the checkpoint blocks after the
caller's last action, which ``spark.catalog.clearCache()`` does not."""

from __future__ import annotations

import uuid

import pytest

from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry
from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import release

# warm jobs of one noop run at sf0.001 (local[4], 4 shuffle partitions).
# x2_minhash_lsh reads 4 or 5: when the shingle-set broadcast finishes after
# the candidate shuffle, AQE first reuses that broadcast for the other
# verify side (on the checkpoint's estimate), then, on its measured size,
# broadcasts the smaller candidate set instead, which adds that broadcast's
# job and runs the result stage as a job of its own.
_WARM_JOBS = {"x2_minhash_lsh": 5, "x2_cross_corpus_lsh": 5, "x2_simhash": 3}


def _jobs(spark, fn):
    """Run ``fn`` under a job group of its own; return its result and the
    number of Spark jobs it launched, read from the status tracker."""
    sc = spark.sparkContext
    group = "shared-frames-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _cached_rdds(spark):
    return {int(i.id()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _rdd_leaves(df):
    """The RDD id of each ``LogicalRDD`` leaf of ``df``'s optimized plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [
        int(leaves.apply(i).rdd().id())
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    ]


@pytest.mark.parametrize("name", sorted(_WARM_JOBS))
def test_signature_table_is_one_lazy_checkpoint(spark, sf_dir, name):
    """No in-memory relation, every RDD leaf is the one signature
    checkpoint, no job at build, and the warm run stays in its budget."""
    build = load_registry()[name][0]
    warm = build(spark, sf_dir)
    _noop(warm)
    release(warm)
    df, build_jobs = _jobs(spark, lambda: build(spark, sf_dir))
    assert build_jobs == 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
    rdds = _rdd_leaves(df)
    assert len(rdds) >= 2 and len(set(rdds)) == 1, rdds
    _, jobs = _jobs(spark, lambda: _noop(df))
    release(df)
    assert jobs <= _WARM_JOBS[name]


@pytest.mark.parametrize("name", ["x2_minhash_lsh", "tpch_suite"])
def test_release_frees_the_checkpoint_blocks(spark, sf_dir, name):
    """The blocks exist after the action and outlive ``clearCache()``;
    ``release`` frees them all."""
    build = load_registry()[name][0]
    before = _cached_rdds(spark)
    df = build(spark, sf_dir)
    _noop(df)
    assert _cached_rdds(spark) - before
    spark.catalog.clearCache()
    assert _cached_rdds(spark) - before
    release(df)
    assert _cached_rdds(spark) - before == set()
