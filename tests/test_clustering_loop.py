"""k-means and PQ training share one Lloyd loop: ``pq_train`` trains all m
subspaces in one pass per iteration, each subspace freezing on its own
convergence, and ``kmeans`` is its one-subspace case. These tests pin the
job budget of a training run, the per-subspace equivalence with a one-
subspace run, the loop's preconditions, and the vector-length check of the
assignment expression."""

from __future__ import annotations

import math
import uuid
import warnings
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark import sources as src
from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering


def _jobs(spark, fn):
    """Run ``fn`` under a job group of its own; return its result and the
    number of Spark jobs it launched, read from the status tracker."""
    sc = spark.sparkContext
    group = "clustering-jobs-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pq_train_costs_about_one_kmeans(spark, sf_dir):
    # one seed collect, then two jobs (the aggregate's map stage and its
    # collect) per iteration, whatever m is. A loop per subspace paid that
    # m times over, plus a dim probe (89 jobs for m=8).
    emb = src.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clustering.kmeans(emb, k=8, max_iters=5)  # warm: footer read, codegen
    clustering.pq_train(emb, m=8, k=16, max_iters=5)
    _, km_jobs = _jobs(spark, lambda: clustering.kmeans(emb, k=8, max_iters=5))
    _, pq_jobs = _jobs(spark, lambda: clustering.pq_train(emb, m=8, k=16, max_iters=5))
    assert km_jobs <= 11, km_jobs
    assert pq_jobs <= km_jobs + 1, (pq_jobs, km_jobs)


def test_kmeans_df_observes_its_shift_on_the_checkpoint_job(spark):
    # per iteration: the assignment and update aggregates and the job that
    # fills the centroid checkpoint and observes the max shift. A separate
    # max-shift aggregate over the checkpoint added one job per iteration
    # (38 jobs for this cold build). The tables are a copy of sf0.01.
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry

    sf = str(Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.01")
    build = load_registry()["x3_kmeans_df_clusters"][0]
    _, n = _jobs(spark, lambda: build(spark, sf))
    assert n <= 33, n


def _staggered(spark):
    """Rows whose two 2-wide subspaces converge at different iterations:
    subspace 0 holds two tight, far-apart blobs (stable after one update),
    subspace 1 evenly spaced points on a line, which Lloyd splits in two
    over several iterations. Integer coordinates keep every sum exact."""
    rows = []
    for i in range(40):
        blob = 0 if i % 2 else 100
        rows.append((i, [float(blob + i % 3), float(blob), float(i), float(i % 2)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_train_equals_kmeans_per_slice_under_staggered_freezes(spark):
    df = _staggered(spark)

    def slice_cents(sub, iters):
        sliced = df.select(
            "vec_id", F.slice("embedding", 2 * sub + 1, 2).alias("sv")
        )
        return clustering.kmeans(sliced, vec_col="sv", k=2, max_iters=iters)[1]

    # the two subspaces really stop at different iterations
    assert slice_cents(0, 2) == slice_cents(0, 10)
    assert slice_cents(1, 2) != slice_cents(1, 10)
    threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    before = spark.conf.get(threshold)
    books = clustering.pq_train(df, m=2, k=2, max_iters=10)
    assert books == [slice_cents(0, 10), slice_cents(1, 10)]
    assert spark.conf.get(threshold) == before
    rounded = clustering.pq_train(df, m=2, k=2, max_iters=3, round_decimals=6)
    assert rounded[1] == clustering.kmeans(
        df.select("vec_id", F.slice("embedding", 3, 2).alias("sv")),
        vec_col="sv", k=2, max_iters=3, round_decimals=6,
    )[1]


def test_pq_train_sums_like_kmeans_past_the_hash_aggregate_fallback(spark):
    # 2 subspaces x 64 clusters fill the 128 Summarizer buffers at which
    # Spark's object hash aggregate would fall back to sort-based merging
    # (changing the last bits of the sums) though a one-subspace run holds
    # 64; one partition, and sums that are not exact in binary.
    rows = [(i, [math.sin(i * 7 + d) for d in range(4)]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    books = clustering.pq_train(df, m=2, k=64, max_iters=2)
    for sub in range(2):
        sliced = df.select("vec_id", F.slice("embedding", 2 * sub + 1, 2).alias("sv"))
        assert books[sub] == clustering.kmeans(sliced, vec_col="sv", k=64, max_iters=2)[1]


def test_lloyd_preconditions(spark):
    df = _staggered(spark)
    with pytest.raises(ValueError, match="dim 4 not divisible by m 3"):
        clustering.pq_train(df, m=3, k=2)

    few = df.filter(F.col("vec_id") < 3)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        books = clustering.pq_train(few, m=2, k=8, max_iters=2)
    assert [str(w.message) for w in caught if "proceeding with k=3" in str(w.message)] \
        == ["k=8 but input has only 3 rows; proceeding with k=3"]
    assert [len(b) for b in books] == [3, 3]

    with pytest.raises(ValueError, match="empty input"):
        clustering.pq_train(few, m=2, k=2, train_fraction=1e-9)


def test_wrong_length_vectors_raise_and_nulls_pass(spark):
    books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]

    def encode(vec):
        df = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
        return clustering.pq_encode(df, books).first().pq_code

    assert encode([1.0, 1.0, 0.0, 0.0]) == [1, 0]
    for bad in ([1.0, 1.0], [1.0, 1.0, 1.0, 1.0, 1.0, 1.0]):
        with pytest.raises(Exception, match="vector of length"):
            encode(bad)
    assert encode(None) == [0, 0]

    cents = [[0.0, 0.0, 0.0], [9.0, 9.0, 9.0]]
    df = spark.createDataFrame(
        [(0, [9.0, 9.0, 9.0]), (1, None)], "vec_id long, embedding array<double>"
    )
    got = clustering.assign_clusters(df, "embedding", cents).orderBy("vec_id")
    assert [r.cluster for r in got.collect()] == [1, 0]
    short = spark.createDataFrame([(0, [9.0, 9.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="vector of length 2, expected length 3"):
        clustering.assign_clusters(short, "embedding", cents).collect()
