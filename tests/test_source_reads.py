"""The source read contract (sources.io.read_parquet): one parquet footer
job per file identity per session, none on later reads of the same file; a
rewritten file or a changed type-inference conf re-infers; a directory of
part files keeps the plain inferred read. Also ``spread``'s rule: a scan
with too few partitions is repartitioned only when the relations it reads
reach ``SPREAD_MIN_BYTES``, decided without a job."""

from __future__ import annotations

import contextlib
import io
import os
import random
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from perfbench.workloads import ANALYTICS
from tests import exchanges as X
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src


def _jobs(spark, fn):
    """Run ``fn`` under a job group of its own; return its result and the
    number of Spark jobs it launched, read from the status tracker."""
    sc = spark.sparkContext
    group = "source-reads-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols) -> None:
    pq.write_table(pa.table(cols), str(path))


def test_warm_load_table_launches_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=list(range(20)), v=[f"v{i}" for i in range(20)])
    _, cold = _jobs(spark, lambda: src.load_table(spark, str(tmp_path), "t"))
    df, warm = _jobs(spark, lambda: src.load_table(spark, str(tmp_path), "t"))
    assert cold >= 1  # the footer job a plain read pays every time
    assert warm == 0
    assert df.count() == 20


def test_rewritten_file_reads_its_new_schema(spark, tmp_path):
    _write(tmp_path / "t.parquet", a=[1, 2], b=["x", "y"])
    assert src.load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    _write(tmp_path / "t.parquet", a=[1, 2, 3], c=[1.5, 2.5, 3.5], d=[True, False, True])
    df = src.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "c", "d"]
    assert sorted(r.c for r in df.collect()) == [1.5, 2.5, 3.5]


def test_inference_conf_change_re_resolves(spark, tmp_path):
    _write(tmp_path / "t.parquet", b=pa.array([b"ab", b"cd"], pa.binary()))
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert src.load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert src.load_table(spark, str(tmp_path), "t").dtypes == [("b", "string")]
    finally:
        spark.conf.set(key, prev)


def test_warm_read_keeps_pushdown_and_schema(spark, sf_dir):
    cold = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    src.load_table(spark, sf_dir, "orders")
    warm = src.load_table(spark, sf_dir, "orders")
    assert warm.schema == cold.schema
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        warm.filter(F.col("o_orderstatus") == "F").explain("formatted")
    plan = buf.getvalue()
    assert "Scan parquet" in plan
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


@pytest.mark.parametrize("name", ANALYTICS)
def test_analytics_builder_launches_no_job_on_a_warm_session(spark, sf_dir, name):
    """The benchmark's 12 ``analytics`` builders, ``tpch_suite`` among them,
    build their plans without a Spark job once the tables are resolved."""
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry

    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            src.load_table(spark, sf_dir, f[: -len(".parquet")])
    build = load_registry()[name][0]
    _, warm = _jobs(spark, lambda: build(spark, sf_dir))
    assert warm == 0


def test_directory_layout_table_reads_correctly(spark, sf_dir, tmp_path):
    want = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    want.repartition(3).write.parquet(str(tmp_path / "nation.parquet"))
    rows = sorted(want.collect())
    for _ in range(2):
        got, n = _jobs(spark, lambda: src.load_table(spark, str(tmp_path), "nation"))
        assert n >= 1  # a directory re-infers on every read
        assert got.schema == want.schema
        assert sorted(got.collect()) == rows


def test_stream_events_follows_a_rewritten_events_file(spark, tmp_path):
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    base = dict(
        event_id=[1, 2],
        ts=pa.array([datetime(2024, 1, 1), datetime(2024, 1, 2)], pa.timestamp("us")),
        user_id=[7, 8],
        event_type=["view", "buy"],
        value=[1.0, 2.0],
    )
    _write(tmp_path / "events.parquet", **base)
    assert "props" not in strm.stream_events(spark, str(tmp_path)).columns
    _write(tmp_path / "events.parquet", **base, props=["{}", '{"a":1}'])
    ev = strm.stream_events(spark, str(tmp_path))
    assert ev.isStreaming
    assert "props" in ev.columns and ev.schema["ts"].dataType.typeName() == "timestamp"


def _spread_tables(tmp_path):
    """One single-row-group table below the spread floor and one above it,
    uncompressed random text so the file's bytes are the estimate."""
    rng = random.Random(7)
    for name, rows in (("small", 200), ("big", 4000)):
        table = pa.table(
            {"k": list(range(rows)), "s": ["%0200x" % rng.getrandbits(800) for _ in range(rows)]}
        )
        pq.write_table(
            table, str(tmp_path / f"{name}.parquet"), compression="none", use_dictionary=False
        )
    sizes = {n: os.path.getsize(tmp_path / f"{n}.parquet") for n in ("small", "big")}
    assert sizes["small"] < src.SPREAD_MIN_BYTES <= sizes["big"]
    return str(tmp_path)


def _spreads(spark, df) -> bool:
    out, jobs = _jobs(spark, lambda: src.spread(df, "k"))
    assert jobs == 0  # the decision only plans df
    return out is not df


def test_spread_only_above_the_size_floor(spark, tmp_path):
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("a one-slot session never spreads")
    root = _spread_tables(tmp_path)
    small = src.load_table(spark, root, "small")
    assert small.rdd.getNumPartitions() == 1
    out = src.spread(small, "k")
    assert out is small
    out.collect()
    assert not [s for s in X.shuffles(out) if "REPARTITION_BY_NUM" in s]

    big = src.load_table(spark, root, "big")
    assert big.rdd.getNumPartitions() == 1
    out = src.spread(big, "k")
    assert len(out.collect()) == 4000
    (shuffle,) = [s for s in X.shuffles(out) if "REPARTITION_BY_NUM" in s]
    assert shuffle.startswith("hashpartitioning(k#")
    # the rule reads the scanned bytes, not a projection's narrower estimate
    proj = big.select("k")
    assert proj._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < src.SPREAD_MIN_BYTES
    assert src.spread(proj, "k") is not proj


def test_spread_decides_without_a_job_and_alike_in_shared_scans(spark, tmp_path):
    root = _spread_tables(tmp_path)
    bare = {n: _spreads(spark, src.load_table(spark, root, n)) for n in ("small", "big")}
    with src.shared_scans(spark, root, "small", "big"):
        shared = {n: _spreads(spark, src.load_table(spark, root, n)) for n in ("small", "big")}
    assert shared == bare
    assert bare == {"small": False, "big": spark.sparkContext.defaultParallelism > 1}


def test_financial_fixtures_and_seed_tables_are_local_relations(spark, sf_dir):
    """The fixture and seed tables plan a ``LocalTableScan`` with their
    declared schemas, so Catalyst sizes and broadcasts them: warm,
    ``pipeline_actual_vs_estimate`` runs in 3 jobs at sf0.001 (4 when its
    tables were RDD scans, which a join shuffles first)."""
    from tesla_competitive_intelligence_etl_pipeline_spark import schemas
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import fixtures, seed

    for df, schema in [
        (fixtures.fmp_income_raw(spark), schemas.FMP_INCOME_RAW),
        (fixtures.fmp_estimates_raw(spark), schemas.FMP_ESTIMATES_RAW),
        (fixtures.yfinance_income_raw(spark), schemas.YFINANCE_INCOME_RAW),
        (seed.seed_companies(spark), seed.SEED_COMPANIES_SCHEMA),
        (seed.share_counts(spark), seed.SHARE_COUNTS_SCHEMA),
    ]:
        assert df.schema == schema
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    build = load_registry()["pipeline_actual_vs_estimate"][0]

    def run():
        df = build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    run()  # warm
    df, n = _jobs(spark, run)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert n <= 3
