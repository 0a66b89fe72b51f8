"""TPC-H shapes of ``tpch_suite``: oracle parity on crafted tables that hold
the edge cases the test scale factors lack, and the final plans that show
each piece of the suite's work running once."""

from __future__ import annotations

from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests import exchanges as X
from tests.oracle_harness import compare
from tests.test_source_reads import _jobs

TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ENTRIES = (
    "tpch_suite", "q6_forecast_revenue", "q14_promo_ratio", "q15_top_supplier",
    "q17_small_quantity_revenue", "q19_disjunctive_revenue", "q22_dormant_accounts",
)

Q15_DAY = datetime(1996, 2, 1)  # inside Q15's quarter
Q14_DAY = datetime(1996, 9, 15)  # inside Q14's month, and Q6's year
OFF_DAY = datetime(1995, 6, 1)  # inside no query's window


def _line(partkey, suppkey, qty, price, day=OFF_DAY, disc=0.0, orderkey=1):
    return dict(l_orderkey=orderkey, l_partkey=partkey, l_suppkey=suppkey,
                l_quantity=qty, l_extendedprice=price, l_discount=disc, l_shipdate=day)


def _part(partkey, brand, ptype="TYPE_2 X", size=20):
    return dict(p_partkey=partkey, p_brand=brand, p_type=ptype, p_size=size)


BASE = dict(
    region=[dict(r_regionkey=0, r_name="REGION_0"), dict(r_regionkey=1, r_name="REGION_1")],
    nation=[dict(n_nationkey=0, n_name="N0", n_regionkey=0),
            dict(n_nationkey=1, n_name="N1", n_regionkey=1)],
    # customer 3 never ordered and holds more than the average positive balance
    customer=[
        dict(c_custkey=1, c_name="C1", c_nationkey=0, c_acctbal=100.0, c_mktsegment="AUTO"),
        dict(c_custkey=2, c_name="C2", c_nationkey=1, c_acctbal=-5.0, c_mktsegment="AUTO"),
        dict(c_custkey=3, c_name="C3", c_nationkey=1, c_acctbal=900.0, c_mktsegment="FLEET"),
        dict(c_custkey=4, c_name="C4", c_nationkey=0, c_acctbal=20.0, c_mktsegment="FLEET"),
    ],
    supplier=[dict(s_suppkey=k, s_name=f"S{k}", s_nationkey=k % 2, s_acctbal=1.0)
              for k in (1, 2, 3)],
    part=[
        _part(1, "Brand#1", "TYPE_1 A", 3),
        _part(1, "Brand#1", "TYPE_1 A", 3),  # duplicated p_partkey
        _part(2, "Brand#2", "TYPE_2 B", 8),
        _part(3, "Brand#3"),  # Q17: a NULL quantity among its lines
        _part(4, "Brand#3"),  # Q17: a part with a single line
        _part(5, "Brand#3"),  # Q17: duplicated p_partkey
        _part(5, "Brand#3"),
    ],
    orders=[
        dict(o_orderkey=1, o_custkey=1, o_orderstatus="F", o_totalprice=10.0,
             o_orderdate=datetime(1995, 3, 1), o_orderpriority="1-URGENT"),
        dict(o_orderkey=2, o_custkey=2, o_orderstatus="O", o_totalprice=20.0,
             o_orderdate=datetime(1996, 3, 1), o_orderpriority="5-LOW"),
        dict(o_orderkey=3, o_custkey=4, o_orderstatus="F", o_totalprice=30.0,
             o_orderdate=datetime(1997, 3, 1), o_orderpriority="3-MEDIUM"),
    ],
    lineitem=[
        # Q15: suppliers 1 and 2 tie on the quarter's top revenue
        _line(9, 1, 1.0, 300.0, Q15_DAY), _line(9, 2, 1.0, 200.0, Q15_DAY),
        _line(9, 2, 1.0, 100.0, Q15_DAY, orderkey=2), _line(9, 3, 1.0, 50.0, Q15_DAY),
        # Q14/Q19 and Q6: the duplicated promotion part 1, part 2, a line
        # with no part
        _line(1, 1, 5.0, 1000.0, Q14_DAY, 0.06), _line(1, 2, 15.0, 700.0, Q14_DAY, 0.1),
        _line(2, 3, 12.0, 400.0, Q14_DAY, 0.05, orderkey=3),
        _line(2, 1, 40.0, 90.0, Q14_DAY, 0.07, orderkey=3),
        _line(77, 1, 5.0, 500.0, Q14_DAY, 0.06),
        # Q17: with COUNT(*) part 3's limit is 0.8, with COUNT(l_quantity) 2.0
        _line(3, 1, 1.0, 11.0), _line(3, 1, 19.0, 12.0), _line(3, 1, None, 13.0),
        _line(3, 1, None, 14.0), _line(3, 1, None, 15.0),
        _line(4, 2, 5.0, 21.0),
        _line(5, 3, 1.0, 31.0), *[_line(5, 3, 10.0, 32.0 + i) for i in range(4)],
    ],
)

# Q15's top revenue belongs to lines with no supplier, and a supplier has no
# key: the oracle returns no row
NULL_MAX = dict(
    BASE,
    lineitem=BASE["lineitem"] + [_line(9, None, 1.0, 900.0, Q15_DAY)],
    supplier=BASE["supplier"] + [dict(s_suppkey=None, s_name="S?", s_nationkey=0)],
)

_FILL = {pa.int32(): 0, pa.int64(): 0, pa.float64(): 0.0, pa.string(): "",
         pa.timestamp("us"): OFF_DAY}


def _write_tables(root, sf_dir, tables) -> None:
    """Write each TPC-H table with the test tables' schema; a column a row
    leaves out gets a constant of its type."""
    for name in TPCH:
        schema = pq.read_schema(f"{sf_dir}/{name}.parquet")
        rows = tables[name]
        cols = {
            f.name: pa.array([r.get(f.name, _FILL[f.type]) for r in rows], f.type)
            for f in schema
        }
        pq.write_table(pa.table(cols, schema=schema), str(root / f"{name}.parquet"))


def _duck(root) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TPCH:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{root}/{name}.parquet'")
    return con


@pytest.fixture(scope="module")
def registry():
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry

    return load_registry()


@pytest.mark.parametrize("tables", [BASE, NULL_MAX], ids=["edge_cases", "q15_null_max"])
def test_crafted_tables_match_oracles(spark, sf_dir, registry, tmp_path, tables):
    _write_tables(tmp_path, sf_dir, tables)
    con = _duck(tmp_path)
    problems = []
    for name in ENTRIES:
        fn, sql = registry[name]
        problems += compare(fn(spark, str(tmp_path)), con, sql, name)
    con.close()
    assert not problems, "\n".join(problems)


def test_crafted_tables_reach_every_edge_case(sf_dir, registry, tmp_path):
    """The crafted rows decide the oracles' results: a two-way Q15 tie, no
    Q15 row under a NULL-supplier max, a Q17 sum that COUNT(*) and the
    duplicated part change, and one dormant Q22 customer."""
    answers = {}
    for label, tables in (("base", BASE), ("null_max", NULL_MAX)):
        (tmp_path / label).mkdir()
        _write_tables(tmp_path / label, sf_dir, tables)
        con = _duck(tmp_path / label)
        answers[label] = {
            name: con.execute(registry[name][1]).fetchall()
            for name in ("q15_top_supplier", "q17_small_quantity_revenue",
                         "q22_dormant_accounts")
        }
        con.close()
    assert sorted(answers["base"]["q15_top_supplier"]) == [(1, "S1", 300.0), (2, "S2", 300.0)]
    assert answers["null_max"]["q15_top_supplier"] == []
    assert answers["base"]["q17_small_quantity_revenue"] == [(2 * 31.0 / 7.0,)]
    assert answers["base"]["q22_dormant_accounts"] == [("FLEET", 1, 900.0)]


def _final(build):
    """Build and run once to warm the session, then build again and run;
    return the second DataFrame, whose plan is now final."""
    build().collect()
    df = build()
    df.collect()
    return df


def test_tpch_suite_runs_no_exchange_twice(spark, sf_dir, registry):
    df = _final(lambda: registry["tpch_suite"][0](spark, sf_dir))
    assert X.repeated_exchanges(df) == []


def test_q15_revenue_is_shuffled_once(spark, sf_dir, registry):
    df = _final(lambda: registry["q15_top_supplier"][0](spark, sf_dir))
    assert len([s for s in X.shuffles(df) if s.startswith("hashpartitioning(l_suppkey")]) == 1
    assert "ReusedExchangeExec" in [X.node_kind(n) for n in X.nodes(df)]


def test_q17_has_no_spread(spark, sf_dir, registry):
    df = _final(lambda: registry["q17_small_quantity_revenue"][0](spark, sf_dir))
    assert not [s for s in X.shuffles(df) if "REPARTITION_BY_NUM" in s]


def test_q14_q19_pass_is_one_aggregate_over_one_filtered_join(spark, sf_dir):
    from tesla_competitive_intelligence_etl_pipeline_spark.plans import registry_suites

    df = _final(lambda: registry_suites.q14_q19_pass(spark, sf_dir))
    logical = X.walk(df._jdf.queryExecution().optimizedPlan())
    assert [X.node_kind(n) for n in logical].count("Aggregate") == 1
    (join,) = [n for n in X.nodes(df) if X.node_kind(n).endswith("JoinExec")]
    pushed = [
        n.metadata().get("PushedFilters").get()
        for n in X.walk(join)
        if X.node_kind(n) == "FileSourceScanExec"
    ]
    assert any("Or(" in p and "l_shipdate" in p and "l_quantity" in p for p in pushed)


def test_repeated_exchange_helper_reports_an_unshared_pair(spark):
    """With exchange reuse off, a self-union runs its aggregate's shuffle
    twice, and the helper names that pair."""
    from pyspark.sql import functions as F

    key = "spark.sql.exchange.reuse"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        agg = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
        df = agg.unionByName(agg)
        df.collect()
        assert len(X.repeated_exchanges(df)) == 1
    finally:
        spark.conf.set(key, prev)


def test_tpch_suite_warm_job_count(spark, sf_dir, registry):
    """A warm ``tpch_suite`` build and collect at sf0.001 launches 42 jobs.
    The form with a second Q15 revenue shuffle, two Q17 spread exchanges, a
    Q6 spread and separate Q14 and Q19 passes launched 50; with a Q8 branch
    that kept its ORDER BY (a range-partition sample job and a range
    shuffle the union discards), 44."""
    build = registry["tpch_suite"][0]
    build(spark, sf_dir).collect()
    df = build(spark, sf_dir)
    _, jobs = _jobs(spark, df.collect)
    assert jobs == 42
