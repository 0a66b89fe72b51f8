"""Physical-plan regression tests: the scale properties the engine promises
(pushdown, pruning, broadcast dims, shuffle-free bucketed joins) must be
visible in the explain output — not assumed."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.plans import load_registry


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def registry():
    return load_registry()


def test_scan_pushdown_and_pruning(spark, sf_dir, registry):
    df = registry["src_scan_project"][0](spark, sf_dir)
    plan = _plan(df)
    assert "GreaterThan(l_quantity,30.0)" in plan  # predicate reached parquet
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    # only the 4 projected columns + the filter column are read
    assert set(c.split(":")[0] for c in read_schema.split(",")) == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate",
    }


def test_dim_joins_are_broadcast(spark, sf_dir, registry):
    plan = _plan(registry["flagship_customer_revenue"][0](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2  # customer + nation
    assert "SortMergeJoin" not in plan


def test_flagship_single_shuffle(spark, sf_dir, registry):
    """The fact side shuffles exactly once (the groupBy); dim lookups add
    broadcast exchanges only."""
    plan = _plan(registry["flagship_customer_revenue"][0](spark, sf_dir))
    non_broadcast_exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(non_broadcast_exchanges) == 1


def test_whole_stage_codegen_covers_scalar_chain(spark, sf_dir, registry):
    # AQE shows codegen spans only in the FINAL plan — execute THIS dataframe
    # (count() would plan a different query; collect() finalizes df's own)
    df = registry["fn_quarter_label"][0](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "codegen id" in plan  # scalar chain fused into codegen stages
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_no_python_udf_in_core_paths(spark, sf_dir, registry):
    for name in ["pipeline_silver_fmp", "x5_quality_score", "x1_dedup_exact", "q1_pricing_summary"]:
        plan = _plan(registry[name][0](spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import bucketing
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    import shutil

    orders = src.load_table(spark, sf_dir, "orders")
    lineitem = src.load_table(spark, sf_dir, "lineitem")
    # clean both the (session-scoped) catalog and any on-disk leftovers —
    # the in-memory catalog forgets tables between sessions but the
    # warehouse directory survives
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    bucketing.write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    bucketing.write_bucketed(lineitem, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    # disable broadcast so the planner must choose between shuffle-SMJ and
    # bucket co-location (at 100 TB neither fact side is broadcastable)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.bucketed_join(
            spark, "b_orders", "b_lineitem", on=F.col("o_orderkey") == F.col("l_orderkey")
        ).select("o_orderkey", "l_linenumber", "l_quantity")
        plan = _plan(joined)
        assert "Exchange" not in plan  # co-located: zero shuffle
        n = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    plain = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).count()
    assert n == plain


def test_composite_window_queries_keep_scale_properties(spark, sf_dir, registry):
    """The round-2 composite window entries must not regress the plan
    guarantees of the fine-grained queries they fold."""
    # join_enrich_lookup: every dim (nation, region, lookup) broadcast;
    # the customer side never shuffles
    plan = _plan(registry["join_enrich_lookup"][0](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3
    assert "SortMergeJoin" not in plan

    # fil_predicates: both branch predicates reach the parquet scan
    plan = _plan(registry["fil_predicates"][0](spark, sf_dir))
    assert plan.count("PushedFilters: [In(o_orderstatus") >= 1
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan

    # fn_parse_label_format: the whole scalar chain stays JVM-side
    plan = _plan(registry["fn_parse_label_format"][0](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan

    # x5_text_profile: exactly ONE Arrow-batched python eval (the X-10
    # pandas_udf column); everything else fused in codegen
    plan = _plan(registry["x5_text_profile"][0](spark, sf_dir))
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def test_ngram_pruned_plan_joins_on_pruned_index(spark, sf_dir, registry):
    """x2_ngram_jaccard's candidate join must consume the df-capped token
    index (a semi join against the HAVING-filtered frequency table)."""
    plan = _plan(registry["x2_ngram_jaccard"][0](spark, sf_dir))
    assert re.search(r"LeftSemi", plan)  # frequent-token pruning applied


def test_ivf_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The materialized IVF index must turn probing into parquet partition
    pruning: the probed-cell filter appears in PartitionFilters and the
    results match the unindexed ivf_topk exactly."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    emb = src.load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, idx)
    out = sim.ivf_topk_indexed(spark, idx, query_id=0, k=10, n_probe=2)
    plan = _plan(out)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "label" in m.group(1) and ("IN" in m.group(1).upper() or "In(" in m.group(1))
    got = [(r.vec_id, r.cos_sim) for r in out.collect()]
    want = [
        (r.vec_id, r.cos_sim)
        for r in sim.ivf_topk(emb, query_id=0, k=10, n_probe=2).collect()
    ]
    assert got == want


def test_tombstoned_search_keeps_cell_filter_in_the_scan(spark, sf_dir, tmp_path):
    """The tombstone-aware read (index_commit.read_live) anti-joins the
    tombstones below the search's probed-cell filter, and that filter still
    reaches the PartitionFilters of the scan it reads: IVF vectors, IVF-PQ
    codes. Tombstoned ids never come back."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    gone = spark.createDataFrame([(i,) for i in range(1, 100, 3)], "vec_id long")
    ivf, ivfpq = str(tmp_path / "ivf"), str(tmp_path / "ivfpq")
    sim.build_ivf_index(emb, ivf)
    clustering.build_ivfpq_index(emb, ivfpq, m=4, k=8, max_iters=2, round_decimals=6)
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    for kind, path in (("ivf", ivf), ("ivfpq", ivfpq)):
        ic.write_tombstones(ic.store(kind, path), gone, "vec_id")
    for out in (
        sim.ivf_topk_indexed(spark, ivf, query_id=0, k=10, n_probe=2),
        clustering.ivfpq_topk_indexed(spark, ivfpq, query, k=10, n_probe=2, refine=4),
    ):
        plan = _plan(out)
        assert "LeftAnti" in plan
        pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert any("label" in p and ("IN" in p.upper() or "In(" in p) for p in pfs), pfs
        got = {r.vec_id for r in out.collect()}
        assert got and not got & {i for i in range(1, 100, 3)}


def test_ivfpq_probe_prunes_codes_and_vectors(spark, sf_dir, tmp_path):
    """The combined IVF-PQ index must keep BOTH heavy scans partition-pruned:
    the probed-cell filter lands in the codes scan's AND the vectors scan's
    PartitionFilters (the refine step never reads unprobed cells' floats),
    and the k*refine shortlist joins in as a broadcast — at 100 TB the plan
    reads n_probe/n_cells of the compressed codes plus a 40-row vector
    fetch, never the corpus."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    emb = src.load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq")
    books = clustering.build_ivfpq_index(
        emb, idx, m=4, k=16, max_iters=2, train_fraction=0.2, round_decimals=6
    )
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = clustering.ivfpq_topk_indexed(
        spark, idx, query, k=10, n_probe=2, refine=4, codebooks=books
    )
    plan = _plan(out)
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    pruned = [p for p in pfs if "label" in p and ("IN" in p.upper() or "In(" in p)]
    assert len(pruned) >= 2  # codes scan AND vectors scan
    assert "BroadcastHashJoin" in plan  # shortlist refine join
    assert "SortMergeJoin" not in plan


def test_ivfpq_batch_plan_prunes_dynamically_and_broadcasts(spark, sf_dir, tmp_path):
    """Batch IVF-PQ search must keep its scale properties with MANY
    queries in one plan: the codes scan is pruned to the union of probed
    cells via DYNAMIC partition pruning (the probe set only exists at
    runtime), every join is a broadcast of the small side (probe table,
    shortlist), and nothing falls back to a sort-merge join."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    emb = src.load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq")
    books = clustering.build_ivfpq_index(
        emb, idx, m=4, k=16, max_iters=2, train_fraction=0.2, round_decimals=6
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = clustering.ivfpq_topk_batch(
        spark, idx, queries, k=10, n_probe=2, refine=4, codebooks=books
    )
    plan = _plan(out)
    assert "dynamicpruning" in plan.lower()  # probe -> codes partition prune
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # and the batch answers are EXACTLY the per-query answers
    got = sorted((r.query_id, r.vec_id, r.cos_sim) for r in out.collect())
    want = []
    for qid in range(3):
        qv = [float(x) for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]]
        want.extend(
            (qid, r.vec_id, r.cos_sim)
            for r in clustering.ivfpq_topk_indexed(
                spark, idx, qv, k=10, n_probe=2, refine=4, codebooks=books
            ).collect()
        )
    assert got == sorted(want)


def test_clustered_write_produces_tight_file_bands(spark, sf_dir, tmp_path):
    """write_parquet_clustered must put disjoint time bands in separate files
    (range partitioning + in-file sort), the layout that makes row-group
    stats skip files on ts predicates."""
    import pyarrow.parquet as pq

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    ev = src.load_events(spark, sf_dir)
    path = str(tmp_path / "clustered")
    src.write_parquet_clustered(ev, path, ["ts"], n_files=4)

    import glob

    bands = []
    for f in glob.glob(path + "/*.parquet"):
        ts = pq.read_table(f, columns=["ts"])["ts"].to_pylist()
        if ts:
            bands.append((min(ts), max(ts)))
    assert len(bands) > 1
    bands.sort()
    for (a_min, a_max), (b_min, b_max) in zip(bands, bands[1:]):
        assert a_max <= b_min  # files cover disjoint, ordered time bands


def test_q19_disjunction_split_and_pushed(spark, sf_dir, registry):
    """Q19's OR-of-conjunctions must be split into per-side residuals and
    pushed into BOTH parquet scans (the classic Q19 plan), with the part dim
    broadcast."""
    plan = _plan(registry["q19_disjunctive_revenue"][0](spark, sf_dir))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    assert any("l_quantity" in p and "Or(" in p for p in pushed)
    assert any("p_brand" in p and "Or(" in p for p in pushed)
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir, registry):
    """The corpus side must never shuffle for the benchmark overlap: the
    n-gram join is broadcast, and nothing drops to row-at-a-time Python."""
    plan = _plan(registry["xtra_decontaminate"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_corpus_signal_queries_stay_jvm_side(spark, sf_dir, registry):
    for name in ["x5_repetition_signals", "x5_boilerplate_ngrams"]:
        plan = _plan(registry[name][0](spark, sf_dir))
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name


def test_pq_indexed_search_is_map_side(spark, tmp_path):
    """The timed PQ path (search over a materialized index) must be a pure
    map-side scan + top-k: no join, no aggregate exchange, and only the
    (vec_id, pq_code) columns read — never the float vectors."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    pts = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 7 + d).cast("double") for d in range(8)]).alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "pq")
    books = clustering.pq_build_index(pts, path, m=2, k=4, max_iters=2)
    df = clustering.pq_topk_indexed(
        spark, path, [float(d) for d in range(8)], k=5, codebooks=books
    )
    plan = _plan(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan  # k-row reduction, no global sort
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan).group(1)
    assert set(c.split(":")[0] for c in read_schema.split(",")) == {
        "vec_id", "pq_code",
    }


def test_shared_scans_cache_is_scoped(spark, sf_dir):
    """Inside a shared_scans block every load_table call serves the SAME
    persisted scan (one materialization for all composite branches); after
    the block exits, plain loads must NOT silently hit the leftover cache —
    plan-shape tests and memory accounting rely on the raw parquet scan."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    with src.shared_scans(spark, sf_dir, "documents"):
        a = src.load_table(spark, sf_dir, "documents")
        b = src.load_table(spark, sf_dir, "documents")
        assert a is b  # one shared handle, not two reads
        union_plan = _plan(
            a.select("doc_id").unionAll(b.select(F.col("doc_id") + 1))
        )
        # r14: the shared scan is a lazily-checkpointed RDD (lineage
        # truncated below every composite branch), not an InMemoryRelation
        assert "ExistingRDD" in union_plan

    fresh = src.load_table(spark, sf_dir, "documents")
    fresh_plan = _plan(fresh.select("doc_id"))
    assert "ExistingRDD" not in fresh_plan and "Scan parquet" in fresh_plan


def test_q8_market_share_plan_broadcasts_dims_and_pushes_filters(spark, sf_dir, registry):
    """TPC-H Q8: the seven-table snowflake must broadcast every dim side
    (part/nation x2/region and the small supplier/customer sides at this SF
    may also broadcast — assert NO SortMergeJoin appears) and push the
    selective part-type and order-date filters into the parquet scans."""
    plan = _plan(registry["q8_market_share"][0](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 4
    assert "EqualTo(p_type,ECONOMY)" in plan          # pushed to part scan
    assert "GreaterThanOrEqual(o_orderdate" in plan   # pushed to orders scan


def _tree_nodes(plan: str) -> list[tuple[int, str, int]]:
    """(depth, name, node_id) per operator in the formatted plan's tree
    section, pre-order. Depth = the column where the operator name starts
    (the tree-drawing prefix length), so a node's subtree is exactly the
    following nodes with strictly greater depth."""
    nodes = []
    in_tree = False
    for line in plan.splitlines():
        m = re.match(r"^([\s:+\-]*)(?:\* )?([A-Za-z][\w ]*?)\s*\((\d+)\)\s*$", line)
        if m:
            in_tree = True
            nodes.append((len(m.group(1)), m.group(2).strip(), int(m.group(3))))
        elif in_tree:
            break  # tree section over (first non-node line after it)
    return nodes


def _subtree_ids(nodes: list[tuple[int, str, int]], root_idx: int) -> list[int]:
    depth = nodes[root_idx][0]
    ids = []
    for d, _, nid in nodes[root_idx + 1 :]:
        if d <= depth:
            break
        ids.append(nid)
    return ids


def test_retention_plan_distinct_before_join_and_partial_agg(spark, sf_dir, registry):
    """evt_retention_cohorts: the (user, week) distinct must collapse rows
    BEFORE the cohort join (cost = active user-weeks, not raw events), and
    the final count must partial-aggregate. ADVICE r4: the old first-
    occurrence string check was vacuous (formatted plans print the root
    first); this walks the tree and asserts a HashAggregate keyed on
    (user_id, act_week) is a DESCENDANT of the join node."""
    plan = _plan(registry["evt_retention_cohorts"][0](spark, sf_dir))
    assert "partial_count" in plan
    nodes = _tree_nodes(plan)
    join_idx = next(i for i, (_, name, _) in enumerate(nodes) if "Join" in name)
    below_join = set(_subtree_ids(nodes, join_idx))
    assert below_join, "join node has no parsed children"
    distinct_ids = {
        int(nid)
        for nid, keys in re.findall(
            r"\((\d+)\) HashAggregate[^(]*?Keys \[\d+\]: \[([^\]]*)\]", plan, re.S
        )
        if "user_id" in keys and "act_week" in keys
    }
    assert distinct_ids & below_join, (
        f"no (user_id, act_week) distinct HashAggregate inside the join's "
        f"subtree {sorted(below_join)}; distinct aggregates at {sorted(distinct_ids)}"
    )


def test_chunk_dedup_plan_shuffles_hashes_not_text(spark, sf_dir, registry):
    """x1_chunk_dedup: the exchange input must carry (chunk_md5, doc_id)
    aggregates — never chunk_text — and both aggregates partial-combine."""
    plan = _plan(registry["x1_chunk_dedup"][0](spark, sf_dir))
    assert "partial_count" in plan
    m = re.search(r"\(\d+\) Exchange\s*\nInput(.*)", plan)
    assert m and "chunk_text" not in m.group(1)


def test_semantic_dedup_pairs_shuffle_on_cluster_not_cartesian(spark, sf_dir, registry):
    """x2_semantic_dedup: the within-cluster pair generation must be a JOIN
    keyed on the cluster id — never a cartesian product over the corpus
    (the whole point of SemDeDup is confining the quadratic term), and the
    final survivor filter must be an anti join."""
    plan = _plan(registry["x2_semantic_dedup"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    # SOME equi-join in the plan is keyed on the cluster column (the pair
    # join); checked via the join detail's key list, not text proximity
    # (code review r5: the first-join-in-plan heuristic could latch onto
    # the anti join)
    assert re.search(r"Left keys \[\d+\]: \[cluster#", plan)


def test_portable_indexed_dedup_plan_bands_not_text(spark, sf_dir, registry):
    """x2_cross_corpus_indexed_portable: the steady-state crawl-dedup plan
    must keep its scale shape — candidates from a band/bucket EQUI-join
    (no cartesian over the corpora), every shuffle keyed on small columns
    (band/bucket/doc ids), never raw text; and the STORED side arrives as
    signatures (doc_id, sh, sig) with no text column to read at all."""
    df = registry["x2_cross_corpus_indexed_portable"][0](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in keys, f"raw text in a shuffle key: {keys}"
    # the signature-table scan reads exactly the stored columns
    sig_scan = [
        s for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if "sig" in s
    ]
    assert sig_scan and all("text" not in s for s in sig_scan)
    # the band join is a real equi-join on (band, bucket)
    assert re.search(r"Left keys \[\d+\]: \[band#\d+L?, bucket#", plan)


def test_sig_takedown_plan_broadcast_anti_before_banding(spark, sf_dir, registry):
    """x2_sig_takedown (r9): the tombstone filter must ride a BROADCAST
    anti-join (the tombstone table is bounded by takedown volume, never
    corpus size) ahead of the band join, and the crawl plan keeps the
    indexed shape — no cartesian, no raw text in any shuffle key."""
    import re

    df = registry["x2_sig_takedown"][0](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert re.search(r"BroadcastHashJoin.*LeftAnti", plan)
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in keys, f"raw text in a shuffle key: {keys}"


def test_sig_purge_plan_is_bare_scan_again(spark, sf_dir, registry):
    """x2_sig_purge (r9): after the physical purge cleared the tombstones,
    the crawl plan must be back to the never-deleted shape — NO anti-join
    at all (index_commit.read_tombstones returned None), same banding."""
    df = registry["x2_sig_purge"][0](spark, sf_dir)
    plan = _plan(df)
    assert "LeftAnti" not in plan
    assert "CartesianProduct" not in plan


def test_purge_locate_scan_prunes_to_id_column(spark, sf_dir, tmp_path):
    """index_commit.compact(purge=True)'s cell-locate scan must
    read ONLY the id column (plus the partition column, which costs
    nothing — it is derived from dir names): column pruning is what keeps
    the locate pass a sliver of the table at 100 TB. Pinned on the scan
    the operator actually builds."""
    import re

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    emb = src.load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100).select("vec_id", "embedding", "label")
    path = str(tmp_path / "idx")
    clustering.build_ivfpq_index(emb, path, m=4, k=8, max_iters=2,
                                 round_decimals=6)
    purge_ids = spark.createDataFrame([(1,), (2,)], "vec_id long")
    locate = (
        spark.read.parquet(path + "/vectors")
        .join(F.broadcast(purge_ids), "vec_id", "semi")
        .select("label")
        .distinct()
    )
    plan = _plan(locate)
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    vec_scan = [s for s in scans if "vec_id" in s]
    assert vec_scan and all(
        "embedding" not in s for s in vec_scan
    ), f"locate scan reads data columns: {scans}"


def test_bpe_udf_regime_plan_single_arrow_over_distinct(spark, sf_dir):
    """bpe_encode_ids past BPE_EXPR_MAX_MERGES (r9): exactly ONE
    ArrowEvalPython node, and it sits over the distinct-OOV-word subtree
    (anti-join against the vocabulary) — never over the per-occurrence
    rows."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 20).select("doc_id", "text")
    merges_df, vocab = tx.bpe_train(docs, n_merges=2, return_vocab=True)
    real = [(r.pair, r.merged) for r in merges_df.orderBy("merge_rank").collect()]
    padded = real + [
        (f"q{i} r{i}", f"q{i}r{i}") for i in range(tx.BPE_EXPR_MAX_MERGES + 1)
    ]
    plan = tx.bpe_encode_ids(
        docs, vocab, merges=padded
    )._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    idx = plan.find("ArrowEvalPython")
    assert "LeftAnti" in plan[idx:], "udf not over the distinct-OOV table"


def test_highmerge_entry_runs_udf_regime(spark, sf_dir, registry):
    """x5_bpe_encode_highmerge (r13): the driver-gated entry really takes
    the DEPLOYMENT regime — 96 merges > BPE_EXPR_MAX_MERGES, so the plan
    carries exactly one ArrowEvalPython over the distinct-OOV subtree
    (the expression regime would show zero)."""
    # fresh-build plan shape: leaked persisted intermediates from earlier
    # in-session entries (the packing composites persist a fan-out whose
    # cached plan CONTAINS this encode) get substituted by the CacheManager
    # and print a second ArrowEvalPython — reproduced identically on the
    # r13 tree, i.e. an order-sensitivity of the ASSERTION, not a plan
    # regression (OPTIMIZATION_r14.md round-end gates)
    spark.catalog.clearCache()
    plan = (
        registry["x5_bpe_encode_highmerge"][0](spark, sf_dir)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1
    idx = plan.find("ArrowEvalPython")
    assert "LeftAnti" in plan[idx:], "udf not over the distinct-OOV table"


def test_tokenize_pack_composite_plan_shape(spark, sf_dir, registry):
    """x5_tokenize_pack (r13): the composite's expensive half (the
    Arrow-UDF encode) must evaluate ONCE even though global_cumsum fans
    into two branches (local window + per-partition totals). Spark's
    ReuseExchange does NOT fire across the branches (each physical range
    exchange is planned — and its bounds sampled — independently), so
    global_cumsum persists the fan-out point: both InMemoryRelation
    leaves must share ONE cache builder (one materialization of the
    tokenizer), and the cached plan must carry exactly one
    ArrowEvalPython over the distinct-OOV subtree plus the single range
    exchange of the two-pass prefix sum."""
    spark.catalog.clearCache()  # fresh-build plan shape (see test above)
    df = registry["x5_tokenize_pack"][0](spark, sf_dir)
    qe = df._jdf.queryExecution()
    leaves = qe.optimizedPlan().collectLeaves()
    imrs = [
        leaves.apply(i)
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "InMemoryRelation"
    ]
    assert len(imrs) == 2, "both cumsum branches must read the cache"
    assert imrs[0].cacheBuilder().equals(imrs[1].cacheBuilder()), (
        "branches hold DIFFERENT caches - the encode would run twice"
    )
    cached = imrs[0].cacheBuilder().cachedPlan().toString()
    assert cached.count("ArrowEvalPython") == 1
    assert "rangepartitioning" in cached.lower(), (
        "packing prefix sum lost its range pass"
    )


def test_clustered_skipping_prunes_files_not_buckets(spark, sf_dir, registry):
    """x9_clustered_skipping (r10): on the clustered gold table the entry
    reads, (1) per-BUCKET min/max provably prunes ZERO buckets for the
    entry's range — last_value does not correlate with the user_id hash,
    so every bucket's span covers the range (the gap VERDICT r9 item 1
    named); (2) the cluster_by layout's per-FILE spans skip real files —
    the result's inputFiles are a strict subset of the table's."""
    import json

    from tesla_competitive_intelligence_etl_pipeline_spark.plans import registry_streaming as rs
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    df = registry["x9_clustered_skipping"][0](spark, sf_dir)
    target = rs._ensure_clustered_gold(spark, sf_dir)
    man = json.loads(open(strm._manifest_path(target)).read())
    lo, hi = 25.0, 45.0
    # (1) bucket-level stats CANNOT prune the surviving buckets (at tiny
    # SF a sparse bucket's span may happen to miss the range — at scale
    # every span covers it; the invariant that matters is that buckets
    # survive bucket-pruning and file pruning still bites inside them)
    surviving = [
        b for b, st in man["stats"].items()
        if not (st["last_value"][0] > hi or st["last_value"][1] < lo)
    ]
    assert surviving, "every bucket bucket-pruned — range no longer probative"
    # (2) the file-level skip is real WITHIN the surviving buckets —
    # exactly the I/O bucket-level stats could never save
    n_surv = sum(len(man["filestats"][b]["files"]) for b in surviving)
    n_read = len(df.inputFiles())
    assert 0 < n_read < n_surv, (n_read, n_surv)
    # and the layout gave surviving buckets a skip opportunity
    assert any(len(man["filestats"][b]["files"]) > 1 for b in surviving)


def test_zorder_skipping_prunes_on_both_dims(spark, sf_dir, registry):
    """x9_zorder_skipping (r10): on the Z-ordered gold table the entry
    reads, the conjunctive 2-D filter prunes files that EACH single
    dimension alone would keep — the multiplicative skip that makes
    Z-order worth its layout cost over 1-D clustering."""
    import datetime as dt
    import json

    from tesla_competitive_intelligence_etl_pipeline_spark.plans import registry_streaming as rs
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    df = registry["x9_zorder_skipping"][0](spark, sf_dir)
    target = rs._ensure_zorder_gold(spark, sf_dir)
    man = json.loads(open(strm._manifest_path(target)).read())
    for fb in man["filestats"].values():
        assert fb["cols"] == ["value", "ts"]
    n_all = sum(len(fb["files"]) for fb in man["filestats"].values())
    v_rng = {"value": (20.0, 120.0)}
    t_rng = {"ts": (dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 18))}
    n_v = len(strm.read_merged(spark, target, range_filters=v_rng).inputFiles())
    n_t = len(strm.read_merged(spark, target, range_filters=t_rng).inputFiles())
    n_vt = len(df.inputFiles())
    # each dimension prunes ALONE (1-D clustering gives only one of these)
    assert n_v < n_all, (n_v, n_all)
    assert n_t < n_all, (n_t, n_all)
    # and the conjunction prunes at least as hard as the best single dim
    assert 0 < n_vt <= min(n_v, n_t), (n_vt, n_v, n_t)


def test_scd2_pit_join_is_keyed_not_cartesian(spark, sf_dir, registry):
    """point_in_time_join must plan as a KEYED join with the interval
    check as a residual predicate — broadcast for a small dim, and never
    a CartesianProduct / BroadcastNestedLoopJoin (the naive way range
    conditions degrade)."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import scd2
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    ev = src.load_events(spark, sf_dir).select("user_id", "ts", "event_type", "value")
    dim = scd2.scd2_from_log(
        ev.filter(F.col("user_id") < 50), ["user_id"], "ts",
        ["event_type", "value"], tiebreak="value",
    )
    facts = ev.select("user_id", F.col("ts").alias("t"))
    out = scd2.point_in_time_join(facts, dim, ["user_id"], "t")
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_read_merged_stats_broadcast_hint_flips_join_strategy(spark, tmp_path):
    """r11 (VERDICT r10 item 3 — the ndv/row stats consumer):
    read_merged(broadcast_threshold_rows=...) consults the manifest-stats
    cardinality model and attaches the broadcast hint exactly when the
    FILTERED estimate is small. Spark's own static size estimate (file
    bytes of the surviving paths) cannot see row-level selectivity, so
    with auto-broadcast disabled the join strategy flips purely on the
    manifest estimate: narrow range -> BroadcastHashJoin, wide range ->
    SortMergeJoin, and a table merged without stats_cols never hints."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    rows = [(i, i % 1000, float(i)) for i in range(5000)]
    df = spark.createDataFrame(rows, "k long, grp long, score double")
    target = str(tmp_path / "gold")
    strm.merge_table(df, target, keys=["k"], order_cols=["score"],
                     n_buckets=4, stats_cols=["score"])
    facts = spark.createDataFrame(
        [(float(i), i) for i in range(3000)], "score double, payload long")

    # the estimator itself: exact on null filters, uniform on ranges
    est_all = strm.estimate_merged_rows(target)
    assert est_all == 5000
    est_narrow = strm.estimate_merged_rows(
        target, range_filters={"score": (0.0, 49.0)})
    assert 0 < est_narrow < 500  # ~1% of the span, uniform model
    # point probe: 1/ndv per bucket, NOT the ~0 width fraction
    est_point = strm.estimate_merged_rows(
        target, range_filters={"score": (7.0, 7.0)})
    assert 0 < est_point < 50

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        narrow = strm.read_merged(
            spark, target, range_filters={"score": (0.0, 49.0)},
            broadcast_threshold_rows=1000)
        plan_n = _plan(narrow.join(facts, "score"))
        assert "BroadcastHashJoin" in plan_n

        wide = strm.read_merged(
            spark, target, range_filters={"score": (0.0, 4000.0)},
            broadcast_threshold_rows=1000)
        plan_w = _plan(wide.join(facts, "score"))
        assert "BroadcastHashJoin" not in plan_w
        assert "SortMergeJoin" in plan_w

        # a table merged without stats_cols: estimate is None -> never a
        # hint, even under a narrow filter
        no_stats = str(tmp_path / "no_stats")
        strm.merge_table(df, no_stats, keys=["k"], order_cols=["score"],
                         n_buckets=4)
        assert strm.estimate_merged_rows(
            no_stats, range_filters={"score": (0.0, 49.0)}) is None
        lread = strm.read_merged(
            spark, no_stats, range_filters={"score": (0.0, 49.0)},
            broadcast_threshold_rows=10**9)
        assert "BroadcastHashJoin" not in _plan(lread.join(facts, "score"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # correctness unchanged by the hint
    assert narrow.count() == 50 and wide.count() == 4001

    # ISO-tagged TIMESTAMP bounds decode in the estimator (review r11:
    # they previously read as plain strings -> selectivity 1.0 and the
    # hint never fired for event-time ranges, the primary use case)
    import datetime as dt

    tdf = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i))
         for i in range(2000)],
        "k long, ts timestamp",
    )
    ttarget = str(tmp_path / "tgold")
    strm.merge_table(tdf, ttarget, keys=["k"], order_cols=["ts"],
                     n_buckets=4, stats_cols=["ts"])
    est_t = strm.estimate_merged_rows(
        ttarget,
        range_filters={"ts": (dt.datetime(2024, 1, 1),
                              dt.datetime(2024, 1, 1, 1, 39))},
    )
    assert 0 < est_t < 400  # ~100/2000 of the span under the uniform model


def test_join_estimate_vs_actual_events_gold(spark, tmp_path, sf_dir):
    """r13 (VERDICT r12 item 7): explain_join_estimate's output-cardinality
    model, pinned against the ACTUAL join counts for the events⋈gold
    shapes — a per-user gold dim (merge key == join key: exact ndv) joined
    by an events fact keyed by event id (join key user_id in stats_cols:
    lower-bound ndv). Tolerance bands absorb approx_count_distinct's ~5%
    error; direction is also pinned — the model must never UNDER-estimate
    by more than the approx-ndv noise. Plus: the strategy recommendation
    flips broadcast -> sort_merge with the session budget, and the skew
    surface (bucket_skew_ratio) actually separates a hot-key fact from a
    uniform one."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import joins
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    ev = (
        src.load_events(spark, sf_dir)
        .select(
            F.monotonically_increasing_id().alias("eid"),
            "user_id",
            "value",
        )
    )
    fact_t = str(tmp_path / "events_fact")
    strm.merge_table(ev, fact_t, keys=["eid"], order_cols=["eid"],
                     n_buckets=4, stats_cols=["user_id", "value"])
    gold = ev.groupBy("user_id").agg(F.sum("value").alias("total"))
    dim_t = str(tmp_path / "gold_dim")
    strm.merge_table(gold, dim_t, keys=["user_id"], order_cols=["total"],
                     n_buckets=4, stats_cols=["user_id"])

    n_fact = strm.read_merged(spark, fact_t).count()
    actual_inner = (
        strm.read_merged(spark, fact_t)
        .join(strm.read_merged(spark, dim_t), "user_id")
        .count()
    )
    est = joins.explain_join_estimate(spark, fact_t, dim_t, "user_id")
    assert est is not None
    # dim covers every fact user, one row per user -> inner output ==
    # fact rows; the model's containment estimate should land within the
    # approx-ndv band and never under-shoot past it
    assert abs(est["est_rows"] / actual_inner - 1) < 0.15, est
    assert est["dim"]["ndv_exact"] is True
    assert est["fact"]["ndv_exact"] is False
    # one gold row per user; ndv is approx_count_distinct, so a band
    assert abs(est["dim"]["rows_per_key"] - 1.0) < 0.1

    left = joins.explain_join_estimate(spark, fact_t, dim_t, "user_id",
                                       how="left")
    assert left["est_rows"] >= n_fact  # floored at the fact side

    # no-guess rule: a side without the key in stats_cols -> None
    no_stats = str(tmp_path / "no_stats_dim")
    strm.merge_table(gold, no_stats, keys=["user_id"], order_cols=["total"],
                     n_buckets=4)
    assert joins.explain_join_estimate(spark, fact_t, no_stats, "user_id") is None

    # strategy recommendation keys off the session broadcast budget
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        assert joins.explain_join_estimate(
            spark, fact_t, dim_t, "user_id")["strategy"] == "broadcast"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        no_bc = joins.explain_join_estimate(spark, fact_t, dim_t, "user_id")
        assert no_bc["strategy"] in ("shuffle_hash", "sort_merge")
        assert no_bc["strategy"] != "broadcast"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # fan-out surface: rows_per_key — the statistic that sizes a salt
    # factor — separates the real events fact (~dozens of rows per user)
    # from a one-row-per-key fact by the true ratio (single-hot-key skew
    # is invisible to averages by construction; the model documents that
    # as AQE's runtime job)
    sparse = ev.withColumn("user_id", F.col("eid"))
    sparse_t = str(tmp_path / "sparse_fact")
    strm.merge_table(sparse, sparse_t, keys=["eid"], order_cols=["eid"],
                     n_buckets=4, stats_cols=["user_id"])
    sparse_est = joins.explain_join_estimate(spark, sparse_t, dim_t, "user_id")
    assert est["fact"]["rows_per_key"] > 5 * sparse_est["fact"]["rows_per_key"]

    # the salting consumer: n_salts sized from rows_per_key, clamped,
    # no-guess on a stats-less side; result set unchanged by the salt
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import skew

    n = skew.suggest_salts(spark, fact_t, dim_t, "user_id",
                           target_rows_per_group=10)
    assert n is not None and 2 <= n <= 64
    assert skew.suggest_salts(spark, fact_t, dim_t, "user_id",
                              target_rows_per_group=10, max_salts=4) == 4
    assert skew.suggest_salts(
        spark, fact_t, dim_t, "user_id",
        target_rows_per_group=10**9) == 1  # roomy target: don't salt
    assert skew.suggest_salts(spark, fact_t, no_stats, "user_id",
                              target_rows_per_group=10) is None
    salted = skew.salted_join(
        strm.read_merged(spark, fact_t), strm.read_merged(spark, dim_t),
        "user_id", n_salts=n)
    assert salted.count() == actual_inner


def test_estimate_correlation_clamp_auto_threshold_and_join_helper(
    spark, tmp_path
):
    """r12 (VERDICT r11 item 4 + nit 3): (a) composed selectivity is the
    MIN of per-filter selectivities, never the independence product — two
    perfectly correlated narrow filters estimate like one, so the model
    keeps its errs-toward-NOT-broadcasting promise; (b)
    broadcast_threshold_rows='auto' derives the row threshold from
    spark.sql.autoBroadcastJoinThreshold / recorded bytes-per-row — no
    magic number; (c) joins.enrich_with_merged_dim consults it, so a
    narrow slice of a big merge-table dim auto-broadcasts WITH NO CALLER
    HINT while Spark's own static file-bytes check alone would have
    planned sort-merge (the unhinted control pins that)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import joins
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    # score2 == score: perfectly correlated columns
    rows = [(i, float(i), float(i)) for i in range(5000)]
    df = spark.createDataFrame(rows, "k long, score double, score2 double")
    target = str(tmp_path / "gold")
    strm.merge_table(df, target, keys=["k"], order_cols=["score"],
                     n_buckets=4, stats_cols=["score", "score2"])

    # (a) correlation clamp: both-filters estimate == single-filter
    # estimate (the conjunction bound), NOT the ~0.01% product
    one = strm.estimate_merged_rows(
        target, range_filters={"score": (0.0, 49.0)})
    both = strm.estimate_merged_rows(
        target,
        range_filters={"score": (0.0, 49.0), "score2": (0.0, 49.0)})
    assert 0 < one < 500
    assert both == one  # true answer is 50; the product would say ~1
    # a genuinely tighter second filter still tightens the estimate
    tighter = strm.estimate_merged_rows(
        target,
        range_filters={"score": (0.0, 4000.0), "score2": (0.0, 49.0)})
    assert tighter == one

    # byte-conf parser: the spellings Spark accepts
    assert strm._parse_byte_conf("10485760b") == 10 * 1024 * 1024
    assert strm._parse_byte_conf("10MB") == 10 * 1024 * 1024
    assert strm._parse_byte_conf("8k") == 8192
    assert strm._parse_byte_conf("1g") == 1024 ** 3
    assert strm._parse_byte_conf("-1") == -1
    assert strm._parse_byte_conf("2048") == 2048

    facts = spark.createDataFrame(
        [(float(i % 5000), i) for i in range(30000)],
        "score double, payload long")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # small enough that the dim's FILE bytes exceed it (Spark's own static
    # check won't broadcast the scan) while 50 estimated rows x recorded
    # bytes-per-row fits comfortably
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8k")
    try:
        # control: NO hint requested -> Spark alone plans sort-merge for
        # both sides (pins that any broadcast below is OUR hint)
        bare = strm.read_merged(
            spark, target, range_filters={"score": (0.0, 49.0)})
        plan0 = _plan(facts.join(bare, "score"))
        assert "BroadcastHashJoin" not in plan0

        # (b) 'auto': narrow slice broadcasts, wide slice does not
        narrow = strm.read_merged(
            spark, target, range_filters={"score": (0.0, 49.0)},
            broadcast_threshold_rows="auto")
        assert "BroadcastHashJoin" in _plan(facts.join(narrow, "score"))
        wide = strm.read_merged(
            spark, target, range_filters={"score": (0.0, 4800.0)},
            broadcast_threshold_rows="auto")
        assert "BroadcastHashJoin" not in _plan(facts.join(wide, "score"))

        # disabled budget (-1): 'auto' never hints
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        off = strm.read_merged(
            spark, target, range_filters={"score": (0.0, 49.0)},
            broadcast_threshold_rows="auto")
        assert "BroadcastHashJoin" not in _plan(facts.join(off, "score"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8k")

        # (c) the join helper: merge-table dim side auto-broadcasts with
        # no caller hint, and the answer is the plain join's
        out = joins.enrich_with_merged_dim(
            spark, facts, target, "score",
            range_filters={"score": (0.0, 49.0)})
        assert "BroadcastHashJoin" in _plan(out)
        assert out.count() == 50 * 6  # 30000/5000 facts per score value
        import pytest

        with pytest.raises(ValueError, match="no committed merge table"):
            joins.enrich_with_merged_dim(
                spark, facts, str(tmp_path / "nope"), "score")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
