"""Capped-LSH regression tests, plus the IVF-PQ refine pruning and the
per-word BPE assembly checks.

The capped LSH path drops over-cap buckets before any collect_list can
buffer them, judges the cap on COUNT(*) (NULL-id rows count, as in the
DuckDB oracle), never emits (id, id) self-pairs on duplicate doc_id rows,
and takes the same candidate path at every cap: one collect per bucket,
pairs emitted one member per row.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd

_TXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_capped_lsh_overcap_bucket_dropped_before_collect(spark):
    # 6 identical docs -> one 6-member bucket per band; cap=5 drops them ALL
    docs = _docs(spark, [(i, _TXT) for i in range(1, 7)])
    capped = dd.minhash_lsh_pairs(docs, threshold=0.1, max_bucket_size=5)
    assert capped.count() == 0
    # the guard is structural: the capped plan carries the shared-exchange
    # COUNT(*) window + filter BELOW the collect_list aggregate, so no
    # aggregation buffer can exceed the cap
    plan = _plan(capped)
    assert "Window" in plan
    assert "collect_list" in plan
    # the window's count filter sits in the plan (the guard predicate)
    assert "__bsz" in plan
    # cap=6 keeps the bucket: all C(6,2)=15 pairs verify at jaccard 1.0
    ok = dd.minhash_lsh_pairs(docs, threshold=0.1, max_bucket_size=6)
    rows = ok.collect()
    assert len(rows) == 15
    assert all(r["doc_a"] < r["doc_b"] and r["jaccard"] == 1.0 for r in rows)


def test_capped_lsh_cap_counts_null_id_rows(spark):
    # 5 real docs + 1 NULL-id row with the same text: COUNT(*)=6 > cap=5, so
    # the bucket is dropped — the oracle's HAVING COUNT(*) semantics (a
    # size(collect_list) filter would skip the NULL and keep it)
    docs = _docs(spark, [(i, _TXT) for i in range(1, 6)] + [(None, _TXT)])
    assert dd.minhash_lsh_pairs(docs, threshold=0.1, max_bucket_size=5).count() == 0
    # at cap=6 the bucket survives; the NULL row itself cannot pair
    rows = dd.minhash_lsh_pairs(docs, threshold=0.1, max_bucket_size=6).collect()
    assert len(rows) == 10  # C(5,2) among the real ids
    assert all(r["doc_a"] is not None and r["doc_b"] is not None for r in rows)


def test_capped_lsh_no_self_pairs_on_duplicate_ids(spark):
    # duplicate doc_id rows sort adjacent in the collected bucket list and
    # must not emit (id, id) pairs; the join form's strict < never did
    docs = _docs(spark, [(1, _TXT), (1, _TXT), (2, _TXT)])
    rows = dd.minhash_lsh_pairs(docs, threshold=0.1, max_bucket_size=8).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2)}


def _assert_one_candidate_path(df) -> None:
    # one groupBy collect per bucket behind the COUNT(*) window: no census
    # anti join, and no in-row pair array
    plan = _plan(df)
    assert "collect_list" in plan
    assert "LeftAnti" not in plan
    assert "flatten" not in plan


def test_capped_lsh_any_cap_takes_the_one_candidate_path(spark, tmp_path):
    # a mixed corpus: one near-dup pair + unrelated docs
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different words in this document body here"),
            (4, "yet another unrelated text with its own token stream"),
        ],
    )
    small = dd.minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=256)
    big = dd.minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=5000)
    _assert_one_candidate_path(small)
    _assert_one_candidate_path(big)
    # no bucket here exceeds either cap, so the pair sets are identical
    key = lambda r: (r["doc_a"], r["doc_b"], r["jaccard"])  # noqa: E731
    assert sorted(map(key, small.collect())) == sorted(map(key, big.collect()))

    # the cross-corpus operators take the same path at both caps
    new = _docs(
        spark,
        [
            (11, "the quick brown fox jumps over the lazy dog tonight again"),
            (12, "fresh words that no stored document has ever contained"),
        ],
    )
    sig_path = str(tmp_path / "sigs")
    dd.write_signature_table(docs, sig_path)
    cross_ops = [
        lambda cap: dd.cross_corpus_neardup(
            new, docs, threshold=0.3, max_bucket_size=cap
        ),
        lambda cap: dd.cross_corpus_neardup_indexed(
            new, spark, sig_path, threshold=0.3, max_bucket_size=cap
        ),
    ]
    ckey = lambda r: (r["doc_id"], r["match_id"], r["jaccard"])  # noqa: E731
    for op in cross_ops:
        small, big = op(256), op(5000)
        _assert_one_candidate_path(small)
        _assert_one_candidate_path(big)
        pairs = sorted(map(ckey, big.collect()))
        assert pairs == sorted(map(ckey, small.collect()))
        assert {(p[0], p[1]) for p in pairs} >= {(11, 1)}


def test_capped_lsh_degenerate_bucket_under_the_cap_pairs_every_member(spark):
    # N identical docs share one bucket per band; a cap >= N keeps it, so
    # every pair must come out: C(N, 2) self pairs, |new| * |old| cross pairs
    n, n_new = 300, 120
    docs = _docs(spark, [(i, _TXT) for i in range(n)])
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.1, max_bucket_size=n)
    assert pairs.count() == n * (n - 1) // 2
    new, old = docs.filter(F.col("doc_id") < n_new), docs.filter(F.col("doc_id") >= n_new)
    cross = dd.cross_corpus_neardup(new, old, threshold=0.1, max_bucket_size=n)
    assert cross.count() == n_new * (n - n_new)


def test_ivfpq_batch_refine_vectors_scan_is_cell_pruned(spark, sf_dir, tmp_path):
    # the batch refine step joins vectors/ on (cell, id) so dynamic
    # partition pruning reaches the cell-partitioned VECTORS scan too, not
    # only codes/, and the refine does not read every cell's float
    # vectors. Results are pinned against the
    # per-query path by test_ivfpq_batch_plan_prunes_dynamically_and_broadcasts.
    from pyspark.sql import functions as F

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
    # the vectors scan's own detail block must carry the pruning filter
    blocks = plan.split("Location:")
    vec_blocks = [b for b in blocks if "/vectors" in b.split("\n")[0]]
    assert vec_blocks, "vectors scan missing from plan"
    assert any("dynamicpruning" in b.lower() for b in vec_blocks), (
        "vectors scan lost its dynamic partition pruning"
    )


def test_bpe_assemble_per_word_bit_identical(spark, sf_dir):
    # bpe_encode_ids(assemble_per_word=True) must return byte-identical
    # token-id sequences on every branch it can take — the expression path,
    # the >BPE_EXPR_MAX_MERGES UDF path, and byte fallback — including
    # guaranteed-OOV words with digit runs (the winnower convention).
    from pyspark.sql import functions as SF

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = (
        src.load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            SF.concat(
                SF.col("text"), SF.lit(" winnower"), SF.col("doc_id").cast("string")
            ).alias("text"),
        )
        .limit(40)
    )
    merges, vocab = tx.bpe_train(docs, n_merges=6, return_vocab=True)

    def rows(df):
        return sorted(
            (r["doc_id"], tuple(r["token_ids"]), r["n_tokens"]) for r in df.collect()
        )

    for kwargs in (
        {"merges": merges},
        {"merges": merges, "byte_fallback": True},
    ):
        base = rows(tx.bpe_encode_ids(docs, vocab, **kwargs))
        pw = rows(tx.bpe_encode_ids(docs, vocab, assemble_per_word=True, **kwargs))
        assert base == pw, f"per-word assembly diverged for {kwargs}"


def test_cross_capped_guard_drops_overcap_combined_bucket(spark):
    # combined population 3 (2 new + 1 old identical docs) > cap=2 -> no
    # pairs; the COUNT(*) window sits ahead of the conditional collects
    new = _docs(spark, [(1, _TXT), (2, _TXT)])
    old = _docs(spark, [(100, _TXT)])
    capped = dd.cross_corpus_neardup(
        new, old, threshold=0.1, max_bucket_size=2
    )
    assert capped.count() == 0
    assert "Window" in _plan(capped)  # shared-exchange count guard
    # cap=3 keeps the bucket: each new doc matches the old one
    ok = dd.cross_corpus_neardup(new, old, threshold=0.1, max_bucket_size=3)
    assert {(r["doc_id"], r["match_id"]) for r in ok.collect()} == {
        (1, 100),
        (2, 100),
    }
