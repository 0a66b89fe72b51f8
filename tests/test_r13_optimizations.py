"""Round-13 optimization regression tests: the expression rewrites must be
BIT-IDENTICAL to the pre-r13 reference formulations (the optimization round
must not change what any query computes).

Covers:
- hashed_shingles / ngrams / adjacent_pairs via _sliding_tuples (slice+zip
  window assembly vs the old transform(sequence)+get per-gram form)
- minhash_int_signature (aggregate/least fold vs array_min(transform), with
  the b+j coefficient pre-fold)
- the empty-array signature contract (NULL mins, not the fold identity)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx


def _ref_hashed_shingles(text_col, n=3):
    """Pre-r13 formulation (transform over an index sequence, F.get per
    element) — kept here as the equality oracle for the slice/zip rewrite."""
    th = F.transform(tx.tokens(tx.normalized_text(text_col)), lambda t: F.xxhash64(t))
    grams = F.when(
        F.size(th) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(th) - n),
            lambda i: F.xxhash64(*[F.get(th, i + k) for k in range(n)]),
        ),
    ).otherwise(F.array(F.xxhash64(*[F.lit(0)])))
    return F.array_distinct(grams)


def _ref_minhash_int_signature(arr, num=32):
    """Pre-r13 formulation (array_min over a transformed copy per hash)."""

    def h(j):
        a = dd._MINHASH_A[j % len(dd._MINHASH_A)] | 1
        b = (j * 0x9E3779B97F4A7C15 + 0x85EBCA77C2B2AE63) % (1 << 64)
        a_s = a - (1 << 64) if a >= (1 << 63) else a
        b_s = b - (1 << 64) if b >= (1 << 63) else b
        return lambda x: x * F.lit(a_s) + F.lit(b_s) + F.lit(j)

    return F.array(*[F.array_min(F.transform(arr, h(j))) for j in range(num)])


def _ref_ngrams(text, n):
    """Pre-r13 formulation (concat_ws over a per-gram slice)."""
    toks = tx.tokens(tx.normalized_text(text))
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def _ref_adjacent_pairs(text):
    toks = tx.tokens(tx.normalized_text(text))
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.get(toks, i - 1), F.get(toks, i)),
        ),
    ).otherwise(F.array().cast("array<string>"))


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(
        [
            (1, ""),
            (2, None),
            (3, "one"),
            (4, "two words"),
            (5, "exactly three tokens"),
            (6, "four tokens right here"),
            (7, "   "),
            (8, "a a a a a"),
            (9, "Tab\tsep\nnewline mix  spaces"),
            (10, "punct, and CAPS! plus 123 digits?"),
        ],
        "doc_id long, text string",
    )


@pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
def test_sliding_rewrites_match_reference_on_edges(edge_docs, n):
    cmp = (
        edge_docs.select(
            "doc_id",
            _ref_hashed_shingles(F.col("text"), n).alias("ref_sh"),
            dd.hashed_shingles(F.col("text"), n).alias("new_sh"),
            _ref_ngrams(F.col("text"), n).alias("ref_ng"),
            tx.ngrams(F.col("text"), n).alias("new_ng"),
        )
        .withColumn("ref_sig", _ref_minhash_int_signature(F.col("ref_sh"), 16))
        .withColumn("new_sig", dd.minhash_int_signature(F.col("new_sh"), 16))
    )
    bad = cmp.filter(
        (~(F.col("ref_sh") == F.col("new_sh")))
        | (~(F.col("ref_ng") == F.col("new_ng")))
        | (~(F.col("ref_sig") == F.col("new_sig")))
    ).count()
    assert bad == 0


def test_sliding_rewrites_match_reference_on_corpus(spark, sf_dir):
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cmp = (
        docs.select(
            "doc_id",
            _ref_hashed_shingles(F.col("text"), 3).alias("ref_sh"),
            dd.hashed_shingles(F.col("text"), 3).alias("new_sh"),
            _ref_adjacent_pairs(F.col("text")).alias("ref_ap"),
            tx.adjacent_pairs(F.col("text")).alias("new_ap"),
        )
        .withColumn("ref_sig", _ref_minhash_int_signature(F.col("ref_sh"), 32))
        .withColumn("new_sig", dd.minhash_int_signature(F.col("new_sh"), 32))
    )
    bad = cmp.filter(
        (~(F.col("ref_sh") == F.col("new_sh")))
        | (~(F.col("ref_ap") == F.col("new_ap")))
        | (~(F.col("ref_sig") == F.col("new_sig")))
    ).count()
    assert bad == 0


def test_minhash_signature_empty_array_contract(spark):
    """array_min(empty) was NULL per hash; the fold must not leak its
    MAX_LONG identity."""
    row = (
        spark.range(1)
        .select(dd.minhash_int_signature(F.array().cast("array<long>"), 4).alias("s"))
        .collect()[0]
    )
    assert list(row["s"]) == [None, None, None, None]


def test_cross_corpus_capped_pairs(spark, tmp_path):
    """The capped cross-corpus paths generate candidates from one groupBy
    per bucket (see dd._cross_candidates). Semantics pinned: a bucket
    whose COMBINED population exceeds the cap contributes no pairs (the six
    identical docs split 3/3 across sides land in one 6-member bucket per
    band, all over cap=4), while under-cap cross-side near-dups still pair;
    within-side pairs never appear. All three capped operators must agree."""
    base = " ".join(f"tok{j}" for j in range(40))
    other = " ".join(f"w{j}" for j in range(40))
    new = spark.createDataFrame(
        [(1, base), (2, base), (3, base), (10, other + " tail")],
        "doc_id long, text string",
    )
    old = spark.createDataFrame(
        [(101, base), (102, base), (103, base), (110, other)],
        "doc_id long, text string",
    )

    def pairs(df):
        return sorted((r.doc_id, r.match_id) for r in df.collect())

    capped = pairs(dd.cross_corpus_neardup(new, old, threshold=0.5, max_bucket_size=4))
    assert capped == [(10, 110)]
    uncapped = pairs(dd.cross_corpus_neardup(new, old, threshold=0.5))
    assert uncapped == sorted(
        [(a, b) for a in (1, 2, 3) for b in (101, 102, 103)] + [(10, 110)]
    )

    sig_path = str(tmp_path / "sigs")
    dd.write_signature_table(old, sig_path)
    assert pairs(
        dd.cross_corpus_neardup_indexed(
            new, spark, sig_path, threshold=0.5, max_bucket_size=4
        )
    ) == [(10, 110)]

    psig_path = str(tmp_path / "psigs")
    dd.write_signature_table(old, psig_path, family="md5")
    assert pairs(
        dd.cross_corpus_neardup_indexed(
            new, spark, psig_path, threshold=0.5, max_bucket_size=4, family="md5"
        )
    ) == [(10, 110)]


def test_connected_components_touched_only_iteration(spark):
    """r13: the label loop iterates only edge-touched vertices; singletons
    re-attach via the final left join. Mixed graph with a majority of
    singletons must still label every vertex, components unchanged."""
    edges = spark.createDataFrame(
        [(2, 5), (5, 9), (11, 12)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 16)], "id long")
    comp = {r.id: r.comp for r in dd.connected_components(edges, verts).collect()}
    assert comp[2] == comp[5] == comp[9] == 2
    assert comp[11] == comp[12] == 11
    for v in [1, 3, 4, 6, 7, 8, 10, 13, 14, 15]:
        assert comp[v] == v
    assert len(comp) == 15
