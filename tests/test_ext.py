"""[EXT] operator tests: approximate algorithms validated against brute-force
ground truth (the checks the DuckDB oracle can't express — SURVEY §7.3)."""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
from tesla_competitive_intelligence_etl_pipeline_spark.operators import multimodal as mm
from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

BASE_DOC = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across executors and the optimizer prunes columns "
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """20 docs: 5 near-dup pairs (one-word edits of a base doc), 10 unrelated."""
    rows = []
    for i in range(5):
        base = BASE_DOC + f"variant {i} " + " ".join(f"tok{i}{j}" for j in range(10))
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + " extra"))
    for i in range(10, 20):
        rows.append((i + 10, " ".join(f"word{i}{j}" for j in range(40))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_planted_near_dups(near_dup_docs):
    pairs = dd.minhash_lsh_pairs(near_dup_docs, threshold=0.5)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(5)}
    # high-similarity planted pairs must all survive LSH + exact verification
    assert planted <= found
    # and nothing below the exact-jaccard threshold sneaks in (verify step)
    for r in pairs.collect():
        assert r.jaccard >= 0.5


def test_minhash_lsh_no_false_positives_on_verification(near_dup_docs):
    """LSH may propose garbage candidates; exact verification must kill them."""
    strict = dd.minhash_lsh_pairs(near_dup_docs, threshold=0.99)
    for r in strict.collect():
        assert r.jaccard >= 0.99


def test_simhash_signature_property(near_dup_docs):
    """Planted near-dups must have close signatures (the signature is exact;
    only the band-pruned pair *search* is approximate)."""
    sigs = {
        r.doc_id: r.sig
        for r in near_dup_docs.select(
            "doc_id", dd.simhash(F.col("text")).alias("sig")
        ).collect()
    }
    for i in range(5):
        hamming = bin((sigs[2 * i] ^ sigs[2 * i + 1]) & (2**64 - 1)).count("1")
        assert hamming <= 20, f"pair {i} hamming {hamming}"


def test_simhash_pairs_on_planted_dups(near_dup_docs):
    pairs = dd.simhash_pairs(near_dup_docs, max_hamming=16)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(5)}
    # banding guarantees recall only for hamming <= bands-1; require >= 4/5
    assert len(planted & found) >= 4


def test_near_dedup_canonical_drops_higher_id_partner(near_dup_docs):
    survivors = {r.doc_id for r in dd.near_dedup_canonical(near_dup_docs, threshold=0.5).collect()}
    for i in range(5):
        assert 2 * i in survivors      # lower id of each planted pair kept
        assert 2 * i + 1 not in survivors  # higher id dropped
    assert {i + 10 for i in range(10, 20)} <= survivors  # unrelated docs kept


def test_exact_dedup_recrawl(spark, sf_dir):
    docs = src.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 10**6))
    out = dd.exact_dedup(recrawl)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r.dup_count == 2 for r in rows)
    assert all(r.doc_id < 10**6 for r in rows)  # survivor = lowest id


def test_lsh_ann_results_subset_of_bruteforce_scores(spark, sf_dir):
    emb = src.load_table(spark, sf_dir, "embeddings")
    brute = {r.vec_id: r.cos_sim for r in sim.topk_neighbors_of(emb, 0, k=500).collect()}
    ann = sim.lsh_topk(emb, 0, k=10, n_planes=6).collect()
    assert len(ann) > 0
    for r in ann:  # ANN never invents scores — exact re-rank inside bucket
        assert abs(brute[r.vec_id] - r.cos_sim) < 1e-9
    # determinism: second run identical
    ann2 = sim.lsh_topk(emb, 0, k=10, n_planes=6).collect()
    assert [(r.vec_id, r.cos_sim) for r in ann] == [(r.vec_id, r.cos_sim) for r in ann2]


def test_ivf_topk_scores_match_bruteforce(spark, sf_dir):
    emb = src.load_table(spark, sf_dir, "embeddings")
    brute = {r.vec_id: r.cos_sim for r in sim.topk_neighbors_of(emb, 0, k=500).collect()}
    ivf = sim.ivf_topk(emb, 0, k=10, n_probe=2).collect()
    assert len(ivf) == 10
    for r in ivf:
        assert abs(brute[r.vec_id] - r.cos_sim) < 1e-9


def test_ivfpq_adhoc_matches_indexed_and_scores_exact(spark, sf_dir, tmp_path):
    """IVF-PQ + refine: the ad-hoc path (train + probe + ADC + refine off a
    DataFrame) and the materialized-index path must return IDENTICAL
    results (same codebooks by round_decimals=6 determinism), and every
    returned score is the TRUE cosine (the refine step re-ranks exactly —
    PQ only shapes the shortlist, it never invents scores)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    emb = src.load_table(spark, sf_dir, "embeddings")
    adhoc = clustering.ivfpq_topk(
        emb, 0, k=10, n_probe=2, refine=4, m=4, k_codes=16,
        max_iters=2, train_fraction=0.2, round_decimals=6,
    ).collect()
    idx = str(tmp_path / "ivfpq")
    books = clustering.build_ivfpq_index(
        emb, idx, m=4, k=16, max_iters=2, train_fraction=0.2, round_decimals=6
    )
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    indexed = clustering.ivfpq_topk_indexed(
        spark, idx, query, k=10, n_probe=2, refine=4, codebooks=books
    ).collect()
    assert [(r.vec_id, r.cos_sim) for r in adhoc] == [
        (r.vec_id, r.cos_sim) for r in indexed
    ]
    brute = {
        r.vec_id: r.cos_sim for r in sim.topk_neighbors_of(emb, 0, k=500).collect()
    }
    hits = 0
    for r in indexed:
        if r.vec_id in brute:
            assert abs(brute[r.vec_id] - r.cos_sim) < 1e-9
            hits += 1
    assert hits >= 5  # recall floor vs exact top-500 under 2-cell probing


def test_approx_sketches_within_bounds(spark, sf_dir):
    li = src.load_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.count_distinct("l_partkey").alias("nd"),
        F.percentile("l_quantity", F.lit(0.5)).alias("p50"),
    ).first()
    approx = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("nd"),
        F.percentile_approx("l_quantity", F.lit(0.5), 10000).alias("p50"),
    ).first()
    assert abs(approx.nd - exact.nd) <= max(3, 0.06 * exact.nd)  # 3x rsd
    assert abs(approx.p50 - exact.p50) <= 1.0


def test_multimodal_feature_plumbing(spark, sf_dir):
    docs = src.load_table(spark, sf_dir, "documents").limit(50)
    feats = mm.extract_features(mm.attach_binary_payload(docs))
    rows = feats.collect()
    assert len(rows) == 50
    import hashlib

    for r in rows:
        assert len(r.features) == mm.FEATURE_DIM
        assert abs(sum(r.features) - 1.0) < 1e-3  # normalized fake features
        assert r.n_bytes > 0
        assert len(r.payload_md5) == 32

    # hand-computed vector + Python-side md5 on a known payload
    one = spark.createDataFrame(
        [(1, "text", bytearray(b"abcdefgh"), 8, "{}")],
        "doc_id long, modality string, payload binary, n_bytes long, meta string",
    )
    row = mm.extract_features(one).collect()[0]
    total = sum(b"abcdefgh")
    assert row.features == [round(b / total, 6) for b in b"abcdefgh"]
    assert row.payload_md5 == hashlib.md5(b"abcdefgh").hexdigest()


def test_multimodal_decode_stub_raises_for_unsupported_modality():
    with pytest.raises(NotImplementedError):
        mm.decode_payload(b"\x89PNG", "image")


def test_sample_frames_hand_computed(spark):
    """Frame windows, cap, tail-frame length, and checksums against
    hand-computed values: a 10-byte payload at frame_bytes=4 yields frames
    [0:4], [4:8], [8:10]; a 100-byte payload caps at max_frames; empty
    payloads yield no frames."""
    import hashlib

    payload = bytes(range(10))
    big = bytes(range(100))
    rows = spark.createDataFrame(
        [(1, "video", bytearray(payload), 10, "{}"),
         (2, "video", bytearray(big), 100, "{}"),
         (3, "video", bytearray(b""), 0, "{}")],
        "doc_id long, modality string, payload binary, n_bytes long, meta string",
    )
    out = mm.sample_frames(rows, frame_bytes=4, max_frames=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.frame_ix] = r

    def md5_hex_window(data, i, fb=4):
        return hashlib.md5(data.hex().upper()[i * 2 * fb:(i + 1) * 2 * fb].encode()).hexdigest()

    assert sorted(by_doc[1]) == [0, 1, 2]
    assert [by_doc[1][i].frame_n_bytes for i in range(3)] == [4, 4, 2]  # short tail
    for i in range(3):
        assert by_doc[1][i].frame_md5 == md5_hex_window(payload, i)
    assert sorted(by_doc[2]) == [0, 1, 2]  # capped at max_frames
    assert all(by_doc[2][i].frame_n_bytes == 4 for i in range(3))
    assert by_doc[2][0].frame_md5 == md5_hex_window(big, 0)
    assert 3 not in by_doc  # empty payload -> no frames


def test_connected_components_transitive_chain(spark):
    """A~B and B~C (A!~C directly) must land in ONE cluster: the transitive
    policy pairwise dedup misses (VERDICT r1 item 7). Prefix-nested docs give
    exact trigram-shingle Jaccards: with |A|=50, |B|=60, |C|=70 tokens,
    J(A,B)=48/58=.83, J(B,C)=58/68=.85, J(A,C)=48/68=.71 — a clean chain at
    threshold 0.75. xxhash64 minhash is deterministic, so no flakiness."""
    words = [f"w{i}" for i in range(70)]
    doc_a = " ".join(words[:50])
    doc_b = " ".join(words[:60])
    doc_c = " ".join(words[:70])
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c), (9, " ".join(f"z{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.75)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 2) in got and (2, 3) in got, got
    assert (1, 3) not in got  # below threshold: transitivity must supply it

    clusters = dd.near_dup_clusters(docs, threshold=0.75)
    by_id = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert by_id[1] == by_id[2] == by_id[3] == 1  # one cluster, min-id label
    assert by_id[9] == 9  # singleton untouched

    survivors = {r.doc_id for r in dd.near_dedup_transitive(docs, threshold=0.75).collect()}
    assert survivors == {1, 9}


def test_connected_components_plain_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 8]], "id long")
    comp = {r.id: r.comp for r in dd.connected_components(edges, verts).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_reliable_checkpoint_escape_hatch(spark, tmp_path):
    """VERDICT r5 item 5: the iterative operators' lineage truncation can be
    flipped from executor-local blocks to a RELIABLE checkpoint (survives
    executor decommissioning). reliable=True must (a) produce identical
    results, (b) actually write checkpoint data to the configured dir, and
    (c) fail immediately with instructions when no checkpoint dir is set."""
    import os

    import pytest

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "src long, dst long"
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 7, 8]], "id long")
    want = {r.id: r.comp for r in dd.connected_components(edges, verts).collect()}

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    with pytest.raises(ValueError, match="setCheckpointDir"):
        dd.connected_components(edges, verts, reliable=True)

    # leaving the dir set for the rest of the session is harmless: every
    # other call uses reliable=False, which localCheckpoints regardless
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    got = {
        r.id: r.comp
        for r in dd.connected_components(edges, verts, reliable=True).collect()
    }
    assert got == want
    # real checkpoint files were written (rdd-* dirs under the ckpt dir)
    walked = [f for _, _, fl in os.walk(ckpt) for f in fl]
    assert walked, "reliable=True wrote no checkpoint data"
    # the star variant accepts the flag too
    star = {
        r.id: r.comp
        for r in dd.connected_components_star(edges, verts, reliable=True).collect()
    }
    assert star == want


def test_ngram_pruning_bounds_candidates_on_skewed_tokens(spark):
    """One hot token shared by every doc must not quadratically explode the
    candidate set; pruned and unpruned runs agree on real near-dups whose
    similarity comes from non-frequent tokens."""
    rows = []
    for i in range(30):
        rows.append((i, "hot " + " ".join(f"u{i}_{j}" for j in range(10))))
    # one genuine near-dup pair sharing 10 rare tokens + hot
    rows.append((100, "hot " + " ".join(f"r{j}" for j in range(10))))
    rows.append((101, "hot " + " ".join(f"r{j}" for j in range(9)) + " other"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pruned = dd.ngram_jaccard_pairs(docs, threshold=0.5, max_token_df=5)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pruned.collect()}
    assert (100, 101) in got
    # exact jaccard over FULL token sets (hot included): inter = {hot, r0..r8}
    # = 10, union = 11 + 11 - 10 = 12
    assert abs(got[(100, 101)] - round(10 / 12, 6)) < 1e-6

    # candidate bound: with the hot token pruned, only docs sharing a rare
    # token pair up -> exactly the planted pair; unpruned would consider
    # 32*31/2 = 496 hot-token pairs
    assert set(got) == {(100, 101)}


def test_salted_join_rejects_dim_duplicating_how(spark):
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import skew

    facts = spark.createDataFrame([(1, "a")], "k long, v string")
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k long, d string")
    with pytest.raises(ValueError, match="salted_join supports"):
        skew.salted_join(facts, dim, "k", n_salts=4, how="full")
    # left join stays fact-preserving and exact
    out = skew.salted_join(facts, dim, "k", n_salts=4, how="left")
    assert out.count() == 1


def test_stable_sampling_monotone_and_deterministic(spark, sf_dir):
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import sampling

    docs = src.load_table(spark, sf_dir, "documents")
    s10 = {r.doc_id for r in sampling.sample_fraction(docs, "doc_id", 0.10).collect()}
    s20 = {r.doc_id for r in sampling.sample_fraction(docs, "doc_id", 0.20).collect()}
    assert s10 <= s20  # monotone: raising the rate only adds rows
    n = docs.count()
    assert 0.04 * n <= len(s10) <= 0.16 * n  # ~10%
    # deterministic across invocations
    again = {r.doc_id for r in sampling.sample_fraction(docs, "doc_id", 0.10).collect()}
    assert s10 == again


def test_stratified_quota_bounds_every_group(spark, sf_dir):
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import sampling

    docs = src.load_table(spark, sf_dir, "documents")
    out = sampling.stratified_quota(docs, ["lang"], "doc_id", 7)
    per = {r.lang: r.cnt for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert per and all(c <= 7 for c in per.values())


def test_split_assign_partition_is_stable_and_complete(spark, sf_dir):
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import sampling

    docs = src.load_table(spark, sf_dir, "documents")
    out = sampling.split_assign(docs, "doc_id")
    assert out.count() == docs.count()
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}
    # same doc -> same split on recompute (leakage-free)
    a = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in sampling.split_assign(docs, "doc_id").select("doc_id", "split").collect()}
    assert a == b


def test_upsample_repeats_drops_nonpositive_factors(spark):
    """ADVICE r2: sequence(1, stop) defaults to step -1 when stop < 1, so an
    unguarded explode would DUPLICATE rows with repeats <= 0 instead of
    dropping them. The guarded form must drop them (mixture factor 0 =
    exclude the source) and keep >= 1 exact."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import sampling

    df = spark.createDataFrame(
        [("a", 3), ("b", 1), ("c", 0), ("d", -1), ("e", None)],
        "doc_id string, factor int",
    )
    out = sampling.upsample_repeats(df, F.col("factor"))
    got = sorted((r.doc_id, r.repeat_ix) for r in out.collect())
    assert got == [("a", 1), ("a", 2), ("a", 3), ("b", 1)]


def test_asof_join_null_payload_comes_from_matched_row(spark):
    """ADVICE r2: payload columns must all come from the SAME matched right
    row — a NULL in the matched row stays NULL (pandas merge_asof semantics),
    it must NOT fall back to an older right row's value."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import asof

    left = spark.createDataFrame([(1, 100, "A")], "trade_id long, ts long, k string")
    right = spark.createDataFrame(
        [(10, 1.0, 111.0, "A"), (50, None, 555.0, "A")],
        "qts long, px double, sz double, k string",
    )
    out = asof.asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="qts",
        payload_cols=["px", "sz"], right_tiebreak="sz",
    ).collect()
    # matched row is qts=50 (latest <= 100): px is NULL there, sz is 555
    assert out[0].px is None and out[0].sz == 555.0

    # tolerance is judged against the matched row's ts, and nulls BOTH columns
    out_tol = asof.asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="qts",
        payload_cols=["px", "sz"], right_tiebreak="sz", tolerance=F.lit(20),
    ).collect()
    assert out_tol[0].px is None and out_tol[0].sz is None  # 100-50 > 20


def test_minhash_lsh_bucket_cap_guards_degenerate_corpus(spark):
    """VERDICT r2 item 3: an all-identical block of documents lands in ONE
    band bucket, and the band self-join is quadratic in bucket size before
    the distinct. The cap must drop such buckets (bounding the candidate
    set) while leaving genuine near-dup pairs in small buckets untouched."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd

    boiler = "the quarterly report shows strong growth across all segments again"
    rows = [(i, boiler) for i in range(400)]
    # one genuine high-similarity near-dup pair (one-token tail edit over 40
    # tokens -> shingle Jaccard ~0.93, comfortably above banding recall)
    base = " ".join(f"delivery{j}" for j in range(40))
    rows += [(1000, base), (1001, base + " extra")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = dd.minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=100)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1000, 1001) in got  # small-bucket near-dups survive
    # the 400-doc degenerate block (79800 potential pairs) was dropped
    assert not any(x < 1000 and y < 1000 for x, y in got)

    # uncapped, the same corpus DOES produce the quadratic pair set
    uncapped = dd.minhash_lsh_pairs(docs, threshold=0.3, max_bucket_size=None)
    assert uncapped.filter("doc_a < 1000 AND doc_b < 1000").count() == 400 * 399 // 2


def test_cross_corpus_neardup_finds_only_cross_side_matches(spark):
    """Continual-pretraining ingestion dedup: new docs matching the existing
    corpus are flagged; near-dup pairs WITHIN either side are never reported
    (the quadratic within-side pair sets must not be materialized)."""
    base = " ".join(f"tok{j}" for j in range(40))
    other = " ".join(f"w{j}" for j in range(40))
    existing = spark.createDataFrame(
        [(100, base), (101, base + " tail"),          # near-dups WITHIN existing
         (102, other)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base + " fresh"),                        # near-dup of existing 100/101
         (2, " ".join(f"z{j}" for j in range(40))),   # novel
         (3, " ".join(f"z{j}" for j in range(40)) + " x")],  # near-dup of NEW 2
        "doc_id long, text string",
    )
    out = dd.cross_corpus_neardup(new, existing, threshold=0.5).collect()
    matched_new = {r.doc_id for r in out}
    assert matched_new == {1}  # only the cross-side near-dup
    assert {r.match_id for r in out} <= {100, 101}
    for r in out:
        assert r.jaccard >= 0.5

    # the exact (oracle-checkable) twin agrees on the cross-side-only policy
    exact = dd.cross_corpus_jaccard(new, existing, threshold=0.5).collect()
    assert {r.doc_id for r in exact} == {1}
    assert {r.match_id for r in exact} == {100, 101}
    # token-level Jaccard is exactly computable: new doc 1 is base+1 token vs
    # existing 100 = base -> 40/41
    j = {(r.doc_id, r.match_id): r.jaccard for r in exact}
    assert abs(j[(1, 100)] - round(40 / 41, 6)) < 1e-9


def test_cross_corpus_indexed_matches_unindexed(spark, tmp_path):
    """Incremental crawl dedup against a MATERIALIZED signature table must
    return exactly what the tagged-union operator returns on the same inputs
    — the stored (sh, sig) rows are the same values the union path computes
    inline. Capped and uncapped variants both agree."""
    base = " ".join(f"tok{j}" for j in range(40))
    other = " ".join(f"w{j}" for j in range(40))
    existing = spark.createDataFrame(
        [(100, base), (101, base + " tail"), (102, other)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base + " fresh"), (2, " ".join(f"z{j}" for j in range(40)))],
        "doc_id long, text string",
    )
    sig_path = str(tmp_path / "sigs")
    dd.write_signature_table(existing, sig_path)

    for cap in (None, 256):
        direct = sorted(
            tuple(r)
            for r in dd.cross_corpus_neardup(
                new, existing, threshold=0.5, max_bucket_size=cap
            ).collect()
        )
        indexed = sorted(
            tuple(r)
            for r in dd.cross_corpus_neardup_indexed(
                new, spark, sig_path, threshold=0.5, max_bucket_size=cap
            ).collect()
        )
        assert indexed == direct and len(indexed) >= 1


def test_signature_table_parameter_mismatch_raises(spark, tmp_path):
    """VERDICT r4: querying a materialized signature table with different
    num_hashes/shingle_n than it was built with must be a LOUD error (the
    _params sidecar), never silent recall loss; a legacy table without the
    sidecar degrades to a warning."""
    import shutil
    import warnings as w

    import pytest as pt

    docs = spark.createDataFrame(
        [(1, " ".join(f"tok{j}" for j in range(20)))], "doc_id long, text string"
    )
    sig_path = str(tmp_path / "sigs")
    dd.write_signature_table(docs, sig_path, num_hashes=32, shingle_n=3)

    with pt.raises(ValueError, match="shingle_n=3"):
        dd.cross_corpus_neardup_indexed(docs, spark, sig_path, shingle_n=2)
    with pt.raises(ValueError, match="num_hashes=32"):
        dd.cross_corpus_neardup_indexed(docs, spark, sig_path, num_hashes=16)
    # matching params: constructs fine
    dd.cross_corpus_neardup_indexed(docs, spark, sig_path)

    # HASH-FAMILY mismatch (r6): an xxhash64 table queried with
    # family="md5" (or vice versa) shares ZERO band buckets — must raise, never
    # return an empty-but-plausible pair list
    with pt.raises(ValueError, match="hash family"):
        dd.cross_corpus_neardup_indexed(docs, spark, sig_path, family="md5")
    portable_path = str(tmp_path / "sigs_md5")
    dd.write_signature_table(docs, portable_path, family="md5")
    with pt.raises(ValueError, match="hash family"):
        dd.cross_corpus_neardup_indexed(docs, spark, portable_path)
    dd.cross_corpus_neardup_indexed(docs, spark, portable_path, family="md5")  # ok

    # legacy table (no sidecar): warn, don't raise
    shutil.rmtree(str(tmp_path / "sigs" / "_params"))
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        dd.cross_corpus_neardup_indexed(docs, spark, sig_path)
    assert any("_params sidecar" in str(c.message) for c in caught)


def test_portable_indexed_crawl_dedup_finds_planted_dups(spark, tmp_path):
    """cross_corpus_neardup_indexed(family="md5"): planted near-dups of stored
    docs are found by the portable indexed path (and nothing below the
    exact-Jaccard threshold is reported) — the recall anchor behind the
    hash-checked registry entry."""
    base = " ".join(f"w{j}" for j in range(60))
    existing = spark.createDataFrame(
        [(100, base), (101, " ".join(f"q{j}" for j in range(40)))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base + " fresh"), (2, " ".join(f"z{j}" for j in range(40)))],
        "doc_id long, text string",
    )
    sig_path = str(tmp_path / "sigs_md5")
    dd.write_signature_table(existing, sig_path, family="md5")
    rows = dd.cross_corpus_neardup_indexed(
        new, spark, sig_path, threshold=0.5, family="md5"
    ).collect()
    assert {(r.doc_id, r.match_id) for r in rows} == {(1, 100)}
    assert all(r.jaccard >= 0.5 for r in rows)


def test_keyword_scores_surfaces_distinctive_terms(spark):
    """tf x (N/df) keyword extraction: a term unique to one doc outranks
    corpus-wide common terms; ranks are dense per doc with a total order."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx

    common = "the market report covers quarterly results"
    docs = spark.createDataFrame(
        [
            (1, common + " gigafactory gigafactory expansion"),
            (2, common + " battery chemistry"),
            (3, common),
        ],
        "doc_id long, text string",
    )
    out = tx.keyword_scores(docs, top_k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.rank, r.tok, r.score))
    # doc 1: 'gigafactory' is tf=2, df=1 -> score 2*3/1=6, the clear top term
    top1 = sorted(by_doc[1])[0]
    assert top1[1] == "gigafactory" and abs(top1[2] - 6.0) < 1e-9
    # doc 2: unique terms (tf=1, df=1 -> 3.0) beat common terms (df=3 -> 1.0)
    assert {t for _, t, _ in sorted(by_doc[2])[:2]} == {"battery", "chemistry"}
    # ranks dense starting at 1
    for d in by_doc.values():
        assert [r for r, _, _ in sorted(d)] == list(range(1, len(d) + 1))


def test_lsh_oversized_buckets_reports_what_the_cap_drops(spark):
    """ADVICE r3: the bucket cap must not lose recall SILENTLY. The
    observability helper reports every band bucket above the cap (the planted
    400-identical-doc block) and nothing for a healthy corpus."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd

    boiler = "the quarterly report shows strong growth across all segments again"
    rows = [(i, boiler) for i in range(400)]
    base = " ".join(f"delivery{j}" for j in range(40))
    rows += [(1000, base), (1001, base + " extra")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    over = dd.lsh_oversized_buckets(docs, max_bucket_size=100).collect()
    # identical docs share identical signatures: every band's bucket holds
    # the full 400-doc block
    assert len(over) >= 1
    assert all(r.bucket_size >= 400 for r in over)

    healthy = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(30))) for i in range(50)],
        "doc_id long, text string",
    )
    assert dd.lsh_oversized_buckets(healthy, max_bucket_size=100).count() == 0


def test_kmeans_recovers_planted_clusters(spark):
    """k-means must exactly recover well-separated planted blobs (deterministic
    construction: blob centers are scaled one-hot axes, points are small
    deterministic offsets) and be deterministic across runs. The testdata
    embeddings carry only a weak label signal (within-label cosine ~0.02), so
    blobs are planted here instead."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    K, PER, DIM = 4, 50, 8
    pts = spark.range(K * PER).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % K).cast("int").alias("blob"),
    )
    # center_b = 10 * e_b ; offset dims: +/-0.3 pattern varying by id
    vec = F.array(*[
        (F.when(F.col("blob") == d, 10.0).otherwise(0.0)
         + F.when((F.col("vec_id") + d) % 3 == 0, 0.3).otherwise(-0.15))
        for d in range(DIM)
    ])
    emb = pts.withColumn("embedding", vec.cast("array<float>"))

    out, cents = clustering.kmeans(emb, k=K, max_iters=10)
    rows = out.select("vec_id", "cluster", "blob").collect()
    from collections import Counter, defaultdict

    by_cluster = defaultdict(Counter)
    for r in rows:
        by_cluster[r.cluster][r.blob] += 1
    # perfect recovery: each cluster holds exactly one blob
    assert len(by_cluster) == K
    for c in by_cluster.values():
        assert len(c) == 1 and c.most_common(1)[0][1] == PER

    out2, cents2 = clustering.kmeans(emb, k=K, max_iters=10)
    assert cents == cents2  # deterministic seeding + updates
    a = {(r.vec_id, r.cluster) for r in rows}
    b = {(r.vec_id, r.cluster) for r in out2.select("vec_id", "cluster").collect()}
    assert a == b

    # adjusted Rand index vs the planted labels (VERDICT r3 item 5); perfect
    # recovery gives ARI exactly 1.0, the >= 0.9 bound leaves room for a
    # boundary point without weakening the recovery claim
    assert _adjusted_rand(
        [(r.blob, r.cluster) for r in rows]
    ) >= 0.9


def _adjusted_rand(label_pairs: list[tuple[int, int]]) -> float:
    """Adjusted Rand index between two labelings given as (a_label, b_label)
    pairs. Standard contingency-table formula."""
    from collections import Counter
    from math import comb

    n = len(label_pairs)
    cells = Counter(label_pairs)
    a_sizes = Counter(a for a, _ in label_pairs)
    b_sizes = Counter(b for _, b in label_pairs)
    idx = sum(comb(c, 2) for c in cells.values())
    sum_a = sum(comb(c, 2) for c in a_sizes.values())
    sum_b = sum(comb(c, 2) for c in b_sizes.values())
    expected = sum_a * sum_b / comb(n, 2)
    max_idx = (sum_a + sum_b) / 2
    return (idx - expected) / (max_idx - expected)


def test_assign_clusters_join_matches_literal_and_ivf(spark, sf_dir):
    """The huge-k escape hatch (r6, assign_clusters_join): broadcast-join
    assignment must match the literal-centroid path bit-for-bit (same L2
    fold, same tie rule) and, under metric='cosine', match
    ivf_index_append's argmax assignment — so a deployment past the
    documented ~10^8-float literal bound swaps strategies without changing
    results. Also pins the plan: the centroid side is BROADCAST (no
    cartesian shuffle of the corpus)."""
    emb = src.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    _, cents = clustering.kmeans(emb, k=5, max_iters=3, round_decimals=6)
    want = {
        r.vec_id: r.cluster
        for r in clustering.assign_clusters(emb, "embedding", cents).collect()
    }
    cdf = clustering.centroids_to_df(spark, cents)
    joined = clustering.assign_clusters_join(emb, "embedding", cdf, "vec_id")
    got = {r.vec_id: r.cluster for r in joined.collect()}
    assert got == want
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan

    # cosine metric == ivf_index_append's frozen-quantizer assignment
    cell_rows = sim._cell_centroids(emb, "embedding", "label").orderBy("label").collect()
    cents_cos = [[float(v) for v in r.centroid] for r in cell_rows]
    assert len(cents_cos) >= 2  # the cosine check really chooses among cells
    by_join = clustering.assign_clusters_join(
        emb, "embedding", clustering.centroids_to_df(spark, cents_cos),
        "vec_id", metric="cosine",
    )
    # reference: ivf_index_append's argmax over round-9 cosine
    vec = F.col("embedding").cast("array<double>")
    pairs = F.transform(
        F.lit(cents_cos),
        lambda c, j: F.struct(F.round(sim.cosine(vec, c), 9).alias("s"), j.alias("j")),
    )
    ref = {
        r.vec_id: r.j
        for r in emb.select(
            "vec_id", F.array_max(pairs).getField("j").alias("j")
        ).collect()
    }
    assert {r.vec_id: r.cluster for r in by_join.collect()} == ref


def test_kmeans_df_matches_literal_kmeans(spark, sf_dir):
    """kmeans_df (DataFrame-resident centroids, r6) must reproduce the
    literal kmeans EXACTLY under round_decimals: same seeds, same
    per-iteration centroids (HALF_EVEN rounding both sides), same
    assignments, same early stop — so a deployment past the driver-literal
    bound swaps training strategies without changing a single label."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    emb = src.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lit_assigned, lit_cents = clustering.kmeans(
        emb, k=5, max_iters=4, round_decimals=6
    )
    df_assigned, cents_df = clustering.kmeans_df(
        emb, k=5, max_iters=4, round_decimals=6
    )
    got_cents = {
        r.cluster: [round(float(v), 6) for v in r.centroid]
        for r in cents_df.collect()
    }
    want_cents = {
        i: [round(float(v), 6) for v in c] for i, c in enumerate(lit_cents)
    }
    assert got_cents == want_cents
    want = {r.vec_id: r.cluster for r in lit_assigned.collect()}
    got = {r.vec_id: r.cluster for r in df_assigned.collect()}
    assert got == want


def test_kmeans_high_dim_chunked_update(spark):
    """dim=1024: the update step must stay a SINGLE dim-independent
    aggregation plan (Summarizer vector-sum), not a 1024-aggregate expression
    blowup (VERDICT r3 item 4; tightened r4 from chunked jobs to one job).
    One Lloyd iteration over planted 3-blob data must complete and produce
    full-width centroids with a total assignment. (Blob RECOVERY is pinned by
    test_kmeans_recovers_planted_clusters — one iteration from arbitrary
    md5-bucket seeds cannot guarantee recovery at any dim; this test pins the
    wide-plan construction + update-step execution.)"""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    K, PER, DIM = 3, 12, 1024
    pts = spark.range(K * PER).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % K).cast("int").alias("blob"),
    )
    # blob b lives on axis block [b*8, b*8+8); small deterministic jitter
    vec = F.array(*[
        (F.when((F.col("blob") * 8 <= d) & (F.lit(d) < (F.col("blob") + 1) * 8), 10.0)
         .otherwise(0.0)
         + F.when((F.col("vec_id") + d) % 2 == 0, 0.2).otherwise(-0.2))
        for d in range(DIM)
    ])
    emb = pts.withColumn("embedding", vec.cast("array<float>"))

    out, cents = clustering.kmeans(emb, k=K, max_iters=1)
    assert len(cents) == K and all(len(c) == DIM for c in cents)
    rows = out.select("vec_id", "cluster").collect()
    assert len(rows) == K * PER
    assert all(r.cluster is not None and 0 <= r.cluster < K for r in rows)


def test_kmeans_and_pq_train_empty_input_raise(spark):
    """ADVICE r3: an empty input (or a train_fraction that samples zero rows)
    must raise a clear ValueError, not an opaque TypeError off first()."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty input"):
        clustering.kmeans(empty, k=2, max_iters=1)
    with pytest.raises(ValueError, match="empty input"):
        clustering.pq_train(empty, m=2, k=2)


def test_pq_roundtrip_ranks_same_blob_nearest(spark):
    """Product quantization: train per-subspace codebooks on planted blobs,
    encode, and verify (a) compression contract (m codes per vector, code <
    k), (b) asymmetric-distance search puts the query's own blob in the
    top-k ahead of other blobs, (c) determinism."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    K, PER, DIM = 4, 40, 16
    pts = spark.range(K * PER).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % K).cast("int").alias("blob"),
    )
    vec = F.array(*[
        (F.when(F.col("blob") == d % K, 8.0).otherwise(0.0)
         + F.when((F.col("vec_id") + d) % 3 == 0, 0.25).otherwise(-0.1))
        for d in range(DIM)
    ])
    emb = pts.withColumn("embedding", vec.cast("array<float>")).persist()

    books = clustering.pq_train(emb, m=4, k=8, max_iters=4)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    enc = clustering.pq_encode(emb, books).persist()
    codes = enc.select("pq_code").collect()
    assert all(len(r.pq_code) == 4 and max(r.pq_code) < 8 for r in codes)

    # query = an actual blob-0 vector; top-(PER-1) must all be blob 0
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding", "blob").first()
    query = [float(x) for x in qrow.embedding]
    top = clustering.pq_topk(enc, books, query, k=PER - 1)
    hits = top.join(emb.select("vec_id", "blob"), "vec_id").collect()
    assert all(r.blob == 0 for r in hits), Counter(r.blob for r in hits)

    top2 = clustering.pq_topk(enc, books, query, k=PER - 1)
    assert [tuple(r) for r in top.collect()] == [tuple(r) for r in top2.collect()]


def test_pq_indexed_search_matches_inline(spark, tmp_path):
    """The materialized-index path (pq_build_index -> pq_topk_indexed) must
    return exactly what the inline train+encode+search path returns on the
    same data, and the codebooks must round-trip through parquet."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    K, PER, DIM = 4, 40, 16
    pts = spark.range(K * PER).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % K).cast("int").alias("blob"),
    )
    vec = F.array(*[
        (F.when(F.col("blob") == d % K, 8.0).otherwise(0.0)
         + F.when((F.col("vec_id") + d) % 3 == 0, 0.25).otherwise(-0.1))
        for d in range(DIM)
    ])
    emb = pts.withColumn("embedding", vec.cast("array<float>")).persist()
    path = str(tmp_path / "pq_index")

    books = clustering.pq_build_index(emb, path, m=4, k=8, max_iters=4)
    assert clustering.pq_load_codebooks(spark, path) == books

    qrow = emb.filter(F.col("vec_id") == 0).first()
    query = [float(x) for x in qrow.embedding]
    inline = clustering.pq_topk(
        clustering.pq_encode(emb, books), books, query, k=10
    ).collect()
    # with codebooks passed (the registry path) and re-loaded from the index
    indexed = clustering.pq_topk_indexed(spark, path, query, k=10, codebooks=books)
    reloaded = clustering.pq_topk_indexed(spark, path, query, k=10)
    assert [tuple(r) for r in indexed.collect()] == [tuple(r) for r in inline]
    assert [tuple(r) for r in reloaded.collect()] == [tuple(r) for r in inline]
    emb.unpersist()


from collections import Counter  # noqa: E402  (used in pq test assertion msg)


def test_hll_sketch_rollup_merge(spark, sf_dir):
    """HLL rollup accuracy anchor behind x6_sketch_rollup: per-day RAW
    estimates stay within HLL error of exact (tighter than the registry
    entry's 0.1 gate bound), and the total estimate from MERGING the
    per-day sketches equals the estimate of one direct whole-table sketch
    (merge associativity — the property incremental rollups rely on). The
    registry entry itself now emits exact values + in-bound booleans (the
    invariant-bound oracle, r5 item 4) — assert they are all true here."""
    import __spark_entry__ as entrymod
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as eio

    ev = eio.load_events(spark, sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    ).localCheckpoint(eager=True)
    for r in daily.select(
        F.hll_sketch_estimate("sk").alias("est"), "exact_users"
    ).collect():
        assert abs(r["est"] - r["exact_users"]) <= max(2, 0.05 * r["exact_users"]), r
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).first()["e"]
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("e")
    ).first()["e"]
    assert merged == direct
    exact_total = ev.select("user_id").distinct().count()
    assert abs(merged - exact_total) <= max(2, 0.05 * exact_total)

    rows = entrymod.queries()["x6_sketch_rollup"](spark, sf_dir).collect()
    assert len([r for r in rows if r["scope"] == "total"]) == 1
    assert all(r["est_in_bound"] for r in rows), rows


def test_ivf_index_append_incremental_maintenance(spark, sf_dir, tmp_path):
    """ivf_index_append: appends only the new batch to the cell-partitioned
    vectors table (no rebuild), assigns each new vector to its argmax-cosine
    centroid cell, and the index stays searchable with exact scores."""
    import math

    emb = src.load_table(spark, sf_dir, "embeddings")
    old = emb.filter((F.col("vec_id") % 5 != 0) | (F.col("vec_id") == 0))
    new = emb.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") != 0))
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(old, path)
    n = sim.ivf_index_append(spark, path, new.select("vec_id", "embedding"))
    assert n == new.count() > 0

    vecs = spark.read.parquet(path + "/vectors")
    assert vecs.count() == emb.count()
    assert vecs.select("vec_id").distinct().count() == emb.count()  # no dups
    cents = {
        r["label"]: list(r["centroid"])
        for r in spark.read.parquet(path + "/centroids").collect()
    }
    assert {r["label"] for r in vecs.select("label").distinct().collect()} <= set(cents)

    # spot-check the assignment rule on one appended row: its cell must be
    # the argmax-cosine centroid
    probe_id = new.select(F.min("vec_id")).first()[0]
    row = vecs.filter(F.col("vec_id") == probe_id).first()
    v = [float(x) for x in row["embedding"]]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    best = max(sorted(cents), key=lambda c: round(cos(v, cents[c]), 9))
    assert row["label"] == best

    # the appended index serves exact-scored searches (ANN invariant used
    # throughout: returned scores equal brute-force scores)
    brute = {r.vec_id: r.cos_sim for r in sim.topk_neighbors_of(emb, 0, k=500).collect()}
    got = sim.ivf_topk_indexed(spark, path, query_id=0, k=10, n_probe=2).collect()
    assert len(got) == 10
    for r in got:
        assert abs(brute[r.vec_id] - r.cos_sim) < 1e-9


def test_compact_ivf_index_drops_files_and_preserves_results(spark, sf_dir, tmp_path):
    """VERDICT r4 item 4: repeated ivf_index_append accrues small files per
    cell; compact_ivf_index must (a) cut over-threshold cells to the target
    file count, (b) leave under-threshold cells' files byte-for-byte
    untouched, and (c) keep indexed search results bit-identical."""
    import glob
    import os

    emb = src.load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(base, path)

    # five append batches -> several files per touched cell
    for lo in range(300, 400, 20):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20))
        sim.ivf_index_append(spark, path, batch.select("vec_id", "embedding"))

    before_counts = sim.ivf_cell_file_counts(path)
    assert max(before_counts.values()) > 2  # appends really fragmented cells
    before_rows = sorted(
        tuple(r) for r in spark.read.parquet(path + "/vectors").collect()
    )
    before_topk = [
        tuple(r)
        for r in sim.ivf_topk_indexed(spark, path, query_id=0, k=10, n_probe=2).collect()
    ]
    untouched = {c for c, n in before_counts.items() if n <= 2}
    untouched_files = {
        c: sorted(
            (os.path.basename(p), os.path.getmtime(p))
            for p in glob.glob(os.path.join(path, "vectors", c, "*.parquet"))
        )
        for c in untouched
    }

    rewritten = sim.compact_ivf_index(spark, path, max_files_per_cell=2)
    assert rewritten  # something was over threshold
    after_counts = sim.ivf_cell_file_counts(path)
    assert all(n == 1 for c, n in after_counts.items() if c in rewritten)
    assert all(after_counts[c] == before_counts[c] for c in untouched)
    for c in untouched:  # byte-for-byte: same files, same mtimes
        now = sorted(
            (os.path.basename(p), os.path.getmtime(p))
            for p in glob.glob(os.path.join(path, "vectors", c, "*.parquet"))
        )
        assert now == untouched_files[c], c

    after_rows = sorted(
        tuple(r) for r in spark.read.parquet(path + "/vectors").collect()
    )
    assert after_rows == before_rows  # content identical, layout compacted
    after_topk = [
        tuple(r)
        for r in sim.ivf_topk_indexed(spark, path, query_id=0, k=10, n_probe=2).collect()
    ]
    assert after_topk == before_topk


def test_star_cc_matches_propagation_and_contracts_paths(spark):
    """connected_components_star: equals min-label propagation on a mixed
    graph, labels singletons, and fully resolves a 64-node PATH — the
    diameter-bound shape where propagation capped at far fewer-than-diameter
    rounds still has unresolved labels but alternating stars converge."""
    # mixed graph: one triangle, one 4-chain, two singletons
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 13)],
        "src long, dst long",
    )
    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 12, 13, 20, 21]], "id long")
    star = {r.id: r.comp for r in dd.connected_components_star(edges, verts).collect()}
    prop = {r.id: r.comp for r in dd.connected_components(edges, verts).collect()}
    assert star == prop
    assert star[20] == 20 and star[21] == 21  # singletons self-labeled

    # 64-node path 0-1-...-63: diameter 63
    path_edges = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    path_verts = spark.createDataFrame([(i,) for i in range(64)], "id long")
    out = {r.id: r.comp for r in dd.connected_components_star(
        path_edges, path_verts, max_rounds=8).collect()}
    assert all(c == 0 for c in out.values()), "star CC must resolve the path in <= 8 rounds"
    # propagation with the same tiny round budget cannot resolve the far end
    capped = {r.id: r.comp for r in dd.connected_components(
        path_edges, path_verts, max_iters=8).collect()}
    assert capped[63] != 0


def test_star_cc_exhausted_rounds_warns_and_keeps_unique_ids(spark):
    """ADVICE r4: when the round budget runs out before the edge-set
    fixpoint, the intermediate edge set need not be a star forest — the
    closing join must still emit exactly ONE row per vertex (stale labels
    are acceptable, duplicated vertices are not), and the exhaustion must be
    surfaced as a warning."""
    import warnings as w

    path_edges = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    path_verts = spark.createDataFrame([(i,) for i in range(64)], "id long")
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        out = dd.connected_components_star(path_edges, path_verts, max_rounds=1).collect()
    assert any("round budget" in str(c.message) for c in caught)
    ids = [r.id for r in out]
    assert len(ids) == 64 and len(set(ids)) == 64  # one row per vertex, no dups


def test_star_cc_random_graphs_match_propagation(spark):
    """connected_components_star must agree with min-label propagation on
    deterministic pseudo-random graphs of varied density (LCG edges — no RNG
    dependency), including isolated vertices."""
    state = 12345
    def nxt(mod):
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        return (state >> 33) % mod

    for n, m in [(30, 10), (30, 40), (50, 25)]:
        edges = [(nxt(n), nxt(n)) for _ in range(m)]
        edf = spark.createDataFrame(edges, "src long, dst long")
        vdf = spark.createDataFrame([(i,) for i in range(n)], "id long")
        star = {r.id: r.comp for r in dd.connected_components_star(edf, vdf).collect()}
        prop = {r.id: r.comp for r in dd.connected_components(edf, vdf, max_iters=50).collect()}
        assert star == prop, f"n={n} m={m}"


def test_semantic_dedup_drops_planted_embedding_dups(spark):
    """SemDeDup: planted near-identical embedding pairs lose their higher
    id; distinct vectors and singletons survive; the survivor set is stable
    across runs (deterministic clustering + rounded-cosine compare)."""
    import math

    def unit(seed, dim=8):
        # deterministic pseudo-random unit vector (LCG)
        s, out = seed, []
        for _ in range(dim):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            out.append(((s >> 33) / float(1 << 31)) - 1.0)
        n = math.sqrt(sum(x * x for x in out))
        return [x / n for x in out]

    rows = []
    for i in range(20):
        v = unit(i + 1)
        rows.append((i, v))
        if i % 4 == 0:  # plant a near-dup twin with a tiny perturbation
            twin = [x + 1e-4 for x in v]
            rows.append((100 + i, twin))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out1 = sorted(
        r.vec_id
        for r in dd.semantic_dedup(df, k=4, threshold=0.99, max_iters=3).collect()
    )
    out2 = sorted(
        r.vec_id
        for r in dd.semantic_dedup(df, k=4, threshold=0.99, max_iters=3).collect()
    )
    assert out1 == out2  # deterministic
    assert set(range(20)) <= set(out1)  # every original survives (lower id)
    assert all(t not in out1 for t in (100, 104, 108, 112, 116)), out1  # twins dropped


def test_pq_index_append_matches_full_encode(spark, sf_dir, tmp_path):
    """pq_index_append: appended vectors get the SAME codes the full-corpus
    encode would give them (frozen codebooks), and the indexed search over
    build+append equals the search over a one-shot full build with the same
    codebooks."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    emb = src.load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    tail = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "pq")
    books = clustering.pq_build_index(
        base, path, m=4, k=16, max_iters=2, train_fraction=0.5, round_decimals=6
    )
    n = clustering.pq_index_append(spark, path, tail.select("vec_id", "embedding"))
    assert n == tail.count() > 0

    codes = spark.read.parquet(path + "/codes")
    assert codes.count() == emb.count()
    assert codes.select("vec_id").distinct().count() == emb.count()

    # appended codes == full-corpus encode under the same (stored) codebooks
    full = {
        r.vec_id: list(r.pq_code)
        for r in clustering.pq_encode(emb, books).select("vec_id", "pq_code").collect()
    }
    got = {r.vec_id: list(r.pq_code) for r in codes.collect()}
    assert got == full

    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    indexed = clustering.pq_topk_indexed(spark, path, query, k=10).collect()
    inline = clustering.pq_topk(
        clustering.pq_encode(emb, books), books, query, k=10
    ).collect()
    assert [tuple(r) for r in indexed] == [tuple(r) for r in inline]


def test_compact_ivf_index_under_nonatomic_rename_fs(spark, sf_dir, tmp_path):
    """compact_ivf_index's swap protocol must hold under S3 semantics (the
    NonAtomicRenameFS copy+delete moves): same file-count reduction, same
    bit-identical rows."""
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    emb = src.load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb.filter(F.col("vec_id") < 300), path)
    for lo in range(300, 400, 20):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20))
        sim.ivf_index_append(spark, path, batch.select("vec_id", "embedding"))

    before_rows = sorted(tuple(r) for r in spark.read.parquet(path + "/vectors").collect())
    rewritten = sim.compact_ivf_index(
        spark, path, max_files_per_cell=2, fs=mfs.NonAtomicRenameFS()
    )
    assert rewritten
    after_counts = sim.ivf_cell_file_counts(path)
    assert all(after_counts[c] == 1 for c in rewritten)
    assert sorted(tuple(r) for r in spark.read.parquet(path + "/vectors").collect()) == before_rows


def test_semantic_dedup_zero_vector_is_never_a_duplicate(spark):
    """NaN guard (code review r5): a zero-norm embedding's cosine is NaN,
    which Spark orders above every number — without the guard a low-id
    zero vector would 'match' its whole cluster and silently drop
    unrelated rows. Zero vectors must neither drop others nor be dropped."""
    rows = [(0, [0.0] * 8)]  # lowest id, degenerate
    for i in range(1, 9):
        rows.append((i, [float(i == j) for j in range(8)]))  # orthogonal units
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        r.vec_id for r in dd.semantic_dedup(df, k=2, threshold=0.5, max_iters=2).collect()
    )
    assert out == list(range(9))  # nothing dropped: no true near-dups here


def test_recover_ivf_index_heals_crashed_swap_states(spark, sf_dir, tmp_path):
    """The compaction swap commits through an atomic .swap marker whose
    file list decides recovery (live-dir existence proves nothing under
    copy+delete renames — code review r5). Three crash states:
    (a) marker + COMPLETE staging (crash after the commit point, live
        possibly partial/gone) -> redo: staging moves in, rows intact;
    (b) marker + PARTIAL staging (crash while the finished swap deleted
        staging, live whole) -> staging remnant dropped, live untouched;
    (c) pre-commit .compact_* with no marker -> debris, dropped."""
    import json
    import os
    import shutil

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    emb = src.load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path)
    vectors = path + "/vectors"
    before = sorted(tuple(r) for r in spark.read.parquet(vectors).collect())
    cell = sorted(c for c in os.listdir(vectors) if c.startswith("label="))[0]
    cell_dir = os.path.join(vectors, cell)
    fs = mfs.LOCAL_FS

    # (a) commit point passed: staging holds the full (here: identical)
    # cell content; live dir is GONE (crash between rmtree and rename)
    staging = os.path.join(vectors, ".compact_deadA")
    shutil.copytree(cell_dir, staging)
    files = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    fs.put_atomic(
        os.path.join(vectors, ".swap_deadA.json"),
        json.dumps({"cell": cell, "staging": ".compact_deadA", "files": files}).encode(),
    )
    shutil.rmtree(cell_dir)
    # (c) an unreferenced pre-commit staging dir
    fs.makedirs(os.path.join(vectors, ".compact_orphan"))

    out = sim.recover_ivf_index(path)
    assert out["restored"] == [cell_dir]
    assert os.path.join(vectors, ".compact_orphan") in out["removed"]
    assert not fs.exists(os.path.join(vectors, ".swap_deadA.json"))
    after = sorted(tuple(r) for r in spark.read.parquet(vectors).collect())
    assert after == before  # nothing lost

    # (b) marker + partial staging (one listed file missing): live is
    # authoritative and must NOT be touched
    staging_b = os.path.join(vectors, ".compact_deadB")
    shutil.copytree(cell_dir, staging_b)
    fs.put_atomic(
        os.path.join(vectors, ".swap_deadB.json"),
        json.dumps(
            {"cell": cell, "staging": ".compact_deadB",
             "files": files + ["part-MISSING.parquet"]}
        ).encode(),
    )
    out2 = sim.recover_ivf_index(path)
    assert out2["restored"] == []
    assert staging_b in out2["removed"]
    assert sorted(tuple(r) for r in spark.read.parquet(vectors).collect()) == before

    # idempotent: a second recovery is a no-op
    out3 = sim.recover_ivf_index(path)
    assert out3 == {"restored": [], "removed": []}


def test_semantic_dedup_cluster_cap_excludes_degenerate_mass(spark):
    """max_cluster_size (degenerate-cluster guard, mirroring the LSH
    bucket cap): a mass of identical embeddings above the cap is excluded
    from pairing — ALL its rows survive — while normal-size near-dup pairs
    still dedup; the observability twin reports exactly the capped
    cluster."""
    base = [1.0, 0.0, 0.0, 0.0]
    mass = [(i, base) for i in range(40)]  # 40 identical -> one fat cluster
    pair = [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 1e-4])]
    far = [(200, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(mass + pair + far, "vec_id long, embedding array<double>")

    uncapped = {r.vec_id for r in dd.semantic_dedup(df, k=3, threshold=0.99, max_iters=3).collect()}
    assert uncapped >= {0, 100, 200} and 101 not in uncapped
    assert uncapped & set(range(1, 40)) == set()  # mass deduped to one row

    capped = {
        r.vec_id
        for r in dd.semantic_dedup(
            df, k=3, threshold=0.99, max_iters=3, max_cluster_size=10
        ).collect()
    }
    assert set(range(40)) <= capped  # fat cluster excluded -> all survive
    assert 101 not in capped and 100 in capped  # normal pair still dedups

    over = dd.semantic_oversized_clusters(
        df, k=3, max_cluster_size=10, max_iters=3
    ).collect()
    assert len(over) == 1 and over[0].cluster_size == 40


def test_leakage_safe_split_keeps_dup_groups_together(spark):
    """Group-aware splits (sampling.leakage_safe_split): with 100 planted
    near-dup pairs, a doc-id-keyed split puts SOME pair on both sides of
    train/eval (the contamination this operator exists to prevent), while
    keying on the near-dup cluster id puts every pair on one side."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import sampling

    rows = []
    for i in range(100):
        base = " ".join(f"w{i}_{j}" for j in range(30))
        rows.append((i, base))
        rows.append((1000 + i, base + " tail"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # the failure mode: doc-keyed split straddles at least one pair
    doc_split = {
        r.doc_id: r.split
        for r in sampling.split_assign(docs, "doc_id", 20, 20).collect()
    }
    assert any(doc_split[i] != doc_split[1000 + i] for i in range(100))

    # the guard: cluster-keyed split never straddles a pair
    clusters = dd.near_dup_clusters(docs, threshold=0.5)
    with_grp = docs.join(clusters, "doc_id")
    grp_split = {
        r.doc_id: r.split
        for r in sampling.leakage_safe_split(
            with_grp, F.col("cluster_id"), 20, 20
        ).collect()
    }
    assert all(grp_split[i] == grp_split[1000 + i] for i in range(100))
    # and all three splits are actually populated at these rates
    assert {"train", "val", "test"} <= set(grp_split.values())


@pytest.mark.parametrize("kind", ["ivf", "ivfpq"])
def test_compact_crash_at_every_op_recovers_losslessly(spark, sf_dir, tmp_path, kind):
    """Exhaustive crash sweep for the compaction swap under S3 semantics:
    inject a crash after EVERY mutating filesystem op (marker puts, each
    copied file, each delete) across the whole multi-cell compaction, run
    recovery with a fresh filesystem (simulating restart), and require the
    index rows bit-identical to the pristine index at every crash point —
    the compaction twin of the merge's crash sweep.

    The IVF-PQ case compacts with ``purge_tombstones=True`` after one id
    was tombstoned: at every crash point the healed index must answer
    exactly like the pristine (tombstoned) index, and a clean re-run must
    leave no tombstoned row on disk and every other row intact."""
    import shutil

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    pristine = str(tmp_path / "pristine")
    if kind == "ivf":
        sim.build_ivf_index(emb.filter(F.col("vec_id") < 100), pristine)
        append, recover = sim.ivf_index_append, sim.recover_ivf_index
        compact = functools.partial(sim.compact_ivf_index, max_files_per_cell=1)
    else:
        books = clustering.build_ivfpq_index(
            emb.filter(F.col("vec_id") < 100), pristine,
            m=4, k=8, max_iters=2, round_decimals=6,
        )
        append, recover = clustering.ivfpq_index_append, clustering.recover_ivfpq_index
        # a threshold no cell reaches: the purge alone picks the cells
        compact = functools.partial(
            clustering.compact_ivfpq_index,
            max_files_per_cell=10_000, purge_tombstones=True,
        )
    for lo in (100, 120):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20))
        append(spark, pristine, batch.select("vec_id", "embedding"))
    if kind == "ivfpq":
        query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

        def search(p):
            return [tuple(r) for r in clustering.ivfpq_topk_indexed(
                spark, p, query, k=10, n_probe=2, refine=4, codebooks=books
            ).collect()]

        doomed = next(r[0] for r in search(pristine) if r[0] != 0)
        clustering.ivfpq_index_delete(
            spark, pristine, spark.createDataFrame([(doomed,)], "vec_id long")
        )
        want = search(pristine)
        assert doomed not in {r[0] for r in want}
    before = sorted(
        tuple(r) for r in spark.read.parquet(pristine + "/vectors").collect()
    )

    # how many mutating fs ops does a full compaction take?
    probe = str(tmp_path / "probe")
    shutil.copytree(pristine, probe)
    probe_fs = mfs.NonAtomicRenameFS()
    assert compact(spark, probe, fs=probe_fs)
    total_ops = probe_fs.ops
    assert total_ops >= 6  # several cells x (put + copies + deletes)

    for crash_at in range(total_ops):
        path = str(tmp_path / f"run{crash_at}")
        shutil.copytree(pristine, path)
        fs = mfs.NonAtomicRenameFS(fail_after_ops=crash_at)
        try:
            compact(spark, path, fs=fs)
        except mfs.NonAtomicRenameFS.InjectedCrash:
            mfs.break_writer_lease(mfs.LOCAL_FS, path)
        recover(path)  # restart with a healthy filesystem
        if kind == "ivf":
            after = sorted(
                tuple(r) for r in spark.read.parquet(path + "/vectors").collect()
            )
            assert after == before, f"rows diverged after crash at op {crash_at}"
        else:
            assert search(path) == want, f"search diverged at crash op {crash_at}"
            compact(spark, path)  # a clean re-run completes the purge
            assert clustering.ivfpq_tombstoned_rows(spark, path) == 0
            after = sorted(
                tuple(r) for r in spark.read.parquet(path + "/vectors").collect()
            )
            assert after == [r for r in before if r[0] != doomed], crash_at
        shutil.rmtree(path)


def test_recover_ivf_index_heals_legacy_retired_dirs(spark, sf_dir, tmp_path):
    """Indexes crashed under the short-lived pre-marker rename-aside scheme
    left data in .retired_<tag>__<cell>; recovery must still restore a
    missing cell from them (and drop superseded copies) instead of leaving
    the index silently incomplete."""
    import os
    import shutil

    emb = src.load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path)
    vectors = path + "/vectors"
    before = sorted(tuple(r) for r in spark.read.parquet(vectors).collect())
    cell = sorted(c for c in os.listdir(vectors) if c.startswith("label="))[0]
    cell_dir = os.path.join(vectors, cell)

    shutil.move(cell_dir, os.path.join(vectors, f".retired_old__{cell}"))
    out = sim.recover_ivf_index(path)
    assert out["restored"] == [cell_dir]
    assert sorted(tuple(r) for r in spark.read.parquet(vectors).collect()) == before

    # superseded legacy copy (live cell present) is debris
    shutil.copytree(cell_dir, os.path.join(vectors, f".retired_dup__{cell}"))
    out2 = sim.recover_ivf_index(path)
    assert os.path.join(vectors, f".retired_dup__{cell}") in out2["removed"]
    assert sorted(tuple(r) for r in spark.read.parquet(vectors).collect()) == before


def test_minhash_lsh_portable_finds_planted_near_dups(near_dup_docs):
    """The engine-portable (md5-family) LSH variant must behave like the
    xxhash64 one on planted near-dups: full recall at 0.5 on the planted
    pairs, and exact-Jaccard verification keeps every reported pair above
    threshold."""
    pairs = dd.minhash_lsh_pairs(near_dup_docs, threshold=0.5, family="md5")
    rows = pairs.collect()
    found = {(r.doc_a, r.doc_b) for r in rows}
    assert {(2 * i, 2 * i + 1) for i in range(5)} <= found
    assert all(r.jaccard >= 0.5 for r in rows)


def test_simhash_portable_on_planted_dups(near_dup_docs):
    """Portable 60-bit SimHash: planted near-dup pairs are found within the
    banded hamming search, like the xxhash64 variant."""
    pairs = dd.simhash_pairs(near_dup_docs, max_hamming=16, family="md5")
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(5)}
    assert len(planted & found) >= 4  # banding guarantees <= bands-1 exactly
    sigs = {
        r.doc_id: r.sig
        for r in near_dup_docs.select(
            "doc_id", dd.simhash(F.col("text"), family="md5").alias("sig")
        ).collect()
    }
    assert all(0 <= s < (1 << 60) for s in sigs.values())  # 60-bit, positive
    for i in range(5):
        hamming = bin(sigs[2 * i] ^ sigs[2 * i + 1]).count("1")
        assert hamming <= 20, f"pair {i} hamming {hamming}"


def test_near_dedup_canonical_portable_drops_higher_id_partner(near_dup_docs):
    """Portable canonical dedup: same policy outcome as the xxhash64
    variant on planted pairs — lower id survives, higher id dropped,
    unrelated docs kept."""
    survivors = {
        r.doc_id
        for r in dd.near_dedup_canonical(
            near_dup_docs, threshold=0.5, family="md5"
        ).collect()
    }
    for i in range(5):
        assert 2 * i in survivors and 2 * i + 1 not in survivors
    assert {i + 10 for i in range(10, 20)} <= survivors


def test_compact_ivfpq_index_compacts_both_tables_and_preserves_search(
    spark, sf_dir, tmp_path
):
    """Continuous ivfpq_index_append fragments vectors/ AND codes/;
    compact_ivfpq_index must cut over-threshold cells in BOTH tables to the
    target file count, leave content row-identical, keep search results
    bit-identical, and report the fragmentation in ivfpq_index_stats
    before/after."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    emb = src.load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    path = str(tmp_path / "ivfpq")
    clustering.build_ivfpq_index(
        base, path, m=4, k=8, max_iters=2, round_decimals=6
    )
    for lo in range(300, 400, 20):
        batch = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 20))
        clustering.ivfpq_index_append(
            spark, path, batch.select("vec_id", "embedding")
        )

    stats = clustering.ivfpq_index_stats(path)
    assert stats["vectors"]["max_files_per_cell"] > 2
    assert stats["codes"]["max_files_per_cell"] > 2
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    before = {
        t: sorted(tuple(r) for r in spark.read.parquet(path + "/" + t).collect())
        for t in ("vectors", "codes")
    }
    before_topk = [
        tuple(r)
        for r in clustering.ivfpq_topk_indexed(
            spark, path, query, k=10, n_probe=2, refine=4
        ).collect()
    ]

    rewritten = clustering.compact_ivfpq_index(spark, path, max_files_per_cell=2)
    assert rewritten["vectors"] and rewritten["codes"]
    after_stats = clustering.ivfpq_index_stats(path)
    for t in ("vectors", "codes"):
        counts = sim.cell_file_counts(path + "/" + t)
        assert all(counts[c] == 1 for c in rewritten[t])
        assert sorted(
            tuple(r) for r in spark.read.parquet(path + "/" + t).collect()
        ) == before[t], t
        assert after_stats[t]["swap_markers"] == 0
        assert after_stats[t]["compact_staging_dirs"] == 0
    after_topk = [
        tuple(r)
        for r in clustering.ivfpq_topk_indexed(
            spark, path, query, k=10, n_probe=2, refine=4
        ).collect()
    ]
    assert after_topk == before_topk


def test_append_signature_table_closes_the_crawl_loop(spark, tmp_path):
    """After increment A is deduped and APPENDED, an increment B that
    near-dups ONLY A (not the base corpus) must be caught by the stored
    table — and the appended table must row-equal a from-scratch rebuild
    over base+A (deterministic signatures). Both hash families; parameters
    come from the _params sidecar; a paramless table refuses; a held
    sibling lease refuses."""
    import pytest
    from pyspark.errors import AnalysisException

    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    base_text = " ".join(f"tok{j}" for j in range(40))
    other = " ".join(f"w{j}" for j in range(40))
    a_text = " ".join(f"z{j}" for j in range(40))
    existing = spark.createDataFrame(
        [(100, base_text), (102, other)], "doc_id long, text string"
    )
    inc_a = spark.createDataFrame([(1, a_text)], "doc_id long, text string")
    inc_b = spark.createDataFrame(
        [(2, a_text + " fresh")], "doc_id long, text string"
    )

    def canon(df):
        return sorted(
            (r.doc_id, tuple(r.sh), tuple(r.sig)) for r in df.collect()
        )

    for fam in ("xxhash64", "md5"):
        writer = functools.partial(dd.write_signature_table, family=fam)
        query = functools.partial(dd.cross_corpus_neardup_indexed, family=fam)
        sig_path = str(tmp_path / f"sigs_{fam}")
        writer(existing, sig_path)
        # A is genuinely new vs the base...
        assert query(inc_a, spark, sig_path, threshold=0.5).count() == 0
        assert dd.append_signature_table(inc_a, sig_path) == 1
        # ...and B, which near-dups only A, is caught by the stored table
        pairs = query(inc_b, spark, sig_path, threshold=0.5).collect()
        assert {(p.doc_id, p.match_id) for p in pairs} == {(2, 1)}

        # appended table == from-scratch rebuild over base+A
        rebuilt = str(tmp_path / f"rebuilt_{fam}")
        writer(existing.unionByName(inc_a), rebuilt)
        assert canon(spark.read.parquet(sig_path)) == canon(
            spark.read.parquet(rebuilt)
        )

    # a held sibling lease refuses the append
    sig_path = str(tmp_path / "sigs_xxhash64")
    mfs.acquire_writer_lease(mfs.LOCAL_FS, sig_path + ".lock", owner="other")
    with pytest.raises(mfs.ConcurrentWriterError):
        dd.append_signature_table(inc_b, sig_path)
    mfs.release_writer_lease(mfs.LOCAL_FS, sig_path + ".lock", "other")

    # a paramless table refuses — an append cannot guess its family
    import shutil

    shutil.rmtree(sig_path + "/_params")
    with pytest.raises(AnalysisException):
        dd.append_signature_table(inc_b, sig_path)


def test_portable_signature_shingle_n_guard_is_not_an_assert(spark, tmp_path):
    """ADVICE r7: the md5 family's trigram-only constraint must survive
    python -O — the writer, the pair operator and the appender raise
    ValueError (never a strippable assert) on a non-trigram shingle_n, and
    every family-taking operator raises ValueError on an unknown family."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "one two three four five")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="trigram"):
        dd.write_signature_table(
            docs, str(tmp_path / "sigs"), shingle_n=4, family="md5"
        )
    with pytest.raises(ValueError, match="trigram"):
        dd.minhash_lsh_pairs(docs, shingle_n=4, family="md5")
    with pytest.raises(ValueError, match="unknown hash family"):
        dd.minhash_lsh_pairs(docs, family="md5_60")
    with pytest.raises(ValueError, match="unknown hash family"):
        dd.write_signature_table(docs, str(tmp_path / "sigs"), family="sha1")

    # an append against a table whose _params record an impossible
    # (md5, shingle_n=4) combination refuses instead of silently
    # computing trigram signatures at the wrong claimed granularity
    sig_path = str(tmp_path / "sigs_bad")
    dd.write_signature_table(docs, sig_path, family="md5")
    dd._write_sig_params(spark, sig_path, num_hashes=32, shingle_n=4, family="md5")
    with pytest.raises(ValueError, match="trigram"):
        dd.append_signature_table(
            spark.createDataFrame([(2, "six seven eight nine")], "doc_id long, text string"),
            sig_path,
        )


def test_ivfpq_tombstone_takedown(spark, sf_dir, tmp_path):
    """r8 index takedown: tombstoned ids vanish from single-query AND
    batch search; with frozen quantizers the takedown index answers
    EXACTLY like an index that never contained those vectors; the
    corpus-side composition (delete_from_merge_table ->
    read_commit_changes -> ivfpq_index_delete) propagates table deletes;
    a crash mid-tombstone-append heals; re-deleting is idempotent."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    emb = src.load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 160
    ).select("vec_id", "embedding", "label")
    base = emb.filter(F.col("vec_id") < 100)
    extra = emb.filter(F.col("vec_id") >= 100)
    doomed = extra.filter(F.col("vec_id") % 2 == 0)  # delete half the extra
    survivors = extra.filter(F.col("vec_id") % 2 == 1)

    pristine = str(tmp_path / "pristine")
    clustering.build_ivfpq_index(base, pristine, m=4, k=8, max_iters=2,
                                 round_decimals=6)

    # takedown index: append ALL extras, then tombstone the doomed half
    takedown = str(tmp_path / "takedown")
    shutil.copytree(pristine, takedown)
    clustering.ivfpq_index_append(
        spark, takedown, extra.select("vec_id", "embedding"))
    n = clustering.ivfpq_index_delete(
        spark, takedown, doomed.select("vec_id"))
    assert n == doomed.count()
    # survivor index: SAME quantizers, never saw the doomed ids
    clean = str(tmp_path / "clean")
    shutil.copytree(pristine, clean)
    clustering.ivfpq_index_append(
        spark, clean, survivors.select("vec_id", "embedding"))

    queries = [
        [float(x) for x in emb.filter(F.col("vec_id") == q).first()["embedding"]]
        for q in (0, 101, 102)  # incl. a tombstoned id's own vector
    ]
    doomed_ids = {r.vec_id for r in doomed.collect()}
    for qv in queries:
        got = [tuple(r) for r in clustering.ivfpq_topk_indexed(
            spark, takedown, qv, k=10, n_probe=2, refine=4).collect()]
        want = [tuple(r) for r in clustering.ivfpq_topk_indexed(
            spark, clean, qv, k=10, n_probe=2, refine=4).collect()]
        assert got == want
        assert not {r[0] for r in got} & doomed_ids

    # batch path respects tombstones identically
    qdf = emb.filter(F.col("vec_id").isin(0, 101, 102)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    got_b = sorted(tuple(r) for r in clustering.ivfpq_topk_batch(
        spark, takedown, qdf, k=10, n_probe=2, refine=4).collect())
    want_b = sorted(tuple(r) for r in clustering.ivfpq_topk_batch(
        spark, clean, qdf, k=10, n_probe=2, refine=4).collect())
    assert got_b == want_b

    # idempotent re-delete; stats expose the tombstone table
    clustering.ivfpq_index_delete(spark, takedown, doomed.select("vec_id"))
    got2 = [tuple(r) for r in clustering.ivfpq_topk_indexed(
        spark, takedown, queries[0], k=10, n_probe=2, refine=4).collect()]
    want2 = [tuple(r) for r in clustering.ivfpq_topk_indexed(
        spark, clean, queries[0], k=10, n_probe=2, refine=4).collect()]
    assert got2 == want2
    assert clustering.ivfpq_index_stats(takedown)["tombstone_files"] >= 2

    # corpus-side composition: table delete -> commit-log deletes -> index
    target = str(tmp_path / "corpus")
    strm.merge_table(emb, target, keys=["vec_id"], order_cols=["vec_id"])
    strm.snapshot_merge_table(target, "pre")
    strm.delete_from_merge_table(
        spark, target, keys=doomed.select("vec_id"))
    cdc_gone = strm.read_commit_changes(spark, target, since="pre").filter(
        F.col("_change_type") == "delete").select("vec_id")
    composed = str(tmp_path / "composed")
    shutil.copytree(pristine, composed)
    clustering.ivfpq_index_append(
        spark, composed, extra.select("vec_id", "embedding"))
    clustering.ivfpq_index_delete(spark, composed, cdc_gone)
    got3 = [tuple(r) for r in clustering.ivfpq_topk_indexed(
        spark, composed, queries[1], k=10, n_probe=2, refine=4).collect()]
    want3 = [tuple(r) for r in clustering.ivfpq_topk_indexed(
        spark, clean, queries[1], k=10, n_probe=2, refine=4).collect()]
    assert got3 == want3

    # crash mid-tombstone-append: pre-marker -> rolled back (search still
    # sees the id), retry converges; healing is recover_ivfpq_index
    crashed = str(tmp_path / "crashed")
    shutil.copytree(pristine, crashed)
    clustering.ivfpq_index_append(
        spark, crashed, extra.select("vec_id", "embedding"))
    fs = mfs.NonAtomicRenameFS(fail_after_ops=1)
    with pytest.raises(mfs.NonAtomicRenameFS.InjectedCrash):
        clustering.ivfpq_index_delete(
            spark, crashed, doomed.select("vec_id"), fs=fs)
    mfs.break_writer_lease(mfs.LOCAL_FS, crashed)
    clustering.recover_ivfpq_index(crashed)
    clustering.ivfpq_index_delete(spark, crashed, doomed.select("vec_id"))
    got4 = [tuple(r) for r in clustering.ivfpq_topk_indexed(
        spark, crashed, queries[0], k=10, n_probe=2, refine=4).collect()]
    assert got4 == want2


def test_plain_ivf_tombstone_takedown(spark, sf_dir, tmp_path):
    """r8: the plain IVF index shares the takedown primitive — tombstoned
    ids never surface from ivf_topk_indexed, results equal a same-build
    index that appended only the survivors, stats expose the tombstone
    table, and recovery heals a crashed tombstone append."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 160)
    base = emb.filter(F.col("vec_id") < 100)
    extra = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    doomed = extra.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    survivors = extra.filter(F.col("vec_id") % 2 == 1)

    pristine = str(tmp_path / "pristine")
    sim.build_ivf_index(base, pristine)
    takedown = str(tmp_path / "takedown")
    shutil.copytree(pristine, takedown)
    sim.ivf_index_append(spark, takedown, extra)
    assert sim.ivf_index_delete(spark, takedown, doomed) == doomed.count()
    clean = str(tmp_path / "clean")
    shutil.copytree(pristine, clean)
    sim.ivf_index_append(spark, clean, survivors)

    for q in (0, 102):
        got = [tuple(r) for r in sim.ivf_topk_indexed(
            spark, takedown, q, k=10, n_probe=2).collect()]
        want = [tuple(r) for r in sim.ivf_topk_indexed(
            spark, clean, q, k=10, n_probe=2).collect()]
        assert got == want, q
        assert not any(r[0] % 2 == 0 and r[0] >= 100 for r in got)
    assert sim.ivf_index_stats(takedown)["tombstone_files"] >= 1

    # crash before the tombstone marker -> rolled back; heal + retry
    crashed = str(tmp_path / "crashed")
    shutil.copytree(pristine, crashed)
    sim.ivf_index_append(spark, crashed, extra)
    fs = mfs.NonAtomicRenameFS(fail_after_ops=1)
    with pytest.raises(mfs.NonAtomicRenameFS.InjectedCrash):
        sim.ivf_index_delete(spark, crashed, doomed, fs=fs)
    mfs.break_writer_lease(mfs.LOCAL_FS, crashed)
    sim.recover_ivf_index(crashed)
    sim.ivf_index_delete(spark, crashed, doomed)
    got = [tuple(r) for r in sim.ivf_topk_indexed(
        spark, crashed, 0, k=10, n_probe=2).collect()]
    want = [tuple(r) for r in sim.ivf_topk_indexed(
        spark, clean, 0, k=10, n_probe=2).collect()]
    assert got == want


def test_ivfpq_purge_tombstones(spark, sf_dir, tmp_path):
    """r9 (VERDICT r8 item 2): opt-in PHYSICAL purge — compaction with
    purge_tombstones=True rewrites exactly the cells holding tombstoned
    rows in BOTH tables (dropping those rows), then clears the satisfied
    tombstones; post-purge there are ZERO tombstoned rows on disk and
    load_tombstones is None (search plans back to the never-deleted
    shape); search results are pinned identical before/after purge AND
    equal to a survivor-only index; a crash mid-purge heals through
    recover_ivfpq_index and a re-run converges; purging with no
    tombstones is a no-op."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    emb = src.load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 160
    ).select("vec_id", "embedding", "label")
    base = emb.filter(F.col("vec_id") < 100)
    extra = emb.filter(F.col("vec_id") >= 100)
    doomed = extra.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    survivors = extra.filter(F.col("vec_id") % 2 == 1)

    pristine = str(tmp_path / "pristine")
    books = clustering.build_ivfpq_index(
        base, pristine, m=4, k=8, max_iters=2, round_decimals=6)

    purged = str(tmp_path / "purged")
    shutil.copytree(pristine, purged)
    clustering.ivfpq_index_append(spark, purged, extra.select("vec_id", "embedding"))
    clustering.ivfpq_index_delete(spark, purged, doomed)
    clean = str(tmp_path / "clean")
    shutil.copytree(pristine, clean)
    clustering.ivfpq_index_append(spark, clean, survivors.select("vec_id", "embedding"))

    queries = [
        [float(x) for x in emb.filter(F.col("vec_id") == q).first()["embedding"]]
        for q in (0, 101, 102)
    ]

    def search(path, qv):
        return [tuple(r) for r in clustering.ivfpq_topk_indexed(
            spark, path, qv, k=10, n_probe=2, refine=4, codebooks=books).collect()]

    before = [search(purged, qv) for qv in queries]
    assert clustering.ivfpq_tombstoned_rows(spark, purged) > 0

    # threshold high so ONLY the purge forces rewrites (O(touched cells))
    out = clustering.compact_ivfpq_index(
        spark, purged, max_files_per_cell=10_000, purge_tombstones=True)
    assert out["purged_rows"] > 0 and out["tombstones_cleared"]
    assert clustering.ivfpq_tombstoned_rows(spark, purged) == 0
    assert clustering.ivfpq_index_stats(purged)["tombstone_files"] == 0
    assert clustering.load_tombstones(spark, purged) is None
    doomed_ids = {r.vec_id for r in doomed.collect()}
    for tbl in ("vectors", "codes"):
        on_disk = {r.vec_id for r in spark.read.parquet(
            purged + "/" + tbl).select("vec_id").collect()}
        assert not on_disk & doomed_ids, tbl

    for i, qv in enumerate(queries):
        got = search(purged, qv)
        assert got == before[i]
        assert got == search(clean, qv)

    # purge on an index with no tombstones: clean no-op
    out2 = clustering.compact_ivfpq_index(
        spark, purged, max_files_per_cell=10_000, purge_tombstones=True)
    assert out2["purged_rows"] == 0
    assert search(purged, queries[0]) == before[0]

    # crash mid-purge: heal with recover_ivfpq_index, re-run converges
    crashed = str(tmp_path / "crashed")
    shutil.copytree(pristine, crashed)
    clustering.ivfpq_index_append(spark, crashed, extra.select("vec_id", "embedding"))
    clustering.ivfpq_index_delete(spark, crashed, doomed)
    probe_fs = mfs.NonAtomicRenameFS()
    probe = str(tmp_path / "probe")
    shutil.copytree(crashed, probe)
    clustering.compact_ivfpq_index(
        spark, probe, max_files_per_cell=10_000, purge_tombstones=True,
        fs=probe_fs)
    # inject a crash somewhere inside the swap/clear sequence
    for crash_at in (2, probe_fs.ops // 2, probe_fs.ops - 1):
        run = str(tmp_path / f"crash{crash_at}")
        shutil.copytree(crashed, run)
        fs = mfs.NonAtomicRenameFS(fail_after_ops=crash_at)
        try:
            clustering.compact_ivfpq_index(
                spark, run, max_files_per_cell=10_000, purge_tombstones=True,
                fs=fs)
        except mfs.NonAtomicRenameFS.InjectedCrash:
            mfs.break_writer_lease(mfs.LOCAL_FS, run)
        clustering.recover_ivfpq_index(run)
        # whatever state the crash left, search NEVER surfaces doomed ids
        got_mid = search(run, queries[1])
        assert not {r[0] for r in got_mid} & doomed_ids
        # re-run completes the purge
        clustering.compact_ivfpq_index(
            spark, run, max_files_per_cell=10_000, purge_tombstones=True)
        assert clustering.ivfpq_tombstoned_rows(spark, run) == 0
        assert search(run, queries[1]) == before[1]
        shutil.rmtree(run)


def test_ivf_purge_tombstones(spark, sf_dir, tmp_path):
    """r9: the plain IVF index shares the purge path — post-purge zero
    tombstoned rows on disk, tombstones cleared, search pinned equal to a
    survivor-only index."""
    import shutil

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import similarity as sim
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    emb = src.load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 160)
    base = emb.filter(F.col("vec_id") < 100)
    extra = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    doomed = extra.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    survivors = extra.filter(F.col("vec_id") % 2 == 1)

    pristine = str(tmp_path / "pristine")
    sim.build_ivf_index(base, pristine)
    purged = str(tmp_path / "purged")
    shutil.copytree(pristine, purged)
    sim.ivf_index_append(spark, purged, extra)
    sim.ivf_index_delete(spark, purged, doomed)
    clean = str(tmp_path / "clean")
    shutil.copytree(pristine, clean)
    sim.ivf_index_append(spark, clean, survivors)

    before = [tuple(r) for r in sim.ivf_topk_indexed(
        spark, purged, 0, k=10, n_probe=2).collect()]
    assert sim.ivf_tombstoned_rows(spark, purged) > 0
    out = sim.compact_ivf_index(
        spark, purged, max_files_per_cell=10_000, purge_tombstones=True)
    assert out["purged_rows"] > 0 and out["tombstones_cleared"]
    assert sim.ivf_tombstoned_rows(spark, purged) == 0
    assert sim.ivf_index_stats(purged)["tombstone_files"] == 0
    assert sim.load_tombstones(spark, purged) is None
    got = [tuple(r) for r in sim.ivf_topk_indexed(
        spark, purged, 0, k=10, n_probe=2).collect()]
    want = [tuple(r) for r in sim.ivf_topk_indexed(
        spark, clean, 0, k=10, n_probe=2).collect()]
    assert got == before == want


def test_signature_table_takedown(spark, sf_dir, tmp_path):
    """r9 (VERDICT r8 item 1): corpus deletes propagate to the stored LSH
    signature table — tombstoned docs never again match a crawl increment,
    the takedown table answers EXACTLY like a table rebuilt from the
    survivors, re-deleting is idempotent, the corpus-side composition
    (delete_from_merge_table -> read_commit_changes -> takedown) wires
    end-to-end, and a crash mid-tombstone-append heals through
    recover_signature_table."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    docs = src.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stored = docs.filter(F.col("doc_id") < 100)
    doomed = stored.filter(F.col("doc_id") % 7 == 2).select("doc_id")
    survivors = stored.filter(F.col("doc_id") % 7 != 2)
    # re-crawl of the first 50 docs: every one is a near-dup of its stored
    # twin, so tombstoning doc_id%7==2 must REMOVE exactly those matches
    increment = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )

    takedown = str(tmp_path / "takedown")
    dd.write_signature_table(stored, takedown)
    n = dd.delete_signature_entries(spark, takedown, doomed)
    assert n == doomed.count() > 0
    clean = str(tmp_path / "clean")
    dd.write_signature_table(survivors, clean)

    def crawl(path):
        return sorted(tuple(r) for r in dd.cross_corpus_neardup_indexed(
            increment, spark, path, threshold=0.5).collect())

    got, want = crawl(takedown), crawl(clean)
    assert got == want and len(got) > 0
    assert not {m for _, m, _ in got} & {r.doc_id for r in doomed.collect()}

    # idempotent re-delete; ids absent from the table are harmless
    dd.delete_signature_entries(spark, takedown, doomed)
    dd.delete_signature_entries(
        spark, takedown, spark.range(990000, 990003).select(
            F.col("id").alias("doc_id")))
    assert crawl(takedown) == want

    # the md5 family shares the read path
    takedown_p = str(tmp_path / "takedown_p")
    dd.write_signature_table(stored, takedown_p, family="md5")
    dd.delete_signature_entries(spark, takedown_p, doomed)
    clean_p = str(tmp_path / "clean_p")
    dd.write_signature_table(survivors, clean_p, family="md5")
    got_p = sorted(tuple(r) for r in dd.cross_corpus_neardup_indexed(
        increment, spark, takedown_p, threshold=0.5, family="md5").collect())
    want_p = sorted(tuple(r) for r in dd.cross_corpus_neardup_indexed(
        increment, spark, clean_p, threshold=0.5, family="md5").collect())
    assert got_p == want_p and len(got_p) > 0

    # corpus-side composition: merge-table DELETE -> commit-log delete
    # records -> signature takedown
    corpus = str(tmp_path / "corpus")
    strm.merge_table(stored, corpus, keys=["doc_id"], order_cols=["doc_id"])
    strm.snapshot_merge_table(corpus, "pre")
    strm.delete_from_merge_table(spark, corpus, keys=doomed)
    cdc_gone = strm.read_commit_changes(spark, corpus, since="pre").filter(
        F.col("_change_type") == "delete").select("doc_id")
    composed = str(tmp_path / "composed")
    dd.write_signature_table(stored, composed)
    dd.delete_signature_entries(spark, composed, cdc_gone)
    assert crawl(composed) == want

    # crash before the tombstone marker -> rolled back (doomed still
    # match); heal with recover_signature_table, retry converges
    crashed = str(tmp_path / "crashed")
    shutil.copytree(str(tmp_path / "composed"), crashed)
    shutil.rmtree(crashed + "/_tombstones")
    assert crawl(crashed) != want  # tombstones gone -> doomed match again
    fs = mfs.NonAtomicRenameFS(fail_after_ops=1)
    with pytest.raises(mfs.NonAtomicRenameFS.InjectedCrash):
        dd.delete_signature_entries(spark, crashed, doomed, fs=fs)
    mfs.break_writer_lease(mfs.LOCAL_FS, crashed + ".lock")
    dd.recover_signature_table(crashed)
    dd.delete_signature_entries(spark, crashed, doomed)
    assert crawl(crashed) == want


def test_signature_table_compact_and_purge(spark, sf_dir, tmp_path):
    """r9: compact_signature_table coalesces an append-fragmented table
    (crawl answers unchanged, file count down) and purge_tombstones=True
    makes takedown PHYSICAL — post-purge the tombstoned docs' rows are
    off disk, _tombstones/ is cleared, the crawl answer equals a
    survivor-rebuilt table, and a re-run is a no-op. No text is re-read:
    the rewrite consumes the stored (doc_id, sh, sig) rows."""
    import os

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 60)
    doomed = base.filter(F.col("doc_id") % 7 == 2).select("doc_id")
    survivors = base.filter(F.col("doc_id") % 7 != 2)
    increment = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )

    path = str(tmp_path / "sig")
    dd.write_signature_table(base.filter(F.col("doc_id") < 20), path)
    # fragment it: three appends, several files each
    for lo, hi in ((20, 35), (35, 50), (50, 60)):
        dd.append_signature_table(
            base.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), path
        )

    def crawl(p):
        return sorted(tuple(r) for r in dd.cross_corpus_neardup_indexed(
            increment, spark, p, threshold=0.5).collect())

    def files(p):
        return [f for f in os.listdir(p)
                if f.endswith(".parquet") and not f.startswith((".", "_"))]

    want_full = crawl(path)
    n_frag = len(files(path))
    out = dd.compact_signature_table(spark, path, coalesce_files=2)
    assert out["files_before"] == n_frag and out["files_after"] == 2
    assert out["purged_rows"] == 0
    assert crawl(path) == want_full

    # appends after a compact still work (tag-prefixed files coexist)
    dd.append_signature_table(
        docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 65)), path
    )
    assert len(files(path)) > 2

    # purge: tombstone, then physically erase
    dd.delete_signature_entries(spark, path, doomed)
    want_takedown = crawl(path)
    out2 = dd.compact_signature_table(
        spark, path, coalesce_files=2, purge_tombstones=True
    )
    assert out2["purged_rows"] > 0 and out2["tombstones_cleared"]
    assert not os.path.isdir(path + "/_tombstones")
    assert dd.load_signature_tombstones(spark, path) is None
    on_disk = {r.doc_id for r in spark.read.parquet(path).select("doc_id").collect()}
    assert not on_disk & {r.doc_id for r in doomed.collect()}
    assert crawl(path) == want_takedown
    # equals a survivor-rebuilt table extended the same way
    clean = str(tmp_path / "clean")
    dd.write_signature_table(
        survivors.unionByName(
            docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 65))
        ),
        clean,
    )
    assert crawl(path) == crawl(clean)

    # re-run: no-op
    out3 = dd.compact_signature_table(
        spark, path, coalesce_files=2, purge_tombstones=True
    )
    assert out3["purged_rows"] == 0 and not out3["tombstones_cleared"]
    assert crawl(path) == want_takedown


def test_takedown_orchestrator_end_to_end(spark, sf_dir, tmp_path):
    """r9: operators.takedown.takedown routes ONE erasure request through
    the corpus merge table (keys or predicate mode), the commit log's
    delete records, and every downstream store — IVF-PQ index, plain IVF
    index, LSH signature table — so searches and crawl dedups behave as
    if the content never existed. Propagation is driven by what the
    delete ACTUALLY removed (predicate matches discovered during the
    delete; ids absent from the corpus propagate nothing)."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import (
        clustering,
        dedup as dd,
        similarity as sim,
        takedown as td,
    )
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    # --- embeddings corpus + both ANN index kinds -------------------------
    emb = src.load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 160
    ).select("vec_id", "embedding", "label")
    doomed = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") % 2 == 0))
    corpus = str(tmp_path / "emb_gold")
    strm.merge_table(emb, corpus, keys=["vec_id"], order_cols=["vec_id"])

    ivfpq = str(tmp_path / "ivfpq")
    books = clustering.build_ivfpq_index(
        emb, ivfpq, m=4, k=8, max_iters=2, round_decimals=6)
    ivf = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, ivf)

    out = td.takedown(
        spark, corpus, keys=doomed.select("vec_id"), id_col="vec_id",
        ivfpq_indexes=(ivfpq,), ivf_indexes=(ivf,),
    )
    n_doomed = doomed.count()
    assert out["corpus_deleted"] == n_doomed
    assert out["stores"] == {ivfpq: n_doomed, ivf: n_doomed}
    # corpus no longer holds them; indexes never surface them
    left = {r.vec_id for r in strm.read_merged(spark, corpus).collect()}
    doomed_ids = {r.vec_id for r in doomed.collect()}
    assert not left & doomed_ids
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 102).first()["embedding"]]
    got = {r.vec_id for r in clustering.ivfpq_topk_indexed(
        spark, ivfpq, qv, k=10, n_probe=2, refine=4, codebooks=books).collect()}
    assert not got & doomed_ids
    got2 = {r[0] for r in sim.ivf_topk_indexed(spark, ivf, 1, k=10, n_probe=2).collect()}
    assert not got2 & doomed_ids

    # ids absent from the corpus: nothing deleted, nothing propagated
    out2 = td.takedown(
        spark, corpus,
        keys=spark.createDataFrame([(990001,)], "vec_id long"),
        id_col="vec_id", ivfpq_indexes=(ivfpq,), ivf_indexes=(ivf,),
    )
    assert out2 == {"corpus_deleted": 0, "stores": {ivfpq: 0, ivf: 0}}

    # --- documents corpus + signature table, PREDICATE mode ---------------
    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("doc_id") < 100)
    dcorpus = str(tmp_path / "doc_gold")
    strm.merge_table(docs, dcorpus, keys=["doc_id"], order_cols=["doc_id"])
    sig = str(tmp_path / "sig")
    dd.write_signature_table(docs, sig)

    out3 = td.takedown(
        spark, dcorpus, predicate="doc_id % 7 = 2", id_col="doc_id",
        signature_tables=(sig,),
    )
    assert out3["corpus_deleted"] > 0
    assert out3["stores"][sig] == out3["corpus_deleted"]
    increment = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    clean = str(tmp_path / "sig_clean")
    dd.write_signature_table(docs.filter(F.col("doc_id") % 7 != 2), clean)
    got_c = sorted(tuple(r) for r in dd.cross_corpus_neardup_indexed(
        increment, spark, sig, threshold=0.5).collect())
    want_c = sorted(tuple(r) for r in dd.cross_corpus_neardup_indexed(
        increment, spark, clean, threshold=0.5).collect())
    assert got_c == want_c and len(got_c) > 0


def test_takedown_verify_zero_residual_everywhere(spark, sf_dir, tmp_path):
    """r11 (VERDICT r10 item 1): ONE audit across corpus + every derived
    store. Plant ids everywhere (corpus with a named snapshot pin, IVF +
    IVF-PQ indexes, LSH signature table), then drive the full erasure
    pipeline and pin takedown_verify's report at every stage: non-zero in
    every location at plant; store rows STILL retained after takedown
    (tombstoned-but-unpurged is content on disk); store-clean after both
    purges while the corpus history still holds content; and [] — zero
    residual EVERYWHERE — only after erase_everywhere."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import (
        clustering,
        dedup as dd,
        similarity as sim,
        takedown as td,
    )
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import erasure
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("doc_id") < 100)
    emb = src.load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100
    ).select(F.col("vec_id").alias("doc_id"), "embedding", "label")

    corpus = str(tmp_path / "gold")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])
    strm.snapshot_merge_table(corpus, "repro")  # a reproducibility pin
    ivf, ivfpq, sig = (str(tmp_path / n) for n in ("ivf", "ivfpq", "sig"))
    sim.build_ivf_index(emb, ivf)
    clustering.build_ivfpq_index(emb, ivfpq, id_col="doc_id", m=4, k=8,
                                 max_iters=2, round_decimals=6)
    dd.write_signature_table(docs, sig)

    doomed = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id")
    stores = dict(ivf_indexes=(ivf,), ivfpq_indexes=(ivfpq,),
                  signature_tables=(sig,))

    def audit():
        return td.takedown_verify(
            spark, corpus, doomed, id_col="doc_id", **stores)

    def kinds(hits):
        return {h["kind"] for h in hits}

    store_kinds = {"index_vectors", "index_codes", "signature_rows"}

    # plant: the ids exist in EVERY location
    a0 = audit()
    assert {"live", "snapshot", "changes"} | store_kinds <= kinds(a0)
    assert all(h["n_rows"] > 0 for h in a0)

    # takedown: live state gone, stores tombstoned — but their ROWS are
    # still on disk (retained content until purge), history still holds
    out = td.takedown(spark, corpus, keys=doomed, id_col="doc_id", **stores)
    assert out["corpus_deleted"] == doomed.count()
    a1 = audit()
    assert "live" not in kinds(a1)
    assert {"snapshot", "changes"} | store_kinds <= kinds(a1)

    # both purges: derived stores physically clean; corpus history remains
    sim.compact_ivf_index(spark, ivf, purge_tombstones=True, id_col="doc_id")
    clustering.compact_ivfpq_index(spark, ivfpq, purge_tombstones=True,
                                   id_col="doc_id")
    dd.compact_signature_table(spark, sig, purge_tombstones=True)
    a2 = audit()
    assert not (kinds(a2) & store_kinds)
    assert {"snapshot", "changes"} <= kinds(a2)

    # erase_everywhere(rewrite): snapshot versions rewritten, superseded
    # versions vacuumed, deltas scrubbed -> ZERO residual anywhere
    erasure.erase_everywhere(spark, corpus, doomed, mode="rewrite")
    assert audit() == []
    # the pinned snapshot stays readable (minus the erased rows) and the
    # survivors are untouched
    pinned = strm.read_merged(spark, corpus, snapshot="repro")
    left = {r.doc_id for r in pinned.collect()}
    assert left == {r.doc_id for r in docs.collect()} - {
        r.doc_id for r in doomed.collect()}


def test_takedown_verify_extra_tables_and_wrong_table(spark, sf_dir, tmp_path):
    """takedown_verify extra_tables: any parquet derivation keyed by the id
    audits the same way (hit -> reported, purged -> clean); a table without
    the id column fails loudly instead of silently reporting clean."""
    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("doc_id") < 50)
    corpus = str(tmp_path / "gold")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])
    derived = str(tmp_path / "derived")
    docs.select("doc_id", F.length("text").alias("n")).write.parquet(derived)

    doomed = spark.createDataFrame([(3,), (13,)], "doc_id long")
    hits = td.takedown_verify(spark, corpus, doomed, id_col="doc_id",
                              extra_tables=(derived,))
    assert [h for h in hits if h["kind"] == "table_rows"
            and h["store"] == derived and h["n_rows"] == 2]

    nokey = str(tmp_path / "nokey")
    docs.select(F.length("text").alias("n")).write.parquet(nokey)
    with pytest.raises(ValueError, match="doc_id"):
        td.takedown_verify(spark, corpus, doomed, id_col="doc_id",
                           extra_tables=(nokey,))


def test_takedown_pin_sweep(spark, tmp_path):
    """r9: a process crash between takedown's ephemeral snapshot pin and
    its drop strands a 'takedown-*' tag that pins the PRE-DELETE versions
    (erased rows included) against vacuum. sweep_takedown_pins drops
    exactly those tags — named snapshots survive — after which vacuum
    reclaims the superseded versions."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")
    df = spark.createDataFrame(
        [(k, k * 10, "x") for k in range(8)], "k long, v long, s string"
    )
    strm.merge_table(df, target, keys=["k"], order_cols=["v"], n_buckets=4)
    strm.snapshot_merge_table(target, "keepme")
    # simulate the crash residue: the ephemeral pin exists, delete ran
    strm.snapshot_merge_table(target, "takedown-deadbeef")
    strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(1,), (2,)], "k long")
    )
    # the stranded pin protects the pre-delete versions from vacuum
    removed_before = strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    stats = strm.merge_table_stats(target)
    assert stats["snapshot_only_versions"] > 0

    dropped = td.sweep_takedown_pins(target)
    assert dropped == ["takedown-deadbeef"]
    assert strm.list_snapshots(target) == ["keepme"]
    # now vacuum reclaims what only the stranded pin was holding...
    strm.vacuum_merge_table(target, staged_grace_sec=0.0)
    # ...except what 'keepme' still legitimately pins
    stats2 = strm.merge_table_stats(target)
    assert stats2["snapshot_only_versions"] <= stats["snapshot_only_versions"]
    # idempotent
    assert td.sweep_takedown_pins(target) == []
    assert {r.k for r in strm.read_merged(spark, target).collect()} == {
        0, 3, 4, 5, 6, 7
    }


def test_takedown_crash_recovery_never_loses_propagation(spark, tmp_path):
    """ADVICE r10 (medium): a crash anywhere inside takedown() must never
    lose the erasure obligation. The request record lands durably BEFORE
    anything mutates, so at every injected crash point either (a) the
    corpus delete never committed — recover_takedowns drops/completes the
    record and a clean retry converges — or (b) it committed — recovery
    re-derives the delete set from the commit log and re-runs the
    idempotent tombstone fan-out. Also pins the sweep guard: while the
    record lives, sweep_takedown_pins spares the pin."""
    import shutil

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(6)]
        + [(9, " ".join(f"shared_{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    doomed = spark.createDataFrame([(9,)], "doc_id long")
    increment = spark.createDataFrame(
        [(1000, " ".join(f"shared_{j}" for j in range(30)) + " tail")],
        "doc_id long, text string",
    )

    root = tmp_path / "pristine"
    corpus_p = str(root / "corpus")
    sig_p = str(root / "sig")
    strm.merge_table(docs, corpus_p, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=2)
    dd.write_signature_table(docs, sig_p)

    def crawl(sig):
        return sorted(tuple(r) for r in dd.cross_corpus_neardup_indexed(
            increment, spark, sig, threshold=0.5).collect())

    assert len(crawl(sig_p)) == 1  # doc 9 matches pre-takedown

    # reference run: count mutating bookkeeping ops + the final state
    probe = tmp_path / "probe"
    shutil.copytree(root, probe)
    probe_fs = mfs.NonAtomicRenameFS()
    out = td.takedown(
        spark, str(probe / "corpus"), keys=doomed,
        signature_tables=(str(probe / "sig"),), fs=probe_fs,
    )
    assert out["corpus_deleted"] == 1
    assert crawl(str(probe / "sig")) == []
    total_ops = probe_fs.ops
    assert total_ops >= 10

    recovered, retried = 0, 0
    for crash_at in range(total_ops):
        run = tmp_path / f"run{crash_at}"
        shutil.copytree(root, run)
        corpus, sig = str(run / "corpus"), str(run / "sig")
        fs = mfs.NonAtomicRenameFS(fail_after_ops=crash_at)
        try:
            td.takedown(spark, corpus, keys=doomed,
                        signature_tables=(sig,), fs=fs)
        except mfs.NonAtomicRenameFS.InjectedCrash:
            mfs.break_writer_lease(mfs.LOCAL_FS, corpus)
            mfs.break_writer_lease(mfs.LOCAL_FS, sig + ".lock")
        # sweep guard: a live record's pin must be spared
        recs = td._list_requests(corpus, mfs.LOCAL_FS)
        pins = [t for t in strm.list_snapshots(corpus)
                if t.startswith("takedown-")]
        if recs and pins:
            assert td.sweep_takedown_pins(corpus) == []
            assert strm.list_snapshots(corpus) == pins
        td.recover_takedowns(spark, corpus)
        # post-recovery: no stranded record; the sweep reclaims any
        # record-less pin (a crash between the record removal and the
        # pin drop in the happy path strands exactly that) and after it
        # no takedown pin survives
        assert td._list_requests(corpus, mfs.LOCAL_FS) == []
        td.sweep_takedown_pins(corpus)
        assert not [t for t in strm.list_snapshots(corpus)
                    if t.startswith("takedown-")]
        live = strm.read_merged(spark, corpus)
        left = {r.doc_id for r in live.collect()}
        if 9 in left:
            # crash before the delete committed: nothing half-done; a
            # clean retry converges
            retried += 1
            out2 = td.takedown(spark, corpus, keys=doomed,
                               signature_tables=(sig,))
            assert out2["corpus_deleted"] == 1
        else:
            recovered += 1
        # THE invariant, at every crash point after healing: the corpus
        # no longer holds doc 9 AND the crawl can never match it again
        assert 9 not in {
            r.doc_id for r in strm.read_merged(spark, corpus).collect()
        }
        assert crawl(sig) == [], f"propagation lost at op {crash_at}"
        shutil.rmtree(run)
    # the sweep exercised both sides of the delete's commit point
    assert recovered > 0 and retried > 0


# ---------------------------------------------------------------------------
# r10: SCD Type 2 (operators/scd2.py)
# ---------------------------------------------------------------------------


def test_scd2_from_log_intervals_and_deletes(spark):
    """scd2_from_log: per-key LEAD closes intervals, deletes close without
    opening (the key has no version in force until re-inserted), exactly
    one is_current row per live key, same-ts duplicates deterministic."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import scd2

    log = spark.createDataFrame(
        [
            (1, 10, "bronze", False),
            (1, 20, "silver", False),
            (1, 30, None, True),      # delete at 30
            (1, 50, "gold", False),   # re-insert at 50
            (2, 15, "basic", False),
            (2, 15, "basic2", False),  # same-ts dup: tiebreak-max wins
        ],
        "k long, ts long, tier string, is_del boolean",
    )
    dim = scd2.scd2_from_log(log, ["k"], "ts", ["tier"], delete_col="is_del")
    rows = {(r.k, r.valid_from): (r.tier, r.valid_to, r.is_current)
            for r in dim.collect()}
    assert rows == {
        (1, 10): ("bronze", 20, False),
        (1, 20): ("silver", 30, False),   # closed BY the delete
        (1, 50): ("gold", None, True),
        (2, 15): ("basic2", None, True),  # dedup kept tiebreak-max
    }

    # point-in-time: before/within/during-the-hole/after
    facts = spark.createDataFrame(
        [(1, 5), (1, 25), (1, 40), (1, 60), (2, 15)], "k long, t long"
    )
    pit = scd2.point_in_time_join(facts, dim, ["k"], "t")
    got = {(r.k, r.t): r.tier for r in pit.collect()}
    assert got == {
        (1, 5): None,        # before first version
        (1, 25): "silver",
        (1, 40): None,       # the delete hole: nothing in force
        (1, 60): "gold",
        (2, 15): "basic2",
    }


def test_scd2_pit_agrees_with_asof_on_delete_free_log(spark, sf_dir):
    """On a delete-free log, point_in_time_join over scd2 intervals must
    agree row-for-row with asof_join over the raw log — two plans, one
    semantics (the SCD2 build is just the materialized form)."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import asof, scd2
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    ev = src.load_events(spark, sf_dir).select("user_id", "ts", "event_type", "value")
    log = ev.filter(F.col("user_id") < 50)
    facts = ev.filter(F.col("user_id") < 50).select(
        "user_id", F.col("ts").alias("t")
    ).distinct()
    dim = scd2.scd2_from_log(log, ["user_id"], "ts", ["event_type", "value"],
                             tiebreak="value")
    pit = scd2.point_in_time_join(
        facts, dim.drop("is_current"), ["user_id"], "t"
    ).select("user_id", "t", "event_type", "value")
    a = asof.asof_join(
        facts, log, on=["user_id"], left_ts="t", right_ts="ts",
        payload_cols=["event_type", "value"], right_tiebreak="value",
    ).select("user_id", "t", "event_type", "value")
    assert sorted(map(tuple, pit.collect())) == sorted(map(tuple, a.collect()))


def test_scd2_from_commit_changes_tracks_merge_table(spark, tmp_path):
    """The table-format composition: commit-log CDC -> SCD2 intervals.
    Current versions == read_merged state; a DELETEd key has no current
    interval; superseded versions carry the pre-update attributes."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import scd2
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    target = str(tmp_path / "gold")

    def rows(kvs):
        return spark.createDataFrame(kvs, "k long, tier string")

    strm.merge_table(rows([(1, "bronze"), (2, "basic")]), target,
                     keys=["k"], order_cols=["tier"], n_buckets=2)
    strm.snapshot_merge_table(target, "t0")
    strm.merge_table(rows([(1, "silver")]), target, keys=["k"],
                     order_cols=["tier"], n_buckets=2)
    strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(2,)], "k long"))
    strm.merge_table(rows([(3, "gold")]), target, keys=["k"],
                     order_cols=["tier"], n_buckets=2)

    dim = scd2.scd2_from_commit_changes(
        spark, target, since="t0", keys=["k"], attrs=["tier"])
    cur = {(r.k, r.tier) for r in dim.filter("is_current").collect()}
    live = {(r.k, r.tier) for r in strm.read_merged(spark, target).collect()}
    assert cur == live == {(1, "silver"), (3, "gold")}
    hist = {(r.k, r.tier, r.is_current) for r in dim.collect()}
    assert (1, "silver", True) in hist and (3, "gold", True) in hist
    # k=2's delete closed its history: no current interval for it
    assert not [r for r in dim.filter("is_current").collect() if r.k == 2]


def test_scd2_same_ts_delete_wins(spark):
    """r11 (ADVICE r10): at the SAME timestamp a delete record wins over a
    change — previously a delete carrying null attrs always lost the
    attr-desc tiebreak and silently resurrected the key."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import scd2

    log = spark.createDataFrame(
        [
            (1, 10, "bronze", False),
            (1, 20, "silver", False),  # change at 20...
            (1, 20, None, True),       # ...and a delete at the SAME ts
            (2, 10, "basic", False),
        ],
        "k long, ts long, tier string, is_del boolean",
    )
    dim = scd2.scd2_from_log(log, ["k"], "ts", ["tier"], delete_col="is_del")
    rows = {(r.k, r.valid_from): (r.tier, r.valid_to, r.is_current)
            for r in dim.collect()}
    # k=1 ends CLOSED at 20: the delete won the same-ts dedup, so there is
    # no silver interval and no current row for k=1
    assert rows == {
        (1, 10): ("bronze", 20, False),
        (2, 10): ("basic", None, True),
    }


def test_point_in_time_join_raises_on_column_clash(spark):
    """r11 (ADVICE r10): fact/dim payload name collisions raise instead of
    emitting duplicate output columns."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import scd2

    log = spark.createDataFrame(
        [(1, 10, "bronze", False)], "k long, ts long, tier string, is_del boolean"
    )
    dim = scd2.scd2_from_log(log, ["k"], "ts", ["tier"], delete_col="is_del")
    facts = spark.createDataFrame([(1, 15, "x")], "k long, t long, tier string")
    with pytest.raises(ValueError, match="tier"):
        scd2.point_in_time_join(facts, dim, ["k"], "t")
    # interval bookkeeping names clash the same way
    facts2 = spark.createDataFrame([(1, 15, 0)], "k long, t long, valid_from long")
    with pytest.raises(ValueError, match="valid_from"):
        scd2.point_in_time_join(facts2, dim, ["k"], "t")


def test_scd2_commit_ts_wall_clock_timeline(spark, tmp_path, monkeypatch):
    """r11 (VERDICT r10 item 2): commit records carry a wall-clock ts;
    scd2_from_commit_changes(timeline='ts') emits real valid_from/valid_to
    instants (seq rides along as tiebreaker/lineage), a backwards clock
    step between writers is monotonized, a point-in-time join at a
    wall-clock instant answers 'what did we know at t', and a range
    containing a pre-timestamp commit fails loudly."""
    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import scd2
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    clock = iter([100.0, 200.0, 300.0, 150.0])  # last commit steps BACK
    monkeypatch.setattr(strm, "_commit_now", lambda: next(clock))
    target = str(tmp_path / "gold")

    def rows(kvs):
        return spark.createDataFrame(kvs, "k long, tier string")

    strm.merge_table(rows([(1, "bronze"), (2, "basic")]), target,
                     keys=["k"], order_cols=["tier"], n_buckets=2)  # @100
    strm.snapshot_merge_table(target, "t0")
    strm.merge_table(rows([(1, "silver")]), target, keys=["k"],
                     order_cols=["tier"], n_buckets=2)              # @200
    strm.delete_from_merge_table(
        spark, target, keys=spark.createDataFrame([(2,)], "k long"))  # @300
    strm.merge_table(rows([(3, "gold")]), target, keys=["k"],
                     order_cols=["tier"], n_buckets=2)  # @150 -> mono 300

    dim = scd2.scd2_from_commit_changes(
        spark, target, since="t0", keys=["k"], attrs=["tier"], timeline="ts")
    got = {(r.k, r.tier): (
        r.valid_from.timestamp(),
        None if r.valid_to is None else r.valid_to.timestamp(),
        r.valid_from_seq, r.is_current,
    ) for r in dim.collect()}
    assert got == {
        (1, "silver"): (200.0, None, 1, True),
        # the backwards step is MONOTONIZED to the previous commit's ts
        (3, "gold"): (300.0, None, 3, True),
    }
    # k=2 was deleted in-range with no in-range insert: no interval at all
    assert not [k for k in got if k[0] == 2]

    # point-in-time at a wall-clock instant: t=250 knows silver, not gold
    facts = spark.createDataFrame([(1, 250), (3, 250), (3, 350)],
                                  "k long, t_s long").select(
        "k", F.timestamp_seconds("t_s").alias("t"))
    pit = scd2.point_in_time_join(
        facts, dim.select("k", "tier", "valid_from", "valid_to"), ["k"], "t")
    assert {(r.k, r.t.timestamp() % 1000, r.tier) for r in pit.collect()} == {
        (1, 250.0, "silver"), (3, 250.0, None), (3, 350.0, "gold"),
    }

    # a pre-timestamp commit in the range: timeline='ts' refuses loudly,
    # timeline='seq' still works
    monkeypatch.setattr(strm, "_commit_now", lambda: None)
    target2 = str(tmp_path / "gold2")
    strm.merge_table(rows([(1, "a")]), target2, keys=["k"],
                     order_cols=["tier"], n_buckets=2)
    strm.snapshot_merge_table(target2, "t0")
    strm.merge_table(rows([(1, "b")]), target2, keys=["k"],
                     order_cols=["tier"], n_buckets=2)
    with pytest.raises(ValueError, match="timeline='seq'"):
        scd2.scd2_from_commit_changes(
            spark, target2, since="t0", keys=["k"], attrs=["tier"],
            timeline="ts")
    assert scd2.scd2_from_commit_changes(
        spark, target2, since="t0", keys=["k"], attrs=["tier"]
    ).count() == 1

    # MIXED range — a timestamped commit followed by a timestamp-less one
    # (rolling upgrade): must ALSO raise, never inherit the earlier
    # commit's instant through the null-skipping running max (review r11)
    mixed = iter([100.0, 200.0, None])
    monkeypatch.setattr(strm, "_commit_now", lambda: next(mixed))
    target3 = str(tmp_path / "gold3")
    strm.merge_table(rows([(1, "a")]), target3, keys=["k"],
                     order_cols=["tier"], n_buckets=2)            # @100
    strm.snapshot_merge_table(target3, "t0")
    strm.merge_table(rows([(1, "b")]), target3, keys=["k"],
                     order_cols=["tier"], n_buckets=2)            # @200
    strm.merge_table(rows([(2, "c")]), target3, keys=["k"],
                     order_cols=["tier"], n_buckets=2)            # ts None
    with pytest.raises(ValueError, match="timeline='seq'"):
        scd2.scd2_from_commit_changes(
            spark, target3, since="t0", keys=["k"], attrs=["tier"],
            timeline="ts")


def test_bpe_gpt2_pretokenize_round_trip_and_persistence(spark, sf_dir, tmp_path):
    """r11 (VERDICT r10 item 4): the GPT-2 regex pre-tokenizer — pieces
    follow the published pattern (contractions, leading-space convention,
    case preserved, whitespace as printable surrogates), the
    encode->decode->gpt2_detokenize round trip is EXACT (case included,
    byte_fallback covering out-of-alphabet symbols), and bpe_save/load
    persists the mode so another job replays the same segmentation."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "I can't believe it's 2026! Hello   world.\n\tTabs too."),
         (2, "lower UPPER MiXeD 42x \U0001F680 emoji"),
         # r12 (VERDICT r11 item 7): whitespace beyond space/\n/\t/\r —
         # VT + FF are ASCII \s (now surrogate-covered instead of
         # silently dropped); NBSP / ideographic / thin / line-sep spaces
         # are NOT \s to the JVM regex and must ride through untouched
         (3, "vt\x0bff\x0cnb wide　thin sep end"),
         (4, "mixed  \x0b 　\x0c run")],
        "doc_id long, text string",
    )
    got = docs.select(
        "doc_id", tx.pretokenize_pieces(F.col("text"), "gpt2").alias("p")
    ).orderBy("doc_id").collect()
    assert got[0].p[:8] == ["I", "Ġcan", "'t", "Ġbelieve", "Ġit", "'s",
                            "Ġ2026", "!"]
    assert "ĠUPPER" in got[1].p and "ĠMiXeD" in got[1].p  # case preserved
    assert "Ġ42" in got[1].p and "x" in got[1].p  # number/letter runs split
    # every input character survives pre-tokenization — nothing dropped
    # (pre-r12, the \x0b / \x0c pieces silently vanished here)
    src_text = {d.doc_id: d.text for d in docs.collect()}
    for r in got:
        assert "".join(r.p).translate(
            str.maketrans("ĠĊĉčċČ", " \n\t\r\x0b\x0c")) == src_text[r.doc_id]

    merges, vocab = tx.bpe_train(
        docs, n_merges=4, pretokenize="gpt2", return_vocab=True)
    enc = tx.bpe_encode_ids(
        docs, vocab, merges=merges, pretokenize="gpt2", byte_fallback=True)
    dec = tx.bpe_decode(enc, vocab, byte_fallback=True).select(
        "doc_id", tx.gpt2_detokenize(F.col("text")).alias("text"))
    assert {(r.doc_id, r.text) for r in dec.collect()} == {
        (r.doc_id, r.text) for r in docs.collect()}  # EXACT round trip

    # persistence carries the mode; a pre-r11 artifact defaults whitespace
    path = str(tmp_path / "tok")
    tx.bpe_save(path, merges, vocab, byte_fallback=True, pretokenize="gpt2")
    _, _, cfg = tx.bpe_load(spark, path)
    assert cfg["pretokenize"] == "gpt2"


def test_bpe_save_load_round_trip(spark, sf_dir, tmp_path):
    """Tokenizer persistence (r10): train -> bpe_save -> bpe_load in a
    'different job' -> encode/decode through the LOADED artifact equals
    the in-memory tokenizer exactly (ids and text), including the eow +
    byte_fallback settings replayed from the config table; create-once by
    default; future format versions refuse loudly."""
    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 120
    ).select("doc_id", "text")
    merges, vocab = tx.bpe_train(
        docs, n_merges=6, eow="</w>", return_vocab=True
    )
    path = str(tmp_path / "tok")
    tx.bpe_save(path, merges, vocab, eow="</w>", byte_fallback=True)

    m2, v2, cfg = tx.bpe_load(spark, path)
    assert cfg["eow"] == "</w>" and cfg["byte_fallback"] is True
    assert sorted(map(tuple, m2.collect())) == sorted(map(tuple, merges.collect()))

    # unseen corpus (forces the OOV ranked-merge path) + emoji (forces
    # byte fallback): loaded artifact == in-memory tokenizer
    new_docs = spark.createDataFrame(
        [(1, "zebra quantum fizz"), (2, "hello \U0001F680 world")],
        "doc_id long, text string",
    )
    def enc(mg, vb, bf):
        return sorted(
            (r.doc_id, tuple(r.token_ids))
            for r in tx.bpe_encode_ids(
                new_docs, vb, mg, eow="</w>", byte_fallback=bf
            ).select("doc_id", "token_ids").collect()
        )
    assert enc(m2, v2, cfg["byte_fallback"]) == enc(merges, vocab, True)

    # create-once: a second save without overwrite must refuse
    with pytest.raises(Exception):
        tx.bpe_save(path, merges, vocab, eow="</w>", byte_fallback=True)
    tx.bpe_save(path, merges, vocab, eow="</w>", byte_fallback=True,
                overwrite=True)

    # a NEWER format version fails loudly instead of mis-tokenizing
    spark.createDataFrame(
        [("</w>", True, tx.BPE_FORMAT_VERSION + 1)],
        "eow string, byte_fallback boolean, format_version int",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/config")
    with pytest.raises(ValueError, match="format_version"):
        tx.bpe_load(spark, path)


def test_fixture_publication_heals_partial_leaf(spark, sf_dir):
    """r11 (review): a crashed fixture write (leaf present, no _SUCCESS —
    the pre-r11 overwrite mode's failure shape) must be healed by the next
    ensure, not permanently block atomic-rename publication while its
    truncated rows feed the oracle glob; stranded .stage_* dirs older than
    an hour are swept; a complete leaf is never rewritten (create-once)."""
    import os
    import shutil
    import time

    from tesla_competitive_intelligence_etl_pipeline_spark.plans import fixtures as fx

    fx.ensure_gpt2_pretok_fixture(spark, sf_dir)
    n, tl = fx.corpus_key(spark, sf_dir)
    parent = f"{fx.FIXTURE_ROOT}/gpt2pretok/wf"
    leaf = os.path.join(parent, f"n={n}_{tl}")
    assert os.path.exists(os.path.join(leaf, "_SUCCESS"))
    full = fx.read_fixture(spark, sf_dir, "gpt2pretok", "wf").count()
    assert full > 0
    mtime0 = os.path.getmtime(leaf)

    # complete leaf: ensure is create-once (no rewrite)
    fx.ensure_gpt2_pretok_fixture.forget(sf_dir)
    fx.ensure_gpt2_pretok_fixture(spark, sf_dir)
    assert os.path.getmtime(leaf) == mtime0

    # simulate the crashed write: drop _SUCCESS and one data file, plus a
    # stale stranded staging dir
    os.remove(os.path.join(leaf, "_SUCCESS"))
    parts = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    os.remove(os.path.join(leaf, parts[0]))
    stale = os.path.join(parent, ".stage_deadbeef")
    os.makedirs(stale, exist_ok=True)
    old = time.time() - 7200
    os.utime(stale, (old, old))

    fx.ensure_gpt2_pretok_fixture.forget(sf_dir)
    fx.ensure_gpt2_pretok_fixture(spark, sf_dir)
    assert os.path.exists(os.path.join(leaf, "_SUCCESS"))  # healed
    assert not os.path.isdir(stale)  # stranded staging swept
    assert fx.read_fixture(spark, sf_dir, "gpt2pretok", "wf").count() == full


class _MidSweepTakedownFS(__import__("tesla_competitive_intelligence_etl_pipeline_spark.streaming.fs",
                                     fromlist=["LocalFS"]).LocalFS):
    """Plant a takedown's (record, pin) pair — in the writer's order —
    WHILE the sweep is listing snapshots, so the pin IS in the sweep's
    snapshot view. Under the r11 snapshots-first read order the record is
    read afterwards and the pin is spared; under the old records-first
    order this exact interleaving dropped a LIVE takedown's pin."""

    def __init__(self, corpus):
        self.corpus = corpus
        self.armed = False

    def listdir(self, path):
        import json
        import os

        if self.armed and path.endswith("_snapshots"):
            self.armed = False
            from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
            from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

            rec = {"id": "race01", "tag": "takedown-race01",
                   "id_col": "doc_id", "created_at": 0.0}
            self.put_atomic(td._request_path(self.corpus, "race01"),
                            json.dumps(rec).encode())
            strm.snapshot_merge_table(self.corpus, "takedown-race01", fs=self)
        return super().listdir(path)


def test_sweep_reads_snapshots_before_records(spark, tmp_path):
    """r11 (review): a takedown starting MID-SWEEP (record put, then pin,
    both landing during the sweep's snapshot listing) must have its pin
    spared — the snapshots-first read order guarantees any listed pin's
    record is visible to the later record read."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    corpus = str(tmp_path / "gold")
    fs = _MidSweepTakedownFS(corpus)
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"], fs=fs)
    # a genuinely stranded record-less pin: must still be swept
    strm.snapshot_merge_table(corpus, "takedown-stranded", fs=fs)

    fs.armed = True
    dropped = td.sweep_takedown_pins(corpus, fs=fs)
    assert dropped == ["takedown-stranded"]
    # the mid-sweep takedown's pin survived (its record exists)
    assert "takedown-race01" in strm.list_snapshots(corpus, fs=fs)


def test_takedown_validates_before_durable_writes(spark, sf_dir, tmp_path):
    """r11 (review): argument errors raise BEFORE the request record and
    pin land — no vacuum-blocking debris from a typo'd call."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("doc_id") < 20)
    corpus = str(tmp_path / "gold")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])
    with pytest.raises(ValueError, match="exactly one"):
        td.takedown(spark, corpus)  # neither keys nor predicate
    with pytest.raises(ValueError, match="exactly one"):
        td.takedown(spark, corpus, keys=docs.select("doc_id"),
                    predicate="doc_id = 1")
    with pytest.raises(ValueError, match="no committed corpus"):
        td.takedown(spark, str(tmp_path / "nope"), predicate="doc_id = 1")
    assert not os.path.isdir(os.path.join(corpus, "_takedown"))
    assert strm.list_snapshots(corpus) == []


def test_takedown_works_on_pre_commit_log_corpus(spark, tmp_path):
    """r11 (review): a corpus whose manifest predates the commit log (no
    'commit' id — read_commit_changes(since=tag) always raises on it)
    still takes down cleanly: the stamped delete commit's delta is read
    DIRECTLY, the recover_takedowns path."""
    import json
    import os
    import shutil

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    corpus = str(tmp_path / "gold")
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(20)], "doc_id long, text string")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])
    # doctor the table into its pre-commit-log shape
    mpath = os.path.join(corpus, "_MANIFEST.json")
    man = json.loads(open(mpath).read())
    man.pop("commit", None)
    open(mpath, "w").write(json.dumps(man))
    shutil.rmtree(os.path.join(corpus, "changes"), ignore_errors=True)

    out = td.takedown(spark, corpus, predicate="doc_id % 4 = 1",
                      id_col="doc_id")
    assert out["corpus_deleted"] == 5
    left = {r.doc_id for r in strm.read_merged(spark, corpus).collect()}
    assert left == {i for i in range(20) if i % 4 != 1}
    # obligation met: record removed, pin dropped
    assert td._list_requests(corpus, strm.merge_fs.LOCAL_FS) == []
    assert strm.list_snapshots(corpus) == []


def test_store_registry_defaults_takedown_and_verify(spark, sf_dir, tmp_path):
    """r12 (VERDICT r11 item 1): the corpus' persisted derived-store
    registry (<corpus>/_stores.json) is the single source of truth for
    the erasure fan-out AND the zero-residual audit. Register stores, run
    takedown with NO store arguments, and the registered stores are
    tombstoned; takedown_verify with no arguments audits them all (plus
    registered plain tables). A caller-supplied list that OMITS a
    registered store fails loudly — the pre-r12 silent-escape hole."""
    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import (
        dedup as dd,
        similarity as sim,
        takedown as td,
    )
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("doc_id") < 100)
    emb = src.load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100
    ).select(F.col("vec_id").alias("doc_id"), "embedding", "label")
    corpus = str(tmp_path / "gold")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])
    ivf, sig, derived = (str(tmp_path / n) for n in ("ivf", "sig", "drv"))
    sim.build_ivf_index(emb, ivf)
    dd.write_signature_table(docs, sig)
    docs.select("doc_id", F.length("text").alias("n")).write.parquet(derived)

    # registration: idempotent, kind-checked, unregister round-trips
    td.register_store(corpus, ivf, "ivf")
    td.register_store(corpus, ivf, "ivf")  # idempotent
    reg = td.register_store(corpus, sig, "signature")
    td.register_store(corpus, derived, "table")
    with pytest.raises(ValueError, match="already registered"):
        td.register_store(corpus, ivf, "signature")
    with pytest.raises(ValueError, match="kind"):
        td.register_store(corpus, ivf, "bogus")
    assert reg["ivf"] == (ivf,) and reg["signature"] == (sig,)
    got = td.registered_stores(corpus)
    assert got["ivf"] == (ivf,) and got["signature"] == (sig,)
    assert got["table"] == (derived,) and got["ivfpq"] == ()

    doomed = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id")

    # the audit with NO store arguments covers every registered store
    a0 = td.takedown_verify(spark, corpus, doomed, id_col="doc_id")
    assert {h["store"] for h in a0} >= {corpus, ivf, sig, derived}

    # forgotten-store: an explicit list omitting a registered store raises
    # (for both the erasure and the audit) instead of silently passing
    with pytest.raises(ValueError, match="omits registered"):
        td.takedown(spark, corpus, keys=doomed, id_col="doc_id",
                    signature_tables=())
    with pytest.raises(ValueError, match="omits registered"):
        td.takedown_verify(spark, corpus, doomed, id_col="doc_id",
                           ivf_indexes=())
    # supersets are fine: ad-hoc extras ride along with the registry
    extra_sig = str(tmp_path / "sig2")
    dd.write_signature_table(docs.filter(F.col("doc_id") < 10), extra_sig)
    a1 = td.takedown_verify(
        spark, corpus, doomed, id_col="doc_id",
        signature_tables=(sig, extra_sig))
    assert {h["store"] for h in a1} >= {extra_sig}

    # takedown with NO store arguments fans out to the registry (the
    # 'table' kind is audit-only: only its owning pipeline can mutate it)
    out = td.takedown(spark, corpus, keys=doomed, id_col="doc_id")
    n = doomed.count()
    assert out["corpus_deleted"] == n
    assert out["stores"] == {ivf: n, sig: n}
    # the registered plain table is named as a remaining manual obligation
    assert out["manual_tables"] == [derived]
    # zero residual in the registered erasable stores after purge; the
    # registered plain table still shows up until ITS pipeline erases it
    sim.compact_ivf_index(spark, ivf, purge_tombstones=True, id_col="doc_id")
    dd.compact_signature_table(spark, sig, purge_tombstones=True)
    a2 = td.takedown_verify(spark, corpus, doomed, id_col="doc_id")
    assert {h["store"] for h in a2} & {ivf, sig} == set()
    assert [h for h in a2 if h["store"] == derived and h["kind"] == "table_rows"]

    # unregister: the retired store leaves the default scope
    assert td.unregister_store(corpus, derived) is True
    assert td.unregister_store(corpus, derived) is False
    assert td.registered_stores(corpus)["table"] == ()
    a3 = td.takedown_verify(spark, corpus, doomed, id_col="doc_id")
    assert derived not in {h["store"] for h in a3}


def test_builders_autoregister_stores(spark, sf_dir, tmp_path):
    """r13 (VERDICT r12 item 3): the index/signature BUILDERS register what
    they build — pass corpus= and no manual register_store call is needed
    for no-args takedown_verify to audit (and takedown to cover) the store.
    Covers all four builder families and the pq 'table'-kind audit path."""
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import (
        clustering as cl,
        dedup as dd,
        similarity as sim,
        takedown as td,
    )
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("doc_id") < 60)
    emb = src.load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 60
    ).select(F.col("vec_id").alias("doc_id"), "embedding", "label")
    corpus = str(tmp_path / "gold")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])

    ivf, ivfpq, pq, sig = (str(tmp_path / n) for n in ("ivf", "ivfpq", "pq", "sig"))
    sim.build_ivf_index(emb, ivf, corpus=corpus)
    cl.build_ivfpq_index(emb, ivfpq, id_col="doc_id", corpus=corpus)
    cl.pq_build_index(emb, pq, id_col="doc_id", corpus=corpus)
    dd.write_signature_table(docs, sig, corpus=corpus)

    got = td.registered_stores(corpus)
    assert got["ivf"] == (ivf,)
    assert got["ivfpq"] == (ivfpq,)
    assert got["signature"] == (sig,)
    assert got["table"] == (pq + "/codes",)

    # no-args audit covers every auto-registered store
    doomed = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id")
    hits = td.takedown_verify(spark, corpus, doomed, id_col="doc_id")
    assert {h["store"] for h in hits} >= {corpus, ivf, ivfpq, sig, pq + "/codes"}

    # no-args takedown fans out to the erasable kinds and names the
    # audit-only pq codes table as the remaining manual obligation
    out = td.takedown(spark, corpus, keys=doomed, id_col="doc_id")
    n = doomed.count()
    assert out["stores"] == {ivf: n, ivfpq: n, sig: n}
    assert out["manual_tables"] == [pq + "/codes"]


def test_store_registry_survives_corpus_relocation(spark, sf_dir, tmp_path):
    """ADVICE r12 (low): co-located stores are recorded corpus-RELATIVE in
    _stores.json, so a cloned/relocated corpus' registry resolves to the
    CLONE's co-located stores — a takedown on the clone mutates the clone,
    never the original. A store outside the corpus' neighborhood stays
    absolute (it does not move with the corpus)."""
    import json
    import shutil

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import (
        dedup as dd,
        takedown as td,
    )
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("doc_id") < 40)
    root = tmp_path / "site_a"
    root.mkdir()
    corpus = str(root / "gold")
    sig_inside = str(root / "gold" / "sig")   # under the corpus
    sig_beside = str(root / "sig2")           # next to the corpus
    far = tmp_path / "elsewhere"
    far.mkdir()
    sig_far = str(far / "sig3")               # outside the neighborhood
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])
    dd.write_signature_table(docs, sig_inside, corpus=corpus)
    dd.write_signature_table(docs, sig_beside, corpus=corpus)
    dd.write_signature_table(docs, sig_far, corpus=corpus)

    # storage form: co-located relative, remote absolute
    raw = json.loads((root / "gold" / "_stores.json").read_text())
    stored = {s["path"] for s in raw["stores"]}
    assert "sig" in stored and "../sig2" in stored and sig_far in stored

    # resolution from the ORIGINAL location round-trips to absolute paths
    got = td.registered_stores(corpus)
    assert set(got["signature"]) == {sig_inside, sig_beside, sig_far}

    # relocate the whole site; the clone's registry points at the clone
    clone = tmp_path / "site_b"
    shutil.copytree(root, clone)
    got2 = td.registered_stores(str(clone / "gold"))
    assert set(got2["signature"]) == {
        str(clone / "gold" / "sig"), str(clone / "sig2"), sig_far,
    }

    # unregister accepts either form (resolved comparison)
    assert td.unregister_store(str(clone / "gold"), str(clone / "sig2"))
    assert str(clone / "sig2") not in set(
        td.registered_stores(str(clone / "gold"))["signature"]
    )


def test_store_registry_unknown_kind_is_diagnosable(tmp_path):
    """ADVICE r12 (low): a registry carrying an unknown store kind (hand
    edit / newer-version file) raises a ValueError naming the kind and the
    registry path, not a bare KeyError."""
    import json

    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td

    corpus = tmp_path / "gold"
    corpus.mkdir()
    (corpus / "_stores.json").write_text(json.dumps(
        {"version": 1,
         "stores": [{"path": "x", "kind": "hologram", "registered_at": 0}]}
    ))
    with pytest.raises(ValueError, match="hologram"):
        td.registered_stores(str(corpus))


def test_store_registry_readback_detects_lost_update(tmp_path):
    """ADVICE r12 (low): on a non-CAS store the registry write is
    last-writer-wins; the post-write read-back makes an interleaved
    registrar OBSERVABLE (ConcurrentWriterError) instead of silently
    shrinking the erasure-critical registry."""
    import pytest

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    corpus = str(tmp_path / "gold")

    class RacingFS(mfs.LocalFS):
        def put_atomic(self, path, data):
            super().put_atomic(path, data)
            if path.endswith("_stores.json"):
                # another registrar's write lands right after ours
                super().put_atomic(path, b'{"version": 1, "stores": []}')

    with pytest.raises(mfs.ConcurrentWriterError, match="read-back"):
        td.register_store(corpus, str(tmp_path / "a"), "ivf", fs=RacingFS())
    # the clean path still registers fine
    td.register_store(corpus, str(tmp_path / "a"), "ivf")
    assert td.registered_stores(corpus)["ivf"] == (str(tmp_path / "a"),)


def test_store_registry_cas_read_modify_write(tmp_path):
    """The registry's read-modify-write goes through the CAS primitives on
    a store that has them: interleaved registrations from two 'hosts' both
    land (no lost update), and the etag discipline is exercised."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    fs = mfs.CASLocalFS()
    corpus = str(tmp_path / "gold")
    td.register_store(corpus, str(tmp_path / "a"), "ivf", fs=fs)
    td.register_store(corpus, str(tmp_path / "b"), "signature", fs=fs)
    got = td.registered_stores(corpus, fs=fs)
    assert got["ivf"] == (str(tmp_path / "a"),)
    assert got["signature"] == (str(tmp_path / "b"),)
    assert td.unregister_store(corpus, str(tmp_path / "a"), fs=fs) is True
    assert td.registered_stores(corpus, fs=fs)["ivf"] == ()


def test_vacuum_spares_live_takedown_delta(spark, tmp_path, monkeypatch):
    """r12 (VERDICT r11 item 3): vacuum(changes_keep=N) must never reclaim
    the delta a crashed takedown's recovery needs. Crash the takedown
    after its delete-commit stamp (mid fan-out), land more commits so the
    stamped commit falls outside the keep window, vacuum with
    changes_keep=1 — the stamped delta survives (it is pinned by the live
    _takedown/ record) and recover_takedowns completes the propagation
    exactly. Pre-r12 this vacuumed the delta and recovery raised with a
    manual procedure. After recovery removes the record, the same vacuum
    reclaims the delta — the pin lives exactly as long as the obligation."""
    import os

    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown as td
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(6)]
        + [(9, " ".join(f"shared_{j}" for j in range(30)))],
        "doc_id long, text string",
    )
    corpus, sig = str(tmp_path / "corpus"), str(tmp_path / "sig")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"],
                     n_buckets=2)
    dd.write_signature_table(docs, sig)
    increment = spark.createDataFrame(
        [(1000, " ".join(f"shared_{j}" for j in range(30)) + " tail")],
        "doc_id long, text string",
    )

    def crawl():
        return dd.cross_corpus_neardup_indexed(
            increment, spark, sig, threshold=0.5).count()

    assert crawl() == 1

    # crash mid fan-out, AFTER the delete committed and the stamp landed
    def boom(*a, **k):
        raise RuntimeError("injected crash during tombstone fan-out")

    monkeypatch.setattr(td, "_propagate", boom)
    doomed = spark.createDataFrame([(9,)], "doc_id long")
    try:
        td.takedown(spark, corpus, keys=doomed, signature_tables=(sig,))
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.undo()

    recs = td._list_requests(corpus, mfs.LOCAL_FS)
    assert len(recs) == 1 and recs[0]["delete_commit"]
    stamped = recs[0]["delete_commit"]
    delta_commit_dir = os.path.join(corpus, "changes", stamped)

    # age the stamped commit out of the keep window with later traffic
    for i in range(3):
        strm.merge_table(
            spark.createDataFrame([(100 + i, f"new {i}")],
                                  "doc_id long, text string"),
            corpus, keys=["doc_id"], order_cols=["doc_id"], n_buckets=2)
    removed = strm.vacuum_merge_table(corpus, changes_keep=1,
                                      staged_grace_sec=0.0)
    # the live record pins its delta; other old deltas were reclaimed
    assert os.path.isdir(delta_commit_dir)
    assert delta_commit_dir not in removed
    assert any(p.startswith(os.path.join(corpus, "changes")) for p in removed)

    # recovery completes the obligation exactly — no manual forensics
    out = td.recover_takedowns(spark, corpus)
    assert [o["action"] for o in out] == ["propagated"]
    assert out[0]["corpus_deleted"] == 1 and out[0]["stores"][sig] == 1
    assert crawl() == 0
    assert td._list_requests(corpus, mfs.LOCAL_FS) == []

    # obligation met -> record gone -> the next vacuum reclaims the delta
    strm.vacuum_merge_table(corpus, changes_keep=1, staged_grace_sec=0.0)
    assert not os.path.isdir(delta_commit_dir)


def test_scrub_pointer_swap_crash_converges(spark, sf_dir, tmp_path, monkeypatch):
    """r11 (review): the delta scrub publishes via an atomic pointer put,
    never a rmtree+rename through the reader-visible path. Crash BEFORE
    the pointer put leaves the old delta fully readable (no torn state);
    crash AFTER it (before the old dir's removal) leaves a stale invisible
    dir; a re-run converges to zero residual in both cases."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import erasure
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm
    from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

    docs = src.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text").filter(F.col("doc_id") < 30)
    corpus = str(tmp_path / "gold")
    strm.merge_table(docs, corpus, keys=["doc_id"], order_cols=["doc_id"])
    doomed = spark.createDataFrame([(3,), (7,)], "doc_id long")

    class _CrashAtPointerFS(mfs.LocalFS):
        armed = True

        def put_atomic(self, path, data):
            if self.armed and path.endswith("_scrub.json"):
                self.armed = False
                raise RuntimeError("injected crash before the pointer put")
            super().put_atomic(path, data)

    fs1 = _CrashAtPointerFS()
    with pytest.raises(RuntimeError, match="injected"):
        erasure.erase_everywhere(spark, corpus, doomed, fs=fs1)
    # no torn state: the ORIGINAL delta is still what CDC reads (the
    # staged scrub dir is unnamed and invisible)
    cdir = os.path.join(corpus, strm._CHANGES_DIR)
    cids = os.listdir(cdir)
    for cid in cids:
        active = strm._delta_dir(corpus, cid, mfs.LOCAL_FS)
        assert active.endswith(os.sep + "delta") or active.endswith("/delta")
    mfs.break_writer_lease(mfs.LOCAL_FS, corpus)  # the crash stranded it
    res = erasure.erase_everywhere(spark, corpus, doomed)  # re-run
    assert res["residual"] == []

    # crash AFTER the pointer put, before the old dir's removal
    corpus2 = str(tmp_path / "gold2")
    strm.merge_table(docs, corpus2, keys=["doc_id"], order_cols=["doc_id"])

    class _CrashAfterPointerFS(mfs.LocalFS):
        armed = True

        def rmtree(self, path):
            if self.armed and os.sep + "changes" + os.sep in path and path.endswith("delta"):
                self.armed = False
                raise RuntimeError("injected crash after the pointer put")
            super().rmtree(path)

    fs2 = _CrashAfterPointerFS()
    with pytest.raises(RuntimeError, match="injected"):
        erasure.erase_everywhere(spark, corpus2, doomed, fs=fs2)
    # NO FALSE CLEAN (review r11): the stale pre-scrub delta is reader-
    # invisible but still on disk — the audit must report it as retained
    # content, never a zero-residual deadline proof over it
    mfs.break_writer_lease(mfs.LOCAL_FS, corpus2)
    stale_hits = [h for h in erasure.where_is(spark, corpus2, doomed)
                  if h["kind"] == "changes"]
    assert stale_hits and any("/delta" in h["ref"] for h in stale_hits)
    res2 = erasure.erase_everywhere(spark, corpus2, doomed)
    assert res2["residual"] == []
    # converged: exactly one delta dir per commit, the active one
    for cid in os.listdir(os.path.join(corpus2, strm._CHANGES_DIR)):
        cdir2 = os.path.join(corpus2, strm._CHANGES_DIR, cid)
        dirs = [d for d in os.listdir(cdir2)
                if d == "delta" or d.startswith("delta_scrub_")]
        assert len(dirs) == 1
