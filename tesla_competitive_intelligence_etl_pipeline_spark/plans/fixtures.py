"""Engine-hash fixture tables (r10 — VERDICT r9 item 4): oracle-check the
xxhash64 hash family, not just the md5 one (dedup's ``family="md5"``).

Six registry entries were rows-only because their candidate generation
hashes with xxhash64, which DuckDB cannot evaluate. But the hash calls are
the ONLY engine-specific step: everything downstream — band-bucket
grouping, the oversized-bucket cap, the cross/self candidate join, exact
Jaccard over (hashed) shingle sets, hamming distance, the canonical-removal
policy, the transitive closure — is plain relational algebra. So the engine
PERSISTS its hash outputs for the small gate corpora as fixture parquet
under ``FIXTURE_ROOT``, and the oracle re-derives banding/candidates/
verdicts/policy in SQL from those values (plans/oracle_vec.py's
*_fixture_sql builders). Only ``xxhash64(...)`` itself stays engine-side;
a wrong cap, join, Jaccard, policy, or closure now hash-mismatches.

Mechanics and their honest limits:

- Every fixture row is stamped ``(corpus_n, corpus_len)`` = the sf's full
  documents (count, total text length), written to an ``n=<count>_<len>``
  subdir, and the SQL filters both against the connection's own documents
  view — one fixture root serves every SF. Count ALONE is not a corpus
  identity: the driver's sf0.001 and sf0.01 documents tables both hold
  500 docs with different text (observed r10 — the n-only gate silently
  matched the other SF's fixture rows), hence the content-sensitive
  length term, verified engine-identical (Spark length == DuckDB LENGTH
  on this corpus).
- The QUERY callable ensures the fixture synchronously before returning
  its (lazy) result, and the harness runs each entry's oracle after
  building its DataFrame — so within one comparison the fixture is always
  present. A leaf that already exists (``_SUCCESS`` present) is NOT
  rewritten — fixture ROWS are deterministic for a given corpus, and the
  oracle glob spans every ``n=`` subdir, so a concurrent overwrite at ANY
  sf could yank files out from under another process's mid-glob read
  (observed r10: a full-suite sf0.001 oracle read raced a second
  process's sf0.01 replay). Since r11 publication is ATOMIC-RENAME
  (_write stages into a dot-dir the ``n=*`` globs never match, then one
  os.rename exposes the complete leaf; a lost race discards the staging),
  so even the FIRST-ever write cannot be mid-globbed — these entries are
  now eligible for the driver's concurrent window (x2_minhash_lsh rotated
  in, r11). FIXTURE_ROOT carries a layout VERSION segment — when an
  operator's hashing layout changes, bump it along with the matching
  ensure_* so stale on-disk fixtures can never satisfy the skip.
- Every ``ensure_*`` is an ``@artifact`` (plans/artifacts.py): one call
  per process and sf does the work, later calls return at once; forget
  an sf with ``ensure_*.forget(sf_dir)``. The leaves under FIXTURE_ROOT
  are shared across processes, so the process-exit cleanup of the
  scratch root never touches them.
- The fixture derivation mirrors the operators' expressions at their
  default ``family="xxhash64"`` (dedup._with_shingles_and_sig /
  _band_explode / simhash + the 16-bit chunk split); values are deterministic, so fixture and query agree
  without sharing a computation. If an operator's hashing layout changes,
  change the matching ensure_* here — the hash gate is what catches a
  silent drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.plans.artifacts import artifact, scratch

# read at call time: a caller may repoint it after import
FIXTURE_ROOT = "/tmp/spark_graft_fixtures/v1"

_DOC_KEY: dict[str, tuple[int, int]] = {}


def corpus_key(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(doc count, total text length) — the corpus identity the fixture
    leaves and the oracle's _FX_GATE agree on."""
    if sf_dir not in _DOC_KEY:
        from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

        r = (
            src.load_table(spark, sf_dir, "documents")
            .agg(F.count(F.lit(1)), F.sum(F.length("text")))
            .collect()[0]
        )
        _DOC_KEY[sf_dir] = (int(r[0]), int(r[1]))
    return _DOC_KEY[sf_dir]


def _write(spark, sf_dir: str, group: str, tables: dict[str, DataFrame]) -> None:
    """Create-once fixture leaves with ATOMIC-RENAME publication (r11 —
    VERDICT r10 item 6): Spark writes the leaf into a dot-prefixed staging
    sibling (invisible to the readers' ``n=*`` globs), then ONE os.rename
    makes the complete leaf appear. A concurrent reader can now never
    mid-glob a partially-written leaf — the last race that kept the
    fixture-backed entries out of the driver's concurrent window. A lost
    rename race (another process published the same leaf first) discards
    the staging and uses the winner's rows."""
    import os
    import shutil
    import time
    import uuid

    n, tl = corpus_key(spark, sf_dir)
    for name, df in tables.items():
        parent = f"{FIXTURE_ROOT}/{group}/{name}"
        leaf = os.path.join(parent, f"n={n}_{tl}")
        if os.path.exists(os.path.join(leaf, "_SUCCESS")):
            continue  # deterministic rows already on disk
        # a leaf WITHOUT _SUCCESS is a crashed partial write (pre-r11
        # overwrite mode, or a killed publisher) — it would block the
        # rename below forever while its truncated rows keep feeding the
        # oracle glob; clear it so publication self-heals (review r11).
        # The _SUCCESS re-check inside the condition matters: a rename is
        # atomic, so a leaf published by a concurrent process appears
        # WITH its _SUCCESS in one step and is never mistaken for debris
        if os.path.isdir(leaf) and not os.path.exists(
            os.path.join(leaf, "_SUCCESS")
        ):
            shutil.rmtree(leaf, ignore_errors=True)
        # opportunistic sweep of stage dirs stranded by crashed
        # publishers (never rename'd, nothing else removes them); an hour
        # is far past any live write, so a concurrent publisher's ACTIVE
        # staging is never touched
        if os.path.isdir(parent):
            now = time.time()
            for d in os.listdir(parent):
                p = os.path.join(parent, d)
                if d.startswith(".stage_") and now - os.path.getmtime(p) > 3600:
                    shutil.rmtree(p, ignore_errors=True)
        stage = os.path.join(parent, f".stage_{uuid.uuid4().hex[:12]}")
        (
            df.withColumn("corpus_n", F.lit(n).cast("long"))
            .withColumn("corpus_len", F.lit(tl).cast("long"))
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(stage)
        )
        try:
            os.rename(stage, leaf)
        except OSError:
            # rename refused: either another process published this leaf
            # between our existence check and here (benign — its rows are
            # the same deterministic values, or for wall-clock fixtures
            # the frozen truth both sides must read), or something else
            # entirely. Verify which: a COMPLETE leaf means the lost
            # race; anything else must fail loudly, not silently serve a
            # truncated fixture.
            shutil.rmtree(stage, ignore_errors=True)
            if not os.path.exists(os.path.join(leaf, "_SUCCESS")):
                raise


def crawl_increment(docs: DataFrame) -> DataFrame:
    """The crawl increment of the cross-corpus dedup entries: the first 50
    documents of ``docs`` (doc_id, text) re-keyed +1e6 with ' zz' appended.
    The oracles spell the same rows in SQL."""
    return docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )


def read_fixture(
    spark: SparkSession, sf_dir: str, group: str, name: str
) -> DataFrame:
    """Read a fixture table back, gated to THIS corpus identity (the Spark
    twin of the oracle's _FX_GATE) with the stamp columns dropped."""
    n, tl = corpus_key(spark, sf_dir)
    return (
        spark.read.parquet(f"{FIXTURE_ROOT}/{group}/{name}/n=*")
        .filter((F.col("corpus_n") == n) & (F.col("corpus_len") == tl))
        .drop("corpus_n", "corpus_len")
    )


@artifact
def ensure_scd2ts_fixture(spark: SparkSession, sf_dir: str) -> None:
    """Commit-change rows WITH wall-clock ``_commit_ts`` from a real merge
    table built out of the sf's events (the wall-clock SCD2 gate). Build:
    per-user aggregate state for user_id<40, snapshot, an update wave
    (user_id<20), a DELETE wave (user_id%5==0),
    and an upsert wave straddling inserts and updates (35<=user_id<45) —
    inserts, updates, AND deletes all present in the captured range.

    The table's CONTENT is deterministic given the sf's events; the
    TIMESTAMPS are the wall-clock instants of the first-ever build, frozen
    by the create-once leaf — both sides always read the same frozen rows,
    so nondeterministic stamps hash-match by construction. Only
    read_commit_changes' extraction stays engine-side: interval building
    and ts monotonization are re-derived in SQL by
    oracle_vec.scd2_commit_ts_fixture_sql."""
    import os
    import shutil

    n, tl = corpus_key(spark, sf_dir)
    leaf = f"{FIXTURE_ROOT}/scd2ts/changes/n={n}_{tl}"
    if not os.path.exists(os.path.join(leaf, "_SUCCESS")):
        from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src
        from tesla_competitive_intelligence_etl_pipeline_spark.streaming import events as strm

        ev_all = src.load_events(spark, sf_dir)

        def _state(dfilter, etype_expr, value_expr):
            return (
                ev_all.filter(dfilter)
                .groupBy("user_id")
                .agg(etype_expr.alias("event_type"), value_expr.alias("value"))
            )

        tmp = scratch("scd2ts_fx_")
        target = os.path.join(tmp, "gold")
        try:
            kw = dict(keys=["user_id"], order_cols=["value"], n_buckets=4)
            strm.merge_table(
                _state(F.col("user_id") < 40, F.min("event_type"),
                       F.count(F.lit(1)).cast("double")),
                target, **kw,
            )
            strm.snapshot_merge_table(target, "s0")
            # update wave: user_id < 20 get a new state
            strm.merge_table(
                _state(F.col("user_id") < 20, F.max("event_type"),
                       (F.count(F.lit(1)) + 1).cast("double")),
                target, **kw,
            )
            # delete wave: every 5th user erased
            strm.delete_from_merge_table(
                spark, target,
                keys=ev_all.filter(
                    (F.col("user_id") < 40) & (F.col("user_id") % 5 == 0)
                ).select("user_id").distinct(),
            )
            # upsert wave straddling inserts (40..59, new keys), updates
            # (35..39), and RE-INSERTS after a delete (%10==0)
            strm.merge_table(
                _state(
                    ((F.col("user_id") >= 35) & (F.col("user_id") < 60))
                    | (F.col("user_id") % 10 == 0) & (F.col("user_id") < 40),
                    F.max("event_type"), F.lit(1.0),
                ),
                target, **kw,
            )
            ch = strm.read_commit_changes(spark, target, since="s0")
            _write(spark, sf_dir, "scd2ts", {"changes": ch})
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


@artifact
def ensure_gpt2_pretok_fixture(spark: SparkSession, sf_dir: str) -> None:
    """(word, freq) under the GPT-2 regex pre-tokenizer for the full
    documents corpus: DuckDB's RE2 has no lookahead, so the regex split
    itself — and ONLY it — stays engine-side, persisted through the same
    expressions bpe_train uses (operators/text.pretokenize_pieces + the
    trainer's length/empty filters). The oracle re-derives symbolization
    and every unrolled merge round in SQL from these words."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(
            F.explode(
                tx.pretokenize_pieces(F.col("text"), "gpt2")
            ).alias("word")
        )
        .filter((F.col("word") != "") & (F.length("word") <= 64))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # per-doc pre-token SEQUENCES for the encode gate (x5_bpe_gpt2_encode):
    # the heldout convention appended in-text (one guaranteed-OOV word per
    # doc — 'Ġwinnower' never occurs in training, and the digit run
    # exercises byte fallback), exactly what the engine entry re-splits
    dw = docs.select(
        "doc_id",
        F.posexplode(
            tx.pretokenize_pieces(
                F.concat(
                    F.col("text"), F.lit(" winnower"),
                    F.col("doc_id").cast("string"),
                ),
                "gpt2",
            )
        ).alias("wpos", "word"),
    ).filter(F.col("word") != "")
    _write(spark, sf_dir, "gpt2pretok", {"wf": wf, "dw": dw})


@artifact
def ensure_bpehm_fixture(spark: SparkSession, sf_dir: str) -> None:
    """(word, sym) vocabulary + (merge_rank, pair, merged) merge list from
    a HIGH-MERGE (96-round) BPE training run: 96 > BPE_EXPR_MAX_MERGES=64,
    so the ENCODE entry that reads these exercises the deployment regime —
    the Arrow-UDF per-distinct-OOV-word path — under the driver's hash
    gate. Training uses strategy='local'
    (bit-identical merge lists to the distributed trainer, pinned in
    tests/test_corpus.py); the oracle re-derives the OOV ranked-merge
    replay from the persisted merge list via a recursive CTE (one 3-pass
    replace per rank — exact for this corpus: max word length is 8
    symbols, far under the 64-symbol 3-pass fixpoint bound), the
    vocabulary join, dense symbol ids, and ordered assembly. Only the
    TRAINING (separately oracle-checked at low merge counts by
    x5_bpe_train / x5_bpe_train_local) stays engine-side here."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import text as tx
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents")
    merges, vocab = tx.bpe_train(
        docs, n_merges=96, return_vocab=True, strategy="local"
    )
    _write(
        spark, sf_dir, "bpehm",
        {
            "vocab": vocab.select("word", "sym"),
            "merges": merges.select("merge_rank", "pair", "merged"),
        },
    )


@artifact
def ensure_minhash_fixture(spark: SparkSession, sf_dir: str) -> None:
    """(doc_id, sh) + (doc_id, band, bucket) for the full documents corpus —
    the xxhash64 outputs behind x2_minhash_lsh / x2_near_dedup_canonical /
    x2_cluster_dedup (num_hashes=32, bands=8, trigram shingles)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents")
    sigs = dd._with_shingles_and_sig(docs, "text", "doc_id", 32, 3).persist()
    try:
        _write(
            spark, sf_dir, "minhash",
            {
                "sh": sigs.select("doc_id", "sh"),
                "bb": dd._band_explode(sigs, 32, 8),
            },
        )
    finally:
        sigs.unpersist()


@artifact
def ensure_simhash_fixture(spark: SparkSession, sf_dir: str) -> None:
    """(doc_id, sig) + (doc_id, band, chunk) for doc_id < 200 — the
    xxhash64-derived SimHash signatures and their 4x16-bit band chunks
    behind x2_simhash. Chunks are persisted too (not re-split in SQL):
    candidate RECALL above hamming 3 depends on the exact chunk values, so
    the oracle must band on the engine's chunks, not a re-derivation with
    possibly different shift semantics."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sigs = docs.select(
        F.col("doc_id"), dd.simhash(F.col("text")).alias("sig")
    ).persist()
    chunk_bits, bands = 16, 4
    mask = (1 << chunk_bits) - 1
    bb = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.chunk")
    try:
        _write(
            spark, sf_dir, "simhash",
            {"sig": sigs.select("doc_id", "sig"), "bb": bb},
        )
    finally:
        sigs.unpersist()


@artifact
def ensure_crosslsh_fixture(spark: SparkSession, sf_dir: str) -> None:
    """(side, doc_id, sh) + (side, doc_id, band, bucket) for the crawl
    scenario behind x2_cross_corpus_lsh / x2_cross_corpus_indexed: existing
    corpus = doc_id < 100 (side 0), increment = ``crawl_increment``
    (side 1). The indexed twin's stored signature table holds
    byte-identical (sh, sig) values (same deterministic expressions), so
    one fixture serves both entries."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import dedup as dd
    from tesla_competitive_intelligence_etl_pipeline_spark.sources import io as src

    docs = src.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") < 100)
    new = crawl_increment(docs)
    sigs = (
        dd._with_shingles_and_sig(new, "text", "doc_id", 32, 3)
        .withColumn("side", F.lit(1))
        .unionByName(
            dd._with_shingles_and_sig(old, "text", "doc_id", 32, 3)
            .withColumn("side", F.lit(0))
        )
        .persist()
    )
    try:
        _write(
            spark, sf_dir, "crosslsh",
            {
                "sh": sigs.select("side", "doc_id", "sh"),
                "bb": dd._band_explode(sigs, 32, 8, "side"),
            },
        )
    finally:
        sigs.unpersist()
