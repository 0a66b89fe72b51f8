"""X-1/X-2: deduplication operators for LLM-data pipelines (SURVEY.md §2.9).

Scale design (the point of these at 100 TB):
- exact dedup: one hash-aggregate on a 128-bit content key — no full-text
  shuffle (the key is computed map-side; only (key, doc_id) pairs move).
- MinHash LSH: signatures are computed map-side as JVM expressions (no
  Python); the only shuffle is the band-bucket groupBy whose keys are
  (band_id, band_hash). Candidate pairs are verified with exact Jaccard
  before reporting — LSH chooses *which* pairs get verified, never the
  verdict itself.
- SimHash: signature map-side; near-dup = hamming distance <= k via
  bit_count(xor) on a band-bucketed self-join.

Every LSH/SimHash operator takes ``family="xxhash64" | "md5"`` (see "Hash
families" below).
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs

from tesla_competitive_intelligence_etl_pipeline_spark.operators.text import (
    _sliding_tuples,
    fingerprint_md5,
    normalized_text,
    shingles,
    tokens,
)

def _truncate_lineage(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Materialize ``df`` once and TRUNCATE its lineage: the package's one
    way to share a frame between several consumers of a plan.

    Which frames use it, and which keep ``persist``:
    - a fan-out point inside a returned lazy plan uses a lazy checkpoint:
      the LSH and SimHash signature tables, SemDeDup's pair side, the
      indexed LSH path's new signatures, ``sources.io.shared_scans``.
      Under AQE every in-memory scan of a persisted frame becomes its own
      table-cache stage with a job of its own; a checkpointed RDD is
      filled by the first stage that reads it and the others read its
      blocks;
    - a frame that an operator loops over and unpersists itself
      (``connected_components``' edge table, ``clustering._lloyd``,
      ``kmeans_df``), or one with an exchange below it
      (``packing.global_cumsum``, the encode of the registry's
      ``x5_pack_chunk_streams``), keeps ``persist``/``unpersist``: building
      a lazy checkpoint runs the plan below it up to its last exchange,
      so an exchange there would run when the plan is built. The CC loops
      checkpoint each round's labels, since the next round's consumer
      fills them.

    Default: a LAZY ``localCheckpoint``. An eager one would run a dedicated
    job per call; the lazy form fills the blocks in the first consumer's
    job, so the truncation costs no job. No call site reads a path that is
    overwritten before evaluation, so none relies on an eager snapshot.
    Iterative loops stay bounded: each round's consumer fully materializes
    the previous round's checkpoint, so lazy chains never deepen past one
    round.

    The blocks live as long as the returned plan: ``sources.io.release``
    frees them after the caller's last action, or the ContextCleaner does
    once the JVM's GC reaches the RDD. ``spark.catalog.clearCache()``
    does not. They live only on executors: on a cluster with
    decommissioning or spot churn a lost block FAILS the query instead of
    recomputing it (truncated lineage cannot rebuild it).
    ``reliable=True`` is the escape hatch: a REAL (eager) checkpoint to the
    SparkContext checkpoint dir (HDFS/S3-backed, survives executor loss),
    slower per call and the right trade on decommissioning-prone clusters.
    Requires ``spark.sparkContext.setCheckpointDir(...)``; raises a clear
    error otherwise. See DEPLOYMENT.md § Checkpointing."""
    if not reliable:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True needs a reliable checkpoint location: call "
            "spark.sparkContext.setCheckpointDir('hdfs://.../checkpoints') "
            "(an HDFS/S3 path on a real cluster) before running this operator"
        )
    return df.checkpoint(eager=True)


# ---------------------------------------------------------------------------
# X-1: exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per exact (normalized) content; report group size.
    groupBy on the md5 key — map-side partial agg, single shuffle of keys."""
    return (
        docs.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("fp")
    )


# ---------------------------------------------------------------------------
# Hash families. The LSH/SimHash operators and the signature table take
# ``family="xxhash64" | "md5"`` — the string the table's _params sidecar
# stores. The family picks three primitives and nothing else: the shingle
# hash, the band bucket, and the SimHash token hash with its width.
# - "xxhash64" (default): shingles combine per-token xxhash64 values without
#   building n-gram strings, a bucket is xxhash64 of the band's signature
#   slice, SimHash is 64-bit. Faster map-side. DuckDB has no xxhash64, so
#   these registry entries are oracle-checked through engine-hash fixtures
#   (plans/fixtures.py): the engine persists its hash outputs and
#   the oracle re-derives everything downstream of them.
# - "md5": every hash is the 60-bit md5 prefix (_md5_long60) over n-gram
#   strings, '|'-joined signature slices and tokens — reproducible in
#   DuckDB, so the oracle re-derives the whole pipeline (plans/oracle_vec.py,
#   the *_portable_sql builders). SimHash is 60-bit, which keeps every mask,
#   signature and band chunk positive in signed 64-bit. Trigram shingles
#   only, as the oracle builds them.
# Bands of the two families never share a bucket, so a signature table
# records its family and queries against it check the match.
# ---------------------------------------------------------------------------

_FAMILIES = ("xxhash64", "md5")
_SIMHASH_BITS = {"xxhash64": 64, "md5": 60}


def _check_family(family: str, shingle_n: int = 3) -> None:
    """ValueError — not an assert, which python -O strips — on an unknown
    family, or on md5 with any shingle size but 3."""
    if family not in _FAMILIES:
        raise ValueError(
            f"unknown hash family {family!r}; expected one of {_FAMILIES}"
        )
    if family == "md5" and shingle_n != 3:
        raise ValueError(
            f"the md5 hash family is trigram-only; got shingle_n={shingle_n}"
        )


def _md5_long60(col: Column) -> Column:
    """First 15 hex digits of md5 as a 60-bit non-negative long — fits
    signed 64-bit in every engine (16 digits could overflow the cast)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _token_hash(col: Column, family: str) -> Column:
    return _md5_long60(col) if family == "md5" else F.xxhash64(col)


def _shingle_hashes(text_col: Column, n: int, family: str) -> Column:
    if family == "md5":
        return F.transform(shingles(text_col, n), _md5_long60)
    return hashed_shingles(text_col, n)


def _band_bucket(sig_slice: list[Column], family: str) -> Column:
    if family == "md5":
        return _md5_long60(F.concat_ws("|", *[c.cast("string") for c in sig_slice]))
    return F.xxhash64(*sig_slice)


# ---------------------------------------------------------------------------
# X-2a: MinHash + LSH near-dup
# ---------------------------------------------------------------------------


# Deterministic odd multipliers/offsets for the universal-hash family
# h_j(x) = a_j * x + b_j over Z/2^64 (long overflow wraps, which is exactly
# the mod-2^64 arithmetic we want; ANSI off).
_MINHASH_A = [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x27D4EB2F165667C5]


def minhash_int_signature(hashed_shingle_arr: Column, num_hashes: int = 32) -> Column:
    """num_hashes independent min-hashes over pre-hashed shingles: the j-th
    hash is an affine transform h_j(x) = a_j*x + b_j over Z/2^64 (long
    overflow wraps = mod-2^64, ANSI off). Pure JVM expression, map-side.

    Each min is ONE ``aggregate(..., least)`` fold, not
    ``array_min(transform(...))``: higher-order functions evaluate
    interpreted, and the transform form would materialize num_hashes
    intermediate arrays of |shingles| longs per row, where the fold keeps
    a single long accumulator per hash (0.15 s vs 0.27 s for the signature
    pass over sf0.1 documents, OPTIMIZATION_r13.md). ``b + j`` is
    pre-folded mod 2^64; addition is associative mod 2^64."""

    def coeffs(j: int) -> tuple[int, int]:
        a = _MINHASH_A[j % len(_MINHASH_A)] | 1  # odd -> bijective mod 2^64
        b = (j * 0x9E3779B97F4A7C15 + 0x85EBCA77C2B2AE63 + j) % (1 << 64)
        a_signed = a - (1 << 64) if a >= (1 << 63) else a
        b_signed = b - (1 << 64) if b >= (1 << 63) else b
        return a_signed, b_signed

    _MAX_LONG = (1 << 63) - 1

    def one_min(j: int) -> Column:
        a, b = coeffs(j)
        return F.aggregate(
            hashed_shingle_arr,
            F.lit(_MAX_LONG),
            lambda acc, x: F.least(acc, x * F.lit(a) + F.lit(b)),
        )

    sig = F.array(*[one_min(j) for j in range(num_hashes)])
    # array_min(empty) was NULL; the fold's identity would leak MAX_LONG.
    # No engine path builds empty shingle arrays (hashed_shingles/shingles
    # always emit >= 1 gram), but minhash_signature is exported API — keep
    # the old contract for external callers.
    return F.when(F.size(hashed_shingle_arr) > 0, sig).otherwise(
        F.array(*[F.lit(None).cast("long") for _ in range(num_hashes)])
    )


def minhash_signature(shingle_arr: Column, num_hashes: int = 32) -> Column:
    """Signature over string shingles (hash each once, then the affine
    family). Kept for callers holding string shingle sets; the LSH pipeline
    uses hashed_shingles + minhash_int_signature to skip string building."""
    return minhash_int_signature(F.transform(shingle_arr, lambda s: F.xxhash64(s)), num_hashes)


def hashed_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word-n-gram shingles as 64-bit hashes: hash each token once,
    combine n consecutive token hashes with xxhash64 — no n-gram string is
    ever materialized (the dominant cost of string shingling). Windows are
    assembled with the slice/zip form (_sliding_tuples)."""
    th = F.transform(tokens(normalized_text(text_col)), lambda t: F.xxhash64(t))
    grams = F.when(
        F.size(th) >= n,
        _sliding_tuples(th, n, lambda *cols: F.xxhash64(*cols)),
    ).otherwise(F.array(F.xxhash64(*[F.lit(0)])))
    return F.array_distinct(grams)


def _with_shingles_and_sig(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    *,
    family: str = "xxhash64",
) -> DataFrame:
    # Signature computation is CPU-bound per row; small single-file inputs
    # arrive as one partition, so spread across cores first. io.spread, not
    # a keyless repartition: that would always shuffle (at 100 TB a
    # pointless full-corpus pass when the scan is already wide) and pay
    # round-robin's sort-before-repartition; spread is a no-op when the plan
    # already has >= defaultParallelism partitions or reads less than its
    # size floor, and hash-partitions on the id otherwise.
    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import spread

    return (
        spread(docs, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            _shingle_hashes(F.col(text_col), shingle_n, family).alias("sh"),
        )
        .withColumn("sig", minhash_int_signature(F.col("sh"), num_hashes))
    )


def _band_explode(
    sigs: DataFrame, num_hashes: int, bands: int, *keep: str, family: str = "xxhash64"
) -> DataFrame:
    """(…keep, doc_id, band, bucket) rows: one per (doc, band), bucket =
    the family's hash of the band's signature slice."""
    rows_per_band = num_hashes // bands
    return sigs.select(
        *keep,
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_bucket(
                            [F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                            family,
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(*keep, "doc_id", "bb.band", "bb.bucket")


def exact_jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / union


def _jaccard_verified(
    candidates: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verdicts for candidate pairs. ``candidates`` is
    (key_a, key_b); ``sets_a`` and ``sets_b`` are (id, set) frames, joined
    on key_a first and then on key_b. Returns (key_a, key_b, jaccard) for
    the pairs whose Jaccard, rounded to 6 decimals, is at least
    ``threshold``; the rounding keeps a verdict at the boundary from
    flipping on last-ulp noise between engines."""
    key_a, key_b = candidates.columns
    return (
        candidates.join(sets_a.toDF(key_a, "__set_a"), key_a)
        .join(sets_b.toDF(key_b, "__set_b"), key_b)
        .withColumn(
            "jaccard", F.round(exact_jaccard(F.col("__set_a"), F.col("__set_b")), 6)
        )
        .filter(F.col("jaccard") >= threshold)
        .select(key_a, key_b, "jaccard")
    )


def _capped_bucket_rows_shared(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Band rows minus the rows of every (band, bucket) whose COUNT(*)
    exceeds the cap. The count is a window over (band, bucket), so it rides
    the exchange of the groupBy(band, bucket) that follows: one evaluation
    of the band table and no extra aggregate or broadcast stage. A census
    aggregate plus a broadcast anti join would re-derive the band rows (at
    production scale a second corpus-size pass over the signatures) and add
    two stages (OPTIMIZATION_r14.md measured the forms).

    Memory: a degenerate bucket's rows do reach the window's task, but
    WindowExec buffers a partition group in an
    ExternalAppendOnlyUnsafeRowArray that spills to disk past
    spark.sql.windowExec.buffer.spill.threshold (4096 rows), and every
    aggregation buffer after the filter holds at most ``max_bucket_size``
    entries. COUNT(*) judges the cap, so NULL-id rows count, as in the
    DuckDB oracle's HAVING COUNT(*) <= cap."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    return (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("__bsz") <= max_bucket_size)
        .drop("__bsz")
    )


def _bucket_pairs(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Distinct (doc_a, doc_b) with doc_a < doc_b from the capped buckets of
    ``banded`` (band, bucket, doc_id). One groupBy collects each surviving
    bucket's sorted ids; the pairs then come out one member per row:
    posexplode the list, and explode the members after each one. No
    generated row holds more ids than the cap, whatever the cap. The strict
    < drops the (id, id) pairs that duplicate doc_id rows would make."""
    grouped = (
        _capped_bucket_rows_shared(banded, max_bucket_size)
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("__ds"))
        .filter(F.size("__ds") >= 2)
    )
    i = F.col("__i")
    return (
        grouped.select("__ds", F.posexplode("__ds").alias("__i", "doc_a"))
        .select(
            "doc_a",
            F.explode(F.slice("__ds", i + 2, F.size("__ds") - i - 1)).alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs: LSH banding proposes candidates, exact Jaccard
    on shingle sets confirms. Returns (doc_a, doc_b, jaccard), doc_a < doc_b.
    The two hash ``family`` values differ only in WHICH candidates they
    propose; both verify with exact Jaccard, so neither reports a false pair.

    Shuffle profile: one exchange on (band, bucket) whose values are just
    doc ids; the joins that fetch the shingle sets back are by doc_id.
    Candidate count — not corpus size — drives the pair-verification cost.

    ``max_bucket_size`` guards the degenerate-bucket blowup: a corpus with
    a large set of identical/boilerplate documents puts them all in the
    SAME band bucket, and a bucket's candidate pairs are quadratic in its
    size — one 10k-doc bucket is 10^8 candidate rows. Band entries in
    buckets larger than the cap are dropped (the standard LSH guard: such
    groups are exact/boilerplate duplicates, caught by exact dedup or
    boilerplate filters, not near-dup pairing). A capped query collects
    each surviving bucket and emits its pairs one member per row
    (_bucket_pairs); an uncapped one self-joins the band rows. A capped
    bucket's pairs come from one task, so a cap of thousands that meets a
    bucket of thousands of members is slow there (SCALING.md, "Degenerate
    LSH buckets").

    The default is None — UNCAPPED — because a cap silently loses recall on
    genuine >cap near-dup groups with no runtime signal: policy belongs to
    the CALLER. The registered engine queries pass 256; before enabling a
    cap, measure what it would drop with ``lsh_oversized_buckets`` (same
    banding, same HAVING aggregate).

    Storage contract: the RETURNED lazy plan reads the signature table
    from three branches (banding and both verification sides), so the
    table is a lazy checkpoint (_truncate_lineage) that the first branch
    to run fills and the others read. Its blocks live as long as the
    returned plan: ``sources.io.release(result)`` frees them after the
    caller's last action (bench.py does after every query), or the
    ContextCleaner does once the plan is garbage.
    ``spark.catalog.clearCache()`` does not free them.
    """
    _check_family(family, shingle_n)
    # shared, not recomputed: shingling and signatures are the expensive
    # part, and the band explode and both verify sides read them. In a
    # production pipeline this is the signature table written next to the
    # corpus (write_signature_table).
    sigs = _truncate_lineage(
        _with_shingles_and_sig(docs, text_col, id_col, num_hashes, shingle_n, family=family)
    )
    banded = _band_explode(sigs, num_hashes, bands, family=family)
    if max_bucket_size is not None:
        candidates = _bucket_pairs(banded, max_bucket_size)
    else:
        candidates = (
            banded.alias("l")
            .join(
                banded.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
            .distinct()
        )
    sh = sigs.select("doc_id", "sh")
    return _jaccard_verified(candidates, sh, sh, threshold)


def lsh_oversized_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 256,
) -> DataFrame:
    """The observability twin of minhash_lsh_pairs' bucket cap:
    (band, bucket, bucket_size) for every band bucket LARGER than the cap —
    exactly the entries the cap would drop. Run it before (or alongside) a
    capped dedup pass so silent recall loss is a measured number, not a
    surprise: a non-empty result means >cap-sized identical/boilerplate
    groups exist and should be routed through exact dedup instead.

    Same banding plan as minhash_lsh_pairs; the aggregate is
    partial-aggregable, so only (band, bucket, count) rows shuffle."""
    sigs = _with_shingles_and_sig(docs, text_col, id_col, num_hashes, shingle_n)
    return (
        _band_explode(sigs, num_hashes, bands)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    max_iters: int = 20,
    reliable: bool = False,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    label(v) <- min(label(v), min over neighbors' labels), repeated until a
    fixpoint (converges in O(graph diameter) rounds — near-dup graphs are
    shallow: dup chains, not paths). Returns (id, component) where component
    is the smallest reachable id.

    ``edges`` is (src, dst) undirected (symmetrized here); ``vertices`` is
    (id) and must cover every endpoint plus singletons.

    Scale notes: each round is one shuffle (groupBy dst) + one join; lineage
    is truncated per round with an eager localCheckpoint so the plan doesn't
    grow exponentially across iterations. The convergence probe is a
    LIMIT-1 existence check, not a full count. At extreme diameters switch
    to connected_components_star (alternating small-star/large-star, which
    contracts paths in O(log n) rounds) — same per-round shuffle shape.
    ``reliable=True`` swaps the per-round localCheckpoint for a reliable
    checkpoint (see _truncate_lineage / DEPLOYMENT.md § Checkpointing)."""
    # Symmetrize by EXPLODING each edge into its two directions, not by a
    # self-union: a union scans the (usually expensive, un-cached) upstream
    # pair plan once PER BRANCH — for near_dup_clusters, the whole LSH
    # candidate+verify pipeline a second time just to flip the columns. The
    # explode evaluates the upstream exactly once.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .persist()
    )
    # Iterate ONLY over vertices that touch an edge. Singletons are
    # fixpoints by definition (comp == id), and a near-dup pair graph covers
    # a small fraction of the corpus, so carrying them would shuffle O(|V|)
    # labels per round to move O(|touched|) information. They rejoin via
    # the final left join below.
    labels = sym.select(F.col("src").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    for _ in range(max_iters):
        nbr = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # the changed flag rides along in the SAME update join (nbr_comp <
        # comp is exactly "this round lowered a label"), so the convergence
        # probe is a filter over the checkpointed rows — no second join
        stepped = (
            labels.join(nbr, labels.id == nbr.dst, "left")
            .select(
                labels.id,
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
                (F.coalesce("nbr_comp", F.col("comp")) < F.col("comp")).alias("__chg"),
            )
        )
        stepped = _truncate_lineage(stepped, reliable)
        changed = stepped.filter(F.col("__chg")).limit(1).count()
        labels = stepped.drop("__chg")
        if changed == 0:
            break
    sym.unpersist()
    return vertices.select("id").join(labels, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("comp")
    )


def connected_components_star(
    edges: DataFrame,
    vertices: DataFrame,
    max_rounds: int = 30,
    reliable: bool = False,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (the MapReduce CC algorithm of Kiveris et al., 2014): each round rewires
    every node toward the minimum of its neighborhood, contracting path-like
    graphs in O(log n) rounds where plain min-label propagation needs
    O(diameter). Returns (id, component), component = smallest reachable id.

    Use this over ``connected_components`` when the pair graph can be DEEP
    (chained edits, citation/link graphs); for shallow near-dup graphs the
    propagation loop's cheaper rounds win. Demonstrated in
    tests/test_ext.py: a 64-node path converges here in <= 8 alternating
    rounds while propagation needs ~diameter rounds.

    Per round: one groupBy (neighborhood min) + one join back — the same
    shuffle shape as the propagation loop; the edge set only shrinks toward
    the star forest, so round cost is bounded by the current edge count.
    Lineage is truncated per round (eager localCheckpoint); the fixpoint
    probe is a LIMIT-1 set-difference, not a full count."""

    def large_star(e: DataFrame) -> DataFrame:
        # for each u: m = min(neighborhood(u) + {u}); emit (v, m) for v > u
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("nmin"))
        m = F.least(F.col("src"), F.col("nmin"))
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient (hi, lo); for each hi: m = min(lo-neighborhood); emit
        # (v, m) for the other lo-neighbors plus (hi, m)
        ori = e.select(
            F.greatest(F.col("src"), F.col("dst")).alias("src"),
            F.least(F.col("src"), F.col("dst")).alias("dst"),
        )
        mins = ori.groupBy("src").agg(F.min("dst").alias("m"))
        rewired = (
            ori.join(mins, "src")
            .filter(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        return rewired.union(mins.select("src", F.col("m").alias("dst"))).distinct()

    e = _truncate_lineage(
        edges.select(F.col("src"), F.col("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        reliable,
    )
    converged = False
    for _ in range(max_rounds):
        stepped = _truncate_lineage(small_star(large_star(e)), reliable)
        # fixpoint: the (distinct) edge set no longer changes
        if (
            stepped.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(stepped).limit(1).count() == 0
        ):
            e = stepped
            converged = True
            break
        e = stepped
    if not converged:
        # A non-converged edge set need not be a star forest — a
        # vertex can still hold multiple outgoing edges, and joining on it
        # would emit duplicate (id, comp) rows (silently wrong cardinality).
        # Surface the budget exhaustion loudly; the min-collapse below then
        # degrades to stale-but-unique labels, matching connected_components'
        # failure mode.
        warnings.warn(
            f"connected_components_star: round budget ({max_rounds}) exhausted "
            "before edge-set fixpoint; labels may be stale (not fully merged). "
            "Raise max_rounds.",
            stacklevel=2,
        )
    # star forest: every edge is (child, root); singletons label themselves.
    # The groupBy collapses to ONE row per vertex — free on a converged star
    # forest (already unique) and the cardinality guard when it is not.
    roots = e.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("comp"))
    return vertices.select("id").join(roots, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("comp")
    )


def near_dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_iters: int = 20,
    max_bucket_size: int | None = None,
    reliable: bool = False,
    family: str = "xxhash64",
) -> DataFrame:
    """Transitive near-dup clustering: connected components over the
    MinHash-LSH pair graph. Returns (doc_id, cluster_id); cluster_id is the
    smallest doc id in the cluster (singletons map to themselves). This is
    the policy real pretraining dedup needs — A~B and B~C put A and C in one
    cluster even when A~C is below threshold."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import release

    pairs = minhash_lsh_pairs(
        docs, text_col=text_col, id_col=id_col, threshold=threshold,
        max_bucket_size=max_bucket_size, family=family,
    )
    verts = docs.select(F.col(id_col).alias("id"))
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        verts,
        max_iters,
        reliable=reliable,
    )
    # every round ran before connected_components returned, and the result
    # reads the last round's labels, not the pairs: the signature table's
    # blocks can go now
    release(pairs)
    return comp.select(F.col("id").alias(id_col), F.col("comp").alias("cluster_id"))


def near_dedup_transitive(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Near-duplicate REMOVAL keeping ONE doc per transitive cluster (the
    cluster's smallest id), vs near_dedup_canonical's pairwise
    drop-if-smaller-partner policy."""
    clusters = near_dup_clusters(
        docs, text_col=text_col, id_col=id_col, threshold=threshold,
        max_bucket_size=max_bucket_size, reliable=reliable,
    )
    survivors = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return docs.join(survivors, on=id_col, how="left_semi")


def near_dedup_canonical(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate REMOVAL: drop every document that has a near-dup
    partner with a smaller id (the standard single-pass policy used by
    pre-training dedup pipelines; full transitive clustering would need an
    iterative connected-components pass). Survivors = docs that are nobody's
    higher-id near-dup."""
    pairs = minhash_lsh_pairs(
        docs, text_col=text_col, id_col=id_col, threshold=threshold,
        max_bucket_size=max_bucket_size, family=family,
    )
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# X-2b: exact n-gram Jaccard similarity join (the oracle-checkable variant)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 1,
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard similarity join via an inverted index — the
    classic set-similarity join. SQL-expressible, so oracle-checkable.

    ``max_token_df`` is the frequent-token pruning cap: tokens whose document
    frequency exceeds it are dropped from the inverted index BEFORE the
    self-join, bounding candidate blow-up (a token in k docs yields k(k-1)/2
    candidate rows; one hot stopword makes the join quadratic in corpus
    size). Pruning affects only candidate GENERATION — surviving pairs are
    verified with exact Jaccard over the FULL token sets, so every reported
    pair's score is exact. The (rare) pair whose shared tokens are all
    frequent is missed; that trade is the standard prefix-filtering one.

    With ``max_token_df=None`` no pruning happens and the intersection is
    counted directly on the inverted-index join (no token-array shuffle) —
    fine for bounded subsets, quadratic on hot tokens at scale."""
    toks_arr = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(tokens(normalized_text(F.col(text_col)))).alias("toks"),
    )
    tok = toks_arr.select("doc_id", F.explode("toks").alias("tok"))

    if max_token_df is not None:
        # document frequency per token, computed map-side-combinable; the
        # surviving index is what self-joins (cost ∝ sum df² over kept tokens)
        keep = tok.groupBy("tok").agg(F.count("*").alias("df")).filter(
            F.col("df") <= max_token_df
        )
        pruned = tok.join(keep.select("tok"), "tok", "left_semi")
        candidates = (
            pruned.alias("a")
            .join(
                pruned.alias("b"),
                (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        return _jaccard_verified(candidates, toks_arr, toks_arr, threshold)

    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    shared = (
        tok.alias("a")
        .join(tok.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_tok", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_tok", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def cross_corpus_jaccard(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact cross-corpus token-set Jaccard — the oracle-checkable twin of
    cross_corpus_neardup (same continual-pretraining shape: dedup an
    incoming crawl against the already-trained corpus): candidate pairs come
    from the shared-token inverted index joined ACROSS sides only, so the
    quadratic within-side pair sets are never materialized; survivors are
    verified with exact Jaccard over the full token sets. Returns
    (doc_id, match_id, jaccard) — one row per new doc x matched existing doc.

    ``max_token_df`` prunes tokens whose document frequency over the
    COMBINED corpus exceeds the cap before candidate generation (same
    prefix-filtering trade as ngram_jaccard_pairs)."""
    def _toks(docs: DataFrame, out_id: str) -> DataFrame:
        return docs.select(
            F.col(id_col).alias(out_id),
            F.array_distinct(tokens(normalized_text(F.col(text_col)))).alias("toks"),
        )

    ta = _toks(new_docs, "doc_id")
    tb = _toks(existing_docs, "match_id")
    tok_a = ta.select("doc_id", F.explode("toks").alias("tok"))
    tok_b = tb.select("match_id", F.explode("toks").alias("tok"))
    if max_token_df is not None:
        keep = (
            tok_a.select("tok")
            .unionAll(tok_b.select("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_token_df)
            .select("tok")
        )
        tok_a = tok_a.join(keep, "tok", "left_semi")
        tok_b = tok_b.join(keep, "tok", "left_semi")
    candidates = tok_a.join(tok_b, "tok").select("doc_id", "match_id").distinct()
    return _jaccard_verified(candidates, ta, tb, threshold)


# ---------------------------------------------------------------------------
# X-2c: SimHash near-dup
# ---------------------------------------------------------------------------


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


_BIT_MASKS = [_signed64(1 << i) for i in range(64)]


def simhash(text_col: Column, family: str = "xxhash64") -> Column:
    """SimHash: per token hash, sum signs per bit position, sign -> bit.
    64-bit over xxhash64 token hashes; 60-bit over md5 ones, so with md5
    every mask and signature is positive in signed 64-bit and
    shifts/AND/bit_count behave identically in every engine. ONE pass over
    the token hashes with an array-of-bits sign-count accumulator (a fold
    per bit would traverse the array once per bit)."""
    _check_family(family)
    bits = _SIMHASH_BITS[family]
    toks = F.array_distinct(tokens(normalized_text(text_col)))
    hashes = F.transform(toks, lambda t: _token_hash(t, family))
    masks = F.lit(_BIT_MASKS[:bits]).cast("array<long>")

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)),
            lambda a, b: a + b,
        ),
    )
    # bits with positive sign-count -> set; masks are disjoint so OR == +
    return F.aggregate(
        F.zip_with(masks, counts, lambda m, c: F.when(c > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, m: acc.bitwiseOR(m),
    )


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int = 4,
    family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming. Banding on
    signature chunks (16-bit for xxhash64, 15-bit for md5 at 4 bands;
    pigeonhole: any pair within distance 3 shares a chunk for 4 bands;
    wider distances still mostly collide) prunes the self-join."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import spread

    _check_family(family)
    # both sides of the band self-join read one lazy checkpoint, so the
    # signatures are computed once; its blocks live as long as the
    # returned plan (storage contract as minhash_lsh_pairs)
    sigs = _truncate_lineage(
        spread(docs, id_col)
        .select(F.col(id_col).alias("doc_id"), simhash(F.col(text_col), family).alias("sig"))
    )
    chunk_bits = _SIMHASH_BITS[family] // bands
    mask = (1 << chunk_bits) - 1
    banded = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * chunk_bits).bitwiseAND(F.lit(mask)).alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.chunk")
    pairs = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def write_signature_table(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    corpus: str | None = None,
    family: str = "xxhash64",
) -> None:
    """Materialize the MinHash signature table next to the corpus — the
    LSH twin of build_ivf_index / pq_build_index: shingling + signatures are
    the dominant dedup cost, and they're computed ONCE at ingest, not per
    dedup run. Stored as (doc_id, sh, sig); every later crawl increment
    dedups against the stored table without touching the existing corpus's
    text (cross_corpus_neardup_indexed).

    Build parameters are persisted in a one-row parquet sidecar at
    ``path``/_params (underscore-prefixed => invisible to the table's own
    readers, like _SUCCESS): querying a signature table with different
    num_hashes/shingle_n than it was built with silently degrades recall
    (mismatched banding) or compares wrong-granularity Jaccard, so
    cross_corpus_neardup_indexed asserts equality on read.
    The sidecar also records the hash ``family``: banding a table of one
    family with the other family's buckets finds NOTHING in common, the
    worst silent-recall failure, so queries assert it. An md5 table makes
    the whole incremental crawl-dedup path hash-checkable in DuckDB:
    stored signatures, increment signatures, band buckets, cross-side
    candidates, exact-Jaccard verdicts.
    The overwrite runs in the table's leased section (streaming.fs.leased;
    the lease sits in a sibling ``<path>.lock`` dir, because
    mode('overwrite') would delete an in-dir lease mid-build), so
    concurrent rebuilds cannot interleave their files.

    ``corpus``: when given, the build
    auto-registers the table in the corpus' derived-store registry
    (takedown.register_store, kind 'signature') so no-args takedown /
    takedown_verify cover it without a manual registration step."""
    _check_family(family, shingle_n)
    with mfs.leased(mfs.LOCAL_FS, ic.store("signature", path).lease):
        _with_shingles_and_sig(
            docs, text_col, id_col, num_hashes, shingle_n, family=family
        ).write.mode("overwrite").parquet(path)
        _write_sig_params(docs.sparkSession, path, num_hashes, shingle_n, family)
    if corpus is not None:
        from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown

        takedown.register_store(corpus, path, "signature")


def _write_sig_params(
    spark, path: str, num_hashes: int, shingle_n: int, family: str
) -> None:
    spark.createDataFrame(
        [(int(num_hashes), int(shingle_n), family)],
        "num_hashes int, shingle_n int, family string",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/_params")


def _sig_params(spark, sig_path: str) -> tuple[int, int, str]:
    """(num_hashes, shingle_n, family) from the table's ``_params``
    sidecar, which write_signature_table always writes. A table without
    the sidecar or its family raises: neither can be checked, and a silent
    mismatch is silent recall loss."""
    from pyspark.errors import AnalysisException

    try:
        stored = spark.read.parquet(sig_path + "/_params").first().asDict()
    except AnalysisException:  # no sidecar
        stored = {}
    if "family" not in stored:
        raise ValueError(
            f"signature table at {sig_path} has no _params sidecar with a "
            "hash family; rebuild it with write_signature_table"
        )
    return int(stored["num_hashes"]), int(stored["shingle_n"]), stored["family"]


def _check_signature_params(
    spark, sig_path: str, num_hashes: int, shingle_n: int, family: str = "xxhash64"
) -> None:
    """Raise loudly when query-time LSH parameters differ from the ones the
    signature table was built with. Silent mismatch = silent recall loss,
    never acceptable. The hash ``family`` is the worst case — cross-family
    banding shares NO buckets, zero recall — so it's asserted too."""
    have_hashes, have_n, have_family = _sig_params(spark, sig_path)
    if have_hashes != num_hashes or have_n != shingle_n:
        raise ValueError(
            f"signature table at {sig_path} was built with "
            f"num_hashes={have_hashes}, shingle_n={have_n} "
            f"but the query passed num_hashes={num_hashes}, shingle_n={shingle_n}; "
            "mismatched parameters silently degrade recall / compare "
            "wrong-granularity Jaccard — rebuild the table or match the "
            "build parameters"
        )
    if have_family != family:
        raise ValueError(
            f"signature table at {sig_path} was built with the "
            f"'{have_family}' hash family but the query uses '{family}'; "
            "cross-family band buckets never collide (zero recall) — pass "
            f"family='{have_family}' or rebuild the table"
        )


def _cross_candidates(both: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """(doc_id, match_id) candidates from tagged band rows ``both``: one
    row per (band, bucket) membership, (band, bucket, __side, __id) with
    __side 1 for the new corpus and 0 for the existing one. Pairs are kept
    only ACROSS sides, so the quadratic within-side pair sets never
    materialize.

    Uncapped: a new x old join on (band, bucket). Capped: the cap is judged
    on each bucket's COMBINED population (_capped_bucket_rows_shared), one
    groupBy collects a surviving bucket's new and old ids (collect_list
    skips the NULLs each side's ``when`` makes), and the pairs come out one
    member per row: explode the new ids, then the old ones. No generated
    row holds more ids than the cap, whatever the cap."""
    if max_bucket_size is None:
        def side(tag: int, id_name: str) -> DataFrame:
            return both.filter(F.col("__side") == tag).select(
                F.col("__id").alias(id_name), "band", "bucket"
            )

        return (
            side(1, "doc_id")
            .join(side(0, "match_id"), ["band", "bucket"])
            .select("doc_id", "match_id")
            .distinct()
        )
    grouped = (
        _capped_bucket_rows_shared(both, max_bucket_size)
        .groupBy("band", "bucket")
        .agg(
            F.collect_list(F.when(F.col("__side") == 1, F.col("__id"))).alias("__new"),
            F.collect_list(F.when(F.col("__side") == 0, F.col("__id"))).alias("__old"),
        )
        .filter((F.size("__new") >= 1) & (F.size("__old") >= 1))
    )
    return (
        grouped.select(F.explode("__new").alias("doc_id"), "__old")
        .select("doc_id", F.explode("__old").alias("match_id"))
        .distinct()
    )


def cross_corpus_neardup_indexed(
    new_docs: DataFrame,
    spark,
    sig_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    reliable: bool = False,
    family: str = "xxhash64",
) -> DataFrame:
    """Incremental crawl dedup against a MATERIALIZED signature table
    (write_signature_table): only the NEW side is shingled; the existing
    corpus arrives as stored (doc_id, sh, sig) rows — its text is never
    re-read or re-processed. Same cross-side-only banding as
    cross_corpus_neardup (within-side pair sets never materialize), same
    exact-Jaccard verification, so results match the unindexed operator on
    identical inputs (pinned in tests). Returns (doc_id, match_id, jaccard).

    This is the steady-state 100 TB ingestion shape: per increment, cost =
    shingle the increment + one band join against the stored table. Raises
    when num_hashes/shingle_n/``family`` differ from the table's build
    parameters (the _params sidecar written by write_signature_table)."""
    _check_family(family, shingle_n)
    _check_signature_params(spark, sig_path, num_hashes, shingle_n, family)
    # lazy lineage truncation, not persist (a persisted frame leaks
    # storage unless every caller unpersists it): materializes the
    # increment's signatures ONCE for the two consumers below (banding +
    # exact-Jaccard verify), and the blocks are released by the
    # ContextCleaner when the returned plan is dropped — no
    # caller-must-unpersist contract
    new_sigs = _truncate_lineage(
        _with_shingles_and_sig(
            new_docs, text_col, id_col, num_hashes, shingle_n, family=family
        ),
        reliable,
    )
    # taken-down docs' stored signatures are anti-joined out before
    # banding, so erased content never matches
    old_sigs = ic.read_live(spark, ic.store("signature", sig_path), "")

    def tagged(sigs: DataFrame, tag: int) -> DataFrame:
        return _band_explode(sigs, num_hashes, bands, family=family).select(
            "band", "bucket", F.lit(tag).alias("__side"), F.col("doc_id").alias("__id")
        )

    candidates = _cross_candidates(
        tagged(new_sigs, 1).unionAll(tagged(old_sigs, 0)), max_bucket_size
    )
    return _jaccard_verified(
        candidates,
        new_sigs.select("doc_id", "sh"),
        old_sigs.select("doc_id", "sh"),
        threshold,
    )


def cross_corpus_neardup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    family: str = "xxhash64",
) -> DataFrame:
    """Cross-corpus near-dedup: which NEW documents are near-duplicates of
    anything in the EXISTING corpus (continual-pretraining ingestion: dedup
    an incoming crawl against the already-trained set without re-pairing the
    existing corpus with itself).

    Same MinHash-LSH plan as minhash_lsh_pairs over the tagged union, but
    pairs are kept only ACROSS sides — the quadratic within-side pair sets
    are never materialized (_cross_candidates). Returns (doc_id, match_id,
    jaccard): one row per new doc x matched existing doc above threshold;
    dedup the new corpus with an anti-join on distinct doc_id.

    ids must be unique WITHIN each side; across sides they may collide (the
    side tag disambiguates). Storage contract as minhash_lsh_pairs: the
    signature table is a lazy checkpoint that the band scan and both
    verify sides read, and its blocks live as long as the returned plan;
    ``sources.io.release(result)`` frees them after the last action.
    """
    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import spread

    _check_family(family, shingle_n)
    tagged = new_docs.select(
        F.lit(1).alias("__side"), F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).unionByName(
        existing_docs.select(
            F.lit(0).alias("__side"), F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    )
    sigs = _truncate_lineage(
        spread(tagged, "doc_id")
        .select(
            "__side",
            "doc_id",
            _shingle_hashes(F.col("text"), shingle_n, family).alias("sh"),
        )
        .withColumn("sig", minhash_int_signature(F.col("sh"), num_hashes))
    )
    banded = _band_explode(sigs, num_hashes, bands, "__side", family=family)
    candidates = _cross_candidates(
        banded.select("band", "bucket", "__side", F.col("doc_id").alias("__id")),
        max_bucket_size,
    )
    return _jaccard_verified(
        candidates,
        sigs.filter(F.col("__side") == 1).select("doc_id", "sh"),
        sigs.filter(F.col("__side") == 0).select("doc_id", "sh"),
        threshold,
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): embedding-space near-dup removal with the
# quadratic pair work CONFINED TO k-means clusters (Abbas et al., 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", arXiv:2303.09540).
# ---------------------------------------------------------------------------


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    threshold: float = 0.8,
    max_iters: int = 5,
    max_cluster_size: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Drop every item that has a LOWER-id neighbor with cosine >=
    ``threshold`` inside its k-means cluster; return the survivors (the
    lowest-id representative of each semantic near-dup group survives, plus
    everything unpaired). This is the SemDeDup recipe: all-pairs cosine over
    a web-scale corpus is O(n^2) and impossible, but near-dups co-locate in
    embedding-space clusters, so clustering first confines the quadratic
    term to O(sum of cluster^2) — pick k so the expected cluster size is
    bounded (k ~ n/1e4 keeps clusters ~1e4 at any corpus size, i.e. ~1e8
    in-cluster pairs per cluster worst case, embarrassingly parallel across
    clusters).

    ``max_cluster_size`` is the degenerate-cluster guard — the SAME blowup
    class as the LSH boilerplate bucket (minhash_lsh_pairs): a corpus with
    a mass of identical/near-identical embeddings (empty docs, a template
    page) collapses them into ONE cluster whose pair term is quadratic in
    the mass (10^5 copies = 5·10^9 pairs). Clusters above the cap are
    EXCLUDED from pairing (their rows all survive — no pairs means no
    drops) because such masses are exact-duplicate shaped and belong to
    exact/embedding-hash dedup, not pairwise cosine. Like the LSH cap, the
    default is None — UNCAPPED — because a cap silently loses recall on
    genuine >cap near-dup groups: policy belongs to the caller, and
    ``semantic_oversized_clusters`` measures what a cap would exclude
    before you enable it.

    Determinism/oracle notes: clustering uses round_decimals=6 (engine-
    portable centroids — see clustering.kmeans), and the cosine is ROUNDED
    to 6 decimals BEFORE the threshold compare so the keep/drop decision at
    the boundary cannot flip on cross-engine last-ulp noise. The DuckDB twin
    re-derives clusters and pairs end-to-end (plans/oracle_vec.py
    semantic_dedup_sql)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import (
        clustering,
        similarity,
    )

    assigned, _ = clustering.kmeans(
        df, vec_col=vec_col, id_col=id_col, k=k, max_iters=max_iters,
        round_decimals=6,
    )
    # per-ROW norm, computed once before the self-join: the pair stage then
    # pays ONE dot product per pair instead of three (cosine's two norm
    # dots re-derived per pair tripled the dominant quadratic FLOPs).
    # sqrt-per-side then multiply keeps the arithmetic bit-identical to
    # cosine's sqrt(aa)*sqrt(bb), so the rounded-6 compare (and the DuckDB
    # twin) are unchanged.
    vec = F.col(vec_col).cast("array<double>")
    slim = assigned.select(
        F.col(id_col).alias("__id"),
        "cluster",
        F.col(vec_col).alias("__v"),
        F.sqrt(
            F.aggregate(
                F.zip_with(vec, vec, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, p: acc + p,
            )
        ).alias("__n"),
    )
    # slim is read twice by the pair self-join (a and b) and a third time by
    # the capped path's size census; lineage truncation materializes the
    # scan + assignment + norm ONCE instead of re-running them per consumer,
    # capped or not. Blocks live until the checkpointed RDD is GC'd (the
    # returned plan holds a reference);
    # ``reliable=True`` survives executor decommissioning (_truncate_lineage).
    slim = _truncate_lineage(slim, reliable)
    if max_cluster_size is not None:
        over = (
            slim.groupBy("cluster")
            .agg(F.count("*").alias("__csz"))
            .filter(F.col("__csz") > max_cluster_size)
            .select("cluster")
        )
        # the census shuffles only k partially-combined count rows, and
        # `over` (at most k rows) rides a broadcast anti join
        slim = slim.join(F.broadcast(over), "cluster", "left_anti")
    a = slim.select(
        F.col("__id").alias("__a"), "cluster",
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = slim.select(
        F.col("__id").alias("__b"), "cluster",
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    cos = F.round(
        similarity._dot_exact(F.col("__va"), F.col("__vb"))
        / (F.col("__na") * F.col("__nb")),
        6,
    )
    drops = (
        a.join(b, "cluster")  # pair shuffle keyed on cluster — never global
        .filter(F.col("__a") < F.col("__b"))
        # NaN guard: a zero-norm embedding makes cosine 0/0 = NaN, and
        # Spark orders NaN ABOVE every number, so a bare
        # `>= threshold` would declare a zero vector a near-dup of its whole
        # cluster and silently drop unrelated rows. A degenerate vector is
        # never a duplicate of anything. The DuckDB twin carries its OWN
        # explicit `NOT isnan` guard (plans/oracle_vec.semantic_dedup_sql):
        # 0/0 is NULL on DuckDB 1.0 but NaN under newer
        # ieee_floating_point_ops defaults, so neither side relies on
        # division semantics — do not remove either guard.
        .filter(~F.isnan(cos) & (cos >= threshold))
        .select(F.col("__b").alias(id_col))
        .distinct()
    )
    return df.join(drops, id_col, "left_anti")


def semantic_oversized_clusters(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_cluster_size: int = 10_000,
    max_iters: int = 5,
) -> DataFrame:
    """Observability twin of semantic_dedup's ``max_cluster_size`` cap
    (mirrors dedup.lsh_oversized_buckets): the clusters a cap would exclude
    from pairing, with their sizes — run this BEFORE enabling a cap to see
    exactly what recall you are trading away. Returns (cluster,
    cluster_size) for clusters above the cap."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators import clustering

    assigned, _ = clustering.kmeans(
        df, vec_col=vec_col, id_col=id_col, k=k, max_iters=max_iters,
        round_decimals=6,
    )
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") > max_cluster_size)
    )


def append_signature_table(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    fs=None,
    lease_owner: str | None = None,
    coalesce_files: int = 8,
) -> int:
    """Incremental signature maintenance — the crawl-loop closer: after an
    increment is deduped against the stored table
    (cross_corpus_neardup_indexed), its surviving docs' signatures append
    HERE, so the NEXT increment dedups against base + all prior increments.
    Cost is O(batch) shingling plus the append write — the existing
    corpus's text and signatures are never re-read, keeping steady-state
    ingest flat in corpus size (SCALING.md's measured property).

    Parameters (num_hashes, shingle_n, hash family) are read FROM the
    table's ``_params`` sidecar — an append cannot be mis-parameterized the
    way a query can, it simply computes whatever the table stores. An
    unknown family, or md5 with a shingle_n other than 3, raises
    ValueError, as does a table without a sidecar (an append cannot
    guess).

    A staged append under the table's lease (operators/index_commit):
    readers never see a torn batch, and ``index_commit.recover`` heals a
    crash. Returns rows appended, observed on the same evaluation as the
    write.

    Each append lands at most ``coalesce_files`` parquet files: the
    signature plan otherwise inherits the session's parallelism, and a
    tiny increment would land ~32 part files. Raise it for genuinely large
    increments; ``index_commit.compact`` rewrites a fragmented table."""
    fs = fs or mfs.LOCAL_FS
    spark = new_docs.sparkSession
    st = ic.store("signature", path)
    with mfs.leased(fs, st.lease, lease_owner):
        num_hashes, shingle_n, family = _sig_params(spark, path)
        _check_family(family, shingle_n)
        sigs = _with_shingles_and_sig(
            new_docs, text_col, id_col, num_hashes, shingle_n, family=family
        )
        # repartition, not coalesce: coalesce would cap the parallelism of
        # the whole shingling/minhash plan at coalesce_files tasks; the
        # shuffle moves only (doc_id, sh, sig) rows
        sigs, obs = ic.counted(sigs.repartition(int(coalesce_files)))
        ic.staged_append(fs, st, [""], sigs.write.parquet)
    return int(obs.get["n"])
