"""DuckDB oracle SQL builders for the vector/ANN registry entries
(VERDICT r4 item 2: upgrade rows-only approximate operators to hash-checked
oracles).

These generate SELF-CONTAINED ANSI-ish SQL over the pre-registered
``embeddings`` view — no sidecar files, no baked-in data — so the same
string is valid at every scale factor the harness pairs it with (tests run
sf0.001, the driver runs sf0.01).

The interesting one is k-means: Lloyd's algorithm is iterative, so the
oracle UNROLLS the iterations as a CTE chain (c0 -> c1 -> ... -> c_T), each
step = assign (argmin over the previous centroids, ties to the lowest
cluster) + update (per-dimension mean of assigned points, empty clusters
keep their centroid) + the same early-stop rule the engine uses (once the
max squared centroid shift drops below tol, later steps freeze). Cross-
engine reproducibility comes from the engine's ``round_decimals=6``
centroid quantization (operators/clustering.py): double partial-sum order
differs between Spark and DuckDB only at the last few ulps, and rounding to
1e-6 collapses both to identical centroids, so assignments and summaries
match bit-for-bit after the shared ROUND(..., 6) on outputs.

The PQ oracle composes the same unrolled k-means once per subspace (over
the deterministic md5-bucket training sample), then encodes the full corpus
and scores the query's asymmetric distance table — DuckDB independently
re-derives the codebooks AND the codes, so a regression anywhere in the
train/encode/score pipeline shows up as a hash mismatch.

LSH-ANN bakes the deterministic LCG hyperplanes (operators/similarity
._hyperplanes — pure Python, no Spark needed) as literals; IVF recomputes
the per-cell mean centroids with the same exact-decimal sums the engine
uses.
"""

from __future__ import annotations

from tesla_competitive_intelligence_etl_pipeline_spark.operators.similarity import (
    _hyperplanes,
)

# stable_bucket's DuckDB twin (documented in operators/sampling.py)
_BUCKET = "CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % {n}"

# DuckDB twin of text.normalized_text (kept local — registry_ext imports
# THIS module, so importing its copy back would be circular)
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^\\w\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)

# the minhash affine family's constants — mirrored from
# operators/dedup._MINHASH_A / minhash_int_signature
_MINHASH_A = [
    0x9E3779B97F4A7C15,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x27D4EB2F165667C5,
]
_T64 = 1 << 64
_H63 = 1 << 63


def _md5_long60_sql(expr: str) -> str:
    """DuckDB twin of dedup._md5_long60 (60-bit md5 prefix as BIGINT)."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_lsh_portable_sql(
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> str:
    """Oracle for x2_minhash_lsh_portable: the FULL MinHash-LSH pipeline in
    SQL — md5-derived 60-bit shingle hashes, the same affine min-hash family
    (signed-64 wrap arithmetic done in HUGEINT mod 2^64, bit-identical to
    Spark's long overflow), md5 band buckets, the band self-join candidate
    set, and exact-Jaccard verification. This is what upgrades the LSH
    pair-finding class from rows-only: dedup.minhash_lsh_pairs with
    ``family="md5"`` uses only engine-portable hashes, so DuckDB re-derives
    the identical candidate set and pair list."""
    rows_per_band = num_hashes // bands
    assert shingle_n == 3, "SQL builder is written for trigram shingles"

    mins = []
    for j in range(num_hashes):
        a = _MINHASH_A[j % len(_MINHASH_A)] | 1
        b = (j * 0x9E3779B97F4A7C15 + 0x85EBCA77C2B2AE63) % _T64
        mins.append(
            f"list_min(list_transform("
            f"list_transform(sh, x -> (CAST({a} AS HUGEINT) * x + {b} + {j}) % {_T64}), "
            f"u -> CAST(CASE WHEN u >= {_H63} THEN u - {_T64} ELSE u END AS BIGINT)))"
        )
    sig_list = "[" + ", ".join(mins) + "]"

    band_ids = "[" + ", ".join(str(b) for b in range(bands)) + "]"
    buckets = []
    for b in range(bands):
        joined = ", ".join(
            f"CAST(sig[{b * rows_per_band + r + 1}] AS VARCHAR)"
            for r in range(rows_per_band)
        )
        buckets.append(_md5_long60_sql(f"concat_ws('|', {joined})"))
    bucket_list = "[" + ", ".join(buckets) + "]"

    return f"""
WITH d AS (
  SELECT doc_id, string_split_regex({_NORM_SQL.format(c="text")}, '\\s+') AS t
  FROM documents
),
shs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE [array_to_string(t, ' ')] END),
           g -> {_md5_long60_sql("g")}) AS sh
  FROM d
),
sigs AS (SELECT doc_id, sh, {sig_list} AS sig FROM shs),
banded AS (
  SELECT doc_id, unnest({band_ids}) AS band, unnest({bucket_list}) AS bucket
  FROM sigs
),
cand AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l
  JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
               / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
  FROM (
    SELECT c.doc_a, c.doc_b, a.sh AS sa, b.sh AS sb
    FROM cand c
    JOIN shs a ON a.doc_id = c.doc_a
    JOIN shs b ON b.doc_id = c.doc_b)
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {threshold!r}"""


def _dot(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cosine(a: str, b: str, dim: int) -> str:
    return (
        f"ROUND({_dot(a, b, dim)} / "
        f"(sqrt({_dot(a, a, dim)}) * sqrt({_dot(b, b, dim)})), 6)"
    )


def _kmeans_ctes(
    pfx: str,
    exp_cte: str,
    seed_src: str,
    k: int,
    iters: int,
    tol: float,
    rd: int,
) -> str:
    """CTE chain for one unrolled k-means run.

    ``exp_cte``: name of a CTE with (vec_id, pos, val) rows — the vectors to
    cluster, pos 1-based. ``seed_src``: name of a CTE with the candidate
    seed (vec_id) rows (the training set). Produces ``{pfx}c{iters}`` =
    final (cluster, pos, c) centroids, mirroring operators/clustering.kmeans
    with round_decimals=rd: md5-stable-bucket seeding, argmin assignment
    with ties to the lowest cluster, per-dimension mean update, empty
    clusters keep their centroid, early stop frozen once max shift < tol."""
    out = [
        f"""
{pfx}sd AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY bucket, vec_id) - 1 AS INTEGER) AS cluster,
         vec_id
  FROM (SELECT vec_id, {_BUCKET.format(key="vec_id", n=1 << 31)} AS bucket
        FROM {seed_src})
  ORDER BY bucket, vec_id LIMIT {k}
),
{pfx}c0 AS (
  SELECT s.cluster, e.pos, ROUND(e.val, {rd}) AS c
  FROM {pfx}sd s JOIN {exp_cte} e USING (vec_id)
),
{pfx}f0 AS (SELECT FALSE AS frozen)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        out.append(
            f""",
{pfx}a{i} AS (
  SELECT e.vec_id, c.cluster, SUM((e.val - c.c) * (e.val - c.c)) AS d
  FROM {exp_cte} e JOIN {pfx}c{p} c USING (pos)
  GROUP BY e.vec_id, c.cluster
),
{pfx}w{i} AS (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
  FROM {pfx}a{i}
),
{pfx}n{i} AS (
  SELECT w.cluster, e.pos, ROUND(SUM(e.val) / COUNT(*), {rd}) AS c
  FROM (SELECT vec_id, cluster FROM {pfx}w{i} WHERE rn = 1) w
  JOIN {exp_cte} e USING (vec_id)
  GROUP BY w.cluster, e.pos
),
{pfx}m{i} AS (
  SELECT o.cluster, o.pos, o.c AS cold, COALESCE(n.c, o.c) AS cnew
  FROM {pfx}c{p} o LEFT JOIN {pfx}n{i} n ON n.cluster = o.cluster AND n.pos = o.pos
),
{pfx}s{i} AS (
  SELECT MAX(sq) AS mshift FROM (
    SELECT cluster, SUM((cnew - cold) * (cnew - cold)) AS sq
    FROM {pfx}m{i} GROUP BY cluster)
),
{pfx}c{i} AS (
  SELECT cluster, pos,
         CASE WHEN (SELECT frozen FROM {pfx}f{p}) THEN cold ELSE cnew END AS c
  FROM {pfx}m{i}
),
{pfx}f{i} AS (
  SELECT (SELECT frozen FROM {pfx}f{p})
         OR (SELECT mshift FROM {pfx}s{i}) < {tol!r} AS frozen
)"""
        )
    return "".join(out)


_EXP = """
exp AS (
  SELECT vec_id, pos, CAST(uval AS DOUBLE) AS val FROM (
    SELECT vec_id, unnest(embedding) AS uval,
           unnest(range(1, len(embedding) + 1)) AS pos
    FROM embeddings)
)"""


def kmeans_summary_sql(
    k: int = 8, iters: int = 5, tol: float = 1e-6, rd: int = 6
) -> str:
    """Oracle for x3_kmeans_clusters: full unrolled Lloyd over the
    embeddings view, then the per-cluster (n, mean squared distance)
    summary under the FINAL centroids — verifying every point's assignment
    is the argmin over those centroids, exactly as VERDICT r4 asked."""
    return (
        "WITH "
        + _EXP
        + ","
        + _kmeans_ctes("", "exp", "embeddings", k, iters, tol, rd)
        + f""",
af AS (
  SELECT e.vec_id, c.cluster, SUM((e.val - c.c) * (e.val - c.c)) AS d
  FROM exp e JOIN c{iters} c USING (pos)
  GROUP BY e.vec_id, c.cluster
),
wf AS (
  SELECT vec_id, cluster, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
  FROM af
)
SELECT cluster, COUNT(*) AS n, ROUND(AVG(d), 6) AS mean_sq_dist
FROM wf WHERE rn = 1
GROUP BY cluster ORDER BY cluster"""
    )


def minhash_canonical_portable_sql(
    threshold: float = 0.5, num_hashes: int = 32, bands: int = 8
) -> str:
    """Oracle for x2_near_dedup_canonical_portable: survivors of the
    drop-smaller-id-partner policy over the portable pair set — reuses the
    full portable-LSH pipeline SQL and anti-joins the doc_b side."""
    pairs = minhash_lsh_portable_sql(threshold, num_hashes, bands)
    return f"""
WITH p AS ({pairs})
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_b FROM p)"""


def _portable_side_ctes(pfx: str, src_sql: str, num_hashes: int, bands: int) -> str:
    """CTE fragment deriving ``{pfx}shs`` (doc_id, portable shingle hashes)
    and ``{pfx}banded`` (doc_id, band, bucket) for ONE corpus side whose
    rows come from ``src_sql`` (must yield doc_id, text) — the per-side
    building block of the cross-corpus portable oracle, mirroring
    dedup._shingle_hashes + minhash_int_signature + _band_explode, each
    with ``family="md5"``."""
    rows_per_band = num_hashes // bands
    mins = []
    for j in range(num_hashes):
        a = _MINHASH_A[j % len(_MINHASH_A)] | 1
        b = (j * 0x9E3779B97F4A7C15 + 0x85EBCA77C2B2AE63) % _T64
        mins.append(
            f"list_min(list_transform("
            f"list_transform(sh, x -> (CAST({a} AS HUGEINT) * x + {b} + {j}) % {_T64}), "
            f"u -> CAST(CASE WHEN u >= {_H63} THEN u - {_T64} ELSE u END AS BIGINT)))"
        )
    sig_list = "[" + ", ".join(mins) + "]"
    band_ids = "[" + ", ".join(str(b) for b in range(bands)) + "]"
    buckets = []
    for b in range(bands):
        joined = ", ".join(
            f"CAST(sig[{b * rows_per_band + r + 1}] AS VARCHAR)"
            for r in range(rows_per_band)
        )
        buckets.append(_md5_long60_sql(f"concat_ws('|', {joined})"))
    bucket_list = "[" + ", ".join(buckets) + "]"
    return f"""
{pfx}d AS (
  SELECT doc_id, string_split_regex({_NORM_SQL.format(c="text")}, '\\s+') AS t
  FROM ({src_sql})
),
{pfx}shs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                  ELSE [array_to_string(t, ' ')] END),
           g -> {_md5_long60_sql("g")}) AS sh
  FROM {pfx}d
),
{pfx}sigs AS (SELECT doc_id, sh, {sig_list} AS sig FROM {pfx}shs),
{pfx}banded AS (
  SELECT doc_id, unnest({band_ids}) AS band, unnest({bucket_list}) AS bucket
  FROM {pfx}sigs
)"""


def cross_corpus_indexed_portable_sql(
    threshold: float = 0.5, num_hashes: int = 32, bands: int = 8,
    exclude_pred: str | None = None,
) -> str:
    """Oracle for x2_cross_corpus_indexed_portable: the FULL incremental
    crawl-dedup path in SQL — DuckDB re-derives the STORED side's portable
    signatures (what write_signature_table(family="md5") materialized), the
    increment's signatures, both band-bucket sets, the cross-side-only
    candidate join, and the exact-Jaccard verdicts. Sources mirror the
    registry entry: stored corpus = documents doc_id < 100; increment =
    the first 50 docs re-crawled with shifted ids and a ' zz' suffix.

    ``exclude_pred`` (r9 — the signature-takedown twin): stored-side docs
    matching the predicate are dropped BEFORE signatures are derived,
    modeling a table whose tombstones (index_commit.write_tombstones) suppress
    those docs from banding and verification — i.e. a table rebuilt from
    the survivors."""
    old_src = "SELECT doc_id, text FROM documents WHERE doc_id < 100"
    if exclude_pred:
        old_src += f" AND NOT ({exclude_pred})"
    new_src = (
        "SELECT doc_id + 1000000 AS doc_id, text || ' zz' AS text "
        "FROM documents WHERE doc_id < 50"
    )
    return f"""
WITH {_portable_side_ctes("o_", old_src, num_hashes, bands)},
{_portable_side_ctes("n_", new_src, num_hashes, bands)},
cand AS (
  SELECT n.doc_id AS doc_id, o.doc_id AS match_id
  FROM n_banded n
  JOIN o_banded o ON n.band = o.band AND n.bucket = o.bucket
  GROUP BY 1, 2
),
j AS (
  SELECT c.doc_id, c.match_id,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
  FROM cand c
  JOIN n_shs a ON a.doc_id = c.doc_id
  JOIN o_shs b ON b.doc_id = c.match_id
)
SELECT doc_id, match_id, jaccard FROM j WHERE jaccard >= {threshold!r}"""


def cross_corpus_lsh_portable_sql(
    threshold: float = 0.5, num_hashes: int = 32, bands: int = 8
) -> str:
    """Oracle for x2_cross_corpus_lsh_portable (VERDICT r6 item 7): the
    UNINDEXED portable cross-corpus path. Identical SQL to
    cross_corpus_indexed_portable_sql by construction — whether the
    existing side's signatures are recomputed from text (unindexed) or read
    from the materialized table (indexed), the portable hash family yields
    the same signatures, bands, candidates, and verdicts; the oracle always
    derives both sides from text. A divergence between the two registry
    entries' hashes would therefore indict the signature TABLE or the
    band-join plan, never the oracle."""
    return cross_corpus_indexed_portable_sql(threshold, num_hashes, bands)


def minhash_cluster_portable_sql(
    threshold: float = 0.5, num_hashes: int = 32, bands: int = 8
) -> str:
    """Oracle for x2_cluster_dedup_portable (VERDICT r5 item 3): transitive
    near-dup CLUSTERS over the portable pair set. DuckDB re-derives the full
    portable-LSH pair graph, then computes connected components with a
    recursive reachability CTE (symmetrized edges; the recursion's UNION
    dedups rows so it terminates at the transitive closure); each doc's
    cluster id is the smallest reachable doc id, singletons label
    themselves — exactly dedup.connected_components' min-label fixpoint.
    Closure size is bounded by sum over components of |C|^2, fine at oracle
    scale; the Spark side uses the O(rounds·|E|) propagation loop instead."""
    pairs = minhash_lsh_portable_sql(threshold, num_hashes, bands)
    return f"""
WITH RECURSIVE p AS ({pairs}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM p
),
reach(id, r) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT w.id, e.dst FROM reach w JOIN edges e ON e.src = w.r
)
SELECT d.doc_id,
       LEAST(d.doc_id, COALESCE(MIN(r.r), d.doc_id)) AS cluster_id
FROM documents d
LEFT JOIN reach r ON r.id = d.doc_id
GROUP BY d.doc_id"""


def simhash_portable_sql(
    max_hamming: int = 8, bands: int = 4, id_filter: str = "doc_id < 200"
) -> str:
    """Oracle for x2_simhash_portable: the full 60-bit SimHash pipeline in
    SQL — md5-derived token hashes, per-bit sign votes, 15-bit band chunks,
    banded self-join, bit_count(xor) hamming filter — mirroring
    dedup.simhash_pairs(family="md5"). 60 bits keep everything positive in
    signed 64-bit, so shifts and masks agree across engines."""
    chunk_bits = 60 // bands
    mask = (1 << chunk_bits) - 1
    band_ids = "[" + ", ".join(str(b) for b in range(bands)) + "]"
    chunks = "[" + ", ".join(
        f"(sig >> {b * chunk_bits}) & {mask}" for b in range(bands)
    ) + "]"
    return f"""
WITH d AS (
  SELECT doc_id,
         list_transform(
           list_distinct(string_split_regex({_NORM_SQL.format(c="text")}, '\\s+')),
           t -> {_md5_long60_sql("t")}) AS hs
  FROM documents WHERE {id_filter}
),
votes AS (
  SELECT doc_id, i,
         SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM (SELECT doc_id, unnest(hs) AS h FROM d),
       (SELECT unnest(range(0, 60)) AS i)
  GROUP BY doc_id, i
),
sigs AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
              AS BIGINT) AS sig
  FROM votes GROUP BY doc_id
),
banded AS (
  SELECT doc_id, sig, unnest({band_ids}) AS band, unnest({chunks}) AS chunk
  FROM sigs
),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         CAST(bit_count(xor(l.sig, r.sig)) AS INTEGER) AS hamming
  FROM banded l
  JOIN banded r
    ON l.band = r.band AND l.chunk = r.chunk AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {max_hamming}"""


def semantic_dedup_sql(
    k: int = 8,
    iters: int = 5,
    threshold: float = 0.4,
    tol: float = 1e-6,
    rd: int = 6,
) -> str:
    """Oracle for x2_semantic_dedup (SemDeDup): unrolled Lloyd for the
    cluster assignment, then within-cluster pairs with ROUND(cosine, 6) >=
    threshold drop the higher id; survivors are everything not dropped —
    mirroring operators/dedup.semantic_dedup."""
    return (
        "WITH "
        + _EXP
        + ","
        + _kmeans_ctes("", "exp", "embeddings", k, iters, tol, rd)
        + f""",
af AS (
  SELECT e.vec_id, c.cluster, SUM((e.val - c.c) * (e.val - c.c)) AS d
  FROM exp e JOIN c{iters} c USING (pos)
  GROUP BY e.vec_id, c.cluster
),
wf AS (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
  FROM af
),
asg AS (SELECT vec_id, cluster FROM wf WHERE rn = 1),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM asg a
  JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  -- NaN guard mirroring the engine (code review r5): a zero-norm vector's
  -- cosine is NULL on DuckDB < 1.1 (0/0 -> NULL) but NaN under the
  -- ieee_floating_point_ops default of newer releases, where NaN sorts
  -- ABOVE every number; the explicit isnan test excludes it under BOTH
  -- semantics (NOT isnan(NULL) is NULL -> row filtered)
  WHERE NOT isnan({_cosine("ea.embedding", "eb.embedding", 64)})
    AND {_cosine("ea.embedding", "eb.embedding", 64)} >= {threshold!r}
)
SELECT e.vec_id FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)"""
    )


def pq_topk_sql(
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    train_fraction: float = 0.2,
    sub_dim: int = 16,
    tol: float = 1e-6,
    rd: int = 6,
    topk: int = 10,
) -> str:
    """Oracle for x3_pq_topk: re-derive the PQ index end-to-end in SQL —
    stable-bucket training sample, one unrolled k-means per subspace
    (codebooks), nearest-codeword encoding of the full corpus, and the
    query's asymmetric distance table — then score and take the top-k.
    Matches pq_build_index(m, k, iters, train_fraction,
    round_decimals=6) + pq_topk_indexed for query vector vec_id=0."""
    cutoff = int(round(train_fraction * 10_000))
    parts = [
        "WITH ",
        _EXP,
        f""",
samp AS (
  SELECT vec_id FROM embeddings
  WHERE {_BUCKET.format(key="vec_id", n=10_000)} < {cutoff}
)""",
    ]
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.append(
            f""",
tr{s} AS (
  SELECT e.vec_id, e.pos - {s * sub_dim} AS pos, e.val
  FROM exp e JOIN samp USING (vec_id)
  WHERE e.pos BETWEEN {lo} AND {hi}
),
fu{s} AS (
  SELECT vec_id, pos - {s * sub_dim} AS pos, val
  FROM exp WHERE pos BETWEEN {lo} AND {hi}
),"""
        )
        parts.append(
            _kmeans_ctes(f"s{s}_", f"tr{s}", "samp", k_codes, iters, tol, rd)
        )
        parts.append(
            f""",
enc{s} AS (
  SELECT vec_id, cluster AS code,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
  FROM (
    SELECT e.vec_id, c.cluster, SUM((e.val - c.c) * (e.val - c.c)) AS d
    FROM fu{s} e JOIN s{s}_c{iters} c USING (pos)
    GROUP BY e.vec_id, c.cluster)
),
tq{s} AS (
  SELECT c.cluster AS code, SUM((q.val - c.c) * (q.val - c.c)) AS d
  FROM (SELECT pos, val FROM fu{s} WHERE vec_id = 0) q
  JOIN s{s}_c{iters} c USING (pos)
  GROUP BY c.cluster
)"""
        )
    dist = " + ".join(f"t{s}.d" for s in range(m))
    joins = "\n".join(
        f"JOIN (SELECT vec_id, code FROM enc{s} WHERE rn = 1) e{s} "
        f"ON e0.vec_id = e{s}.vec_id"
        for s in range(1, m)
    )
    tjoins = "\n".join(f"JOIN tq{s} t{s} ON t{s}.code = e{s}.code" for s in range(m))
    parts.append(
        f"""
SELECT e0.vec_id, ROUND({dist}, {rd}) AS approx_sq_dist
FROM (SELECT vec_id, code FROM enc0 WHERE rn = 1) e0
{joins}
{tjoins}
ORDER BY approx_sq_dist ASC, e0.vec_id ASC LIMIT {topk}"""
    )
    return "".join(parts)


def lsh_ann_sql(n_planes: int = 6, dim: int = 64, topk: int = 10) -> str:
    """Oracle for x3_lsh_ann: the deterministic LCG hyperplanes are pure
    Python (no Spark), so they are regenerated here and baked in as double
    literals; bucket = sign-bit integer, candidates = the query's bucket,
    exact cosine re-rank — mirroring similarity.lsh_topk(query_id=0)."""
    planes = _hyperplanes(dim, n_planes)
    bits = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(repr(float(v)) for v in p) + "]::DOUBLE[]"
        d = (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]))"
        )
        bits.append(f"(CASE WHEN {d} >= 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(bits)
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id, {_cosine("b.embedding", "q.qv", dim)} AS cos_sim
FROM b, q
WHERE b.bucket = q.qb AND b.vec_id <> 0
ORDER BY cos_sim DESC, b.vec_id ASC LIMIT {topk}"""


def ivf_topk_sql(n_probe: int = 2, topk: int = 10) -> str:
    """Oracle for x3_ivf: per-cell mean centroids with the engine's exact
    decimal(38,12) sums (partition-order independent on BOTH engines, so
    centroid doubles match bit-for-bit), probe the n_probe
    highest-cosine cells, exact re-rank inside — mirroring
    similarity.ivf_topk(query_id=0)."""
    return f"""
WITH exp AS (
  SELECT vec_id, label, pos, CAST(uval AS DOUBLE) AS val FROM (
    SELECT vec_id, label, unnest(embedding) AS uval,
           unnest(range(1, len(embedding) + 1)) AS pos
    FROM embeddings)
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(38, 12))) AS DOUBLE) / COUNT(*) AS c
  FROM exp GROUP BY label, pos
),
qe AS (SELECT pos, val FROM exp WHERE vec_id = 0),
csim AS (
  SELECT cent.label,
         ROUND(SUM(qe.val * cent.c)
               / (sqrt(SUM(cent.c * cent.c)) * sqrt(SUM(qe.val * qe.val))), 6)
           AS c_sim
  FROM cent JOIN qe USING (pos)
  GROUP BY cent.label
),
probed AS (SELECT label FROM csim ORDER BY c_sim DESC, label ASC LIMIT {n_probe}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_cosine("e.embedding", "q.qv", 64)} AS cos_sim
FROM embeddings e JOIN probed USING (label), q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT {topk}"""


def ivfpq_topk_sql(
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    train_fraction: float = 0.2,
    sub_dim: int = 16,
    tol: float = 1e-6,
    rd: int = 6,
    topk: int = 10,
    n_probe: int = 2,
    refine: int = 4,
    base_pred: str | None = None,
    exclude_pred: str | None = None,
) -> str:
    """Oracle for x3_ivfpq_topk: the combined IVF-PQ + exact-refine search
    re-derived end-to-end in SQL — the per-cell decimal-exact mean
    centroids and the cosine probe (from ivf_topk_sql), the stable-sample
    per-subspace unrolled-Lloyd codebooks and nearest-codeword encoding
    (from pq_topk_sql, but encoding only the probed cells' vectors — the
    same rows the engine's partition-pruned ADC scan reads), the rounded
    asymmetric-distance k*refine shortlist with id tiebreaks, and the exact
    cosine re-rank of the shortlist. A regression in the probe, the
    training, the encoding, the shortlist boundary, or the refine join all
    surface as a hash mismatch. Query = vec_id 0's embedding.

    ``base_pred`` (VERDICT r7 item 3 — the CDC -> index-refresh twin):
    the index was BUILT on the base subset (rows matching the predicate)
    and the complement arrived later through ivfpq_index_append with both
    quantizers frozen — so cell centroids and codebook training sample
    come from the base ONLY, base rows keep their own label, and appended
    rows take the argmax-cosine cell (round 9, ties to the GREATEST label
    — the engine's array_max over (sim, cell-index) structs with cells
    sorted label-ASC). Everything downstream (probe, encode, shortlist,
    refine) then runs over the combined lab exactly as in the plain
    oracle.

    ``exclude_pred`` (r8 — the tombstone-takedown twin): ids matching the
    predicate leave ``lab`` (hence candidacy, the shortlist, and the
    refine) while centroids and codebooks stay FROZEN — exactly the
    engine's anti-join ahead of the ADC scan over quantizers trained
    before the delete."""
    cutoff = int(round(train_fraction * 10_000))
    samp_and = f" AND ({base_pred})" if base_pred else ""
    excl = f" WHERE NOT ({exclude_pred})" if exclude_pred else ""
    parts = [
        "WITH ",
        _EXP,
        f""",
samp AS (
  SELECT vec_id FROM embeddings
  WHERE {_BUCKET.format(key="vec_id", n=10_000)} < {cutoff}{samp_and}
),
blab AS (SELECT vec_id, label FROM embeddings{
            f" WHERE ({base_pred})" if base_pred else ""}),
cent AS (
  SELECT l.label, e.pos,
         CAST(SUM(CAST(e.val AS DECIMAL(38, 12))) AS DOUBLE) / COUNT(*) AS c
  FROM exp e JOIN blab l USING (vec_id)
  GROUP BY l.label, e.pos
),""",
    ]
    if base_pred:
        parts.append(
            f"""
alab AS (
  SELECT vec_id, label FROM (
    SELECT vec_id, label,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, label DESC) AS rn
    FROM (
      SELECT e.vec_id, cent.label,
             ROUND(SUM(e.val * cent.c)
                   / (sqrt(SUM(e.val * e.val)) * sqrt(SUM(cent.c * cent.c))),
                   9) AS s
      FROM exp e JOIN cent ON e.pos = cent.pos
      WHERE e.vec_id IN (SELECT vec_id FROM embeddings
                         WHERE NOT ({base_pred}))
      GROUP BY e.vec_id, cent.label))
  WHERE rn = 1
),
lab AS (SELECT vec_id, label FROM (
          SELECT vec_id, label FROM blab
          UNION ALL SELECT vec_id, label FROM alab){excl}),"""
        )
    else:
        parts.append(f"\nlab AS (SELECT vec_id, label FROM blab{excl}),")
    parts.append(
        f"""
qe AS (SELECT pos, val FROM exp WHERE vec_id = 0),
csim AS (
  SELECT cent.label,
         ROUND(SUM(qe.val * cent.c)
               / (sqrt(SUM(cent.c * cent.c)) * sqrt(SUM(qe.val * qe.val))), 6)
           AS c_sim
  FROM cent JOIN qe USING (pos)
  GROUP BY cent.label
),
probed AS (SELECT label FROM csim ORDER BY c_sim DESC, label ASC LIMIT {n_probe}),
cand AS (SELECT vec_id FROM lab JOIN probed USING (label))"""
    )
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.append(
            f""",
tr{s} AS (
  SELECT e.vec_id, e.pos - {s * sub_dim} AS pos, e.val
  FROM exp e JOIN samp USING (vec_id)
  WHERE e.pos BETWEEN {lo} AND {hi}
),
fu{s} AS (
  SELECT vec_id, pos - {s * sub_dim} AS pos, val
  FROM exp WHERE pos BETWEEN {lo} AND {hi}
),"""
        )
        parts.append(
            _kmeans_ctes(f"s{s}_", f"tr{s}", "samp", k_codes, iters, tol, rd)
        )
        parts.append(
            f""",
enc{s} AS (
  SELECT vec_id, cluster AS code,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
  FROM (
    SELECT e.vec_id, c.cluster, SUM((e.val - c.c) * (e.val - c.c)) AS d
    FROM fu{s} e JOIN cand USING (vec_id) JOIN s{s}_c{iters} c USING (pos)
    GROUP BY e.vec_id, c.cluster)
),
tq{s} AS (
  SELECT c.cluster AS code, SUM((q.val - c.c) * (q.val - c.c)) AS d
  FROM (SELECT pos, val FROM fu{s} WHERE vec_id = 0) q
  JOIN s{s}_c{iters} c USING (pos)
  GROUP BY c.cluster
)"""
        )
    dist = " + ".join(f"t{s}.d" for s in range(m))
    joins = "\n".join(
        f"JOIN (SELECT vec_id, code FROM enc{s} WHERE rn = 1) e{s} "
        f"ON e0.vec_id = e{s}.vec_id"
        for s in range(1, m)
    )
    tjoins = "\n".join(f"JOIN tq{s} t{s} ON t{s}.code = e{s}.code" for s in range(m))
    parts.append(
        f""",
adc AS (
  SELECT e0.vec_id, ROUND({dist}, {rd}) AS approx_sq_dist
  FROM (SELECT vec_id, code FROM enc0 WHERE rn = 1) e0
  {joins}
  {tjoins}
),
short AS (
  SELECT vec_id FROM adc
  ORDER BY approx_sq_dist ASC, vec_id ASC LIMIT {topk * refine}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, {_cosine("e.embedding", "q.qv", 64)} AS cos_sim
FROM embeddings e JOIN short USING (vec_id), q
ORDER BY cos_sim DESC, e.vec_id ASC LIMIT {topk}"""
    )
    return "".join(parts)


def ivfpq_topk_batch_sql(
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    train_fraction: float = 0.2,
    sub_dim: int = 16,
    tol: float = 1e-6,
    rd: int = 6,
    topk: int = 10,
    n_probe: int = 2,
    refine: int = 4,
    query_filter: str = "vec_id < 3",
) -> str:
    """Oracle for x3_ivfpq_batch: the BATCH IVF-PQ search re-derived in
    SQL, generic over the query set — per-query probe windows over the
    decimal-exact centroids, the shared stable-sample codebooks (unrolled
    Lloyd per subspace), nearest-codeword encoding of the probed-cell
    union, per-(query, code) asymmetric distance tables via joins (the SQL
    mirror of the carried __dtab column), per-query rounded shortlist
    windows with id tiebreaks, and the per-query exact-cosine top-k
    re-rank. One SQL statement covers EVERY query row, exactly as the
    Spark plan does."""
    cutoff = int(round(train_fraction * 10_000))
    parts = [
        "WITH ",
        _EXP,
        f""",
samp AS (
  SELECT vec_id FROM embeddings
  WHERE {_BUCKET.format(key="vec_id", n=10_000)} < {cutoff}
),
lab AS (SELECT vec_id, label FROM embeddings),
cent AS (
  SELECT l.label, e.pos,
         CAST(SUM(CAST(e.val AS DECIMAL(38, 12))) AS DOUBLE) / COUNT(*) AS c
  FROM exp e JOIN lab l USING (vec_id)
  GROUP BY l.label, e.pos
),
qs AS (SELECT vec_id AS query_id FROM embeddings WHERE {query_filter}),
qe AS (
  SELECT q.query_id, e.pos, e.val
  FROM exp e JOIN qs q ON e.vec_id = q.query_id
),
csim AS (
  SELECT qe.query_id, cent.label,
         ROUND(SUM(qe.val * cent.c)
               / (sqrt(SUM(cent.c * cent.c)) * sqrt(SUM(qe.val * qe.val))), 6)
           AS c_sim
  FROM cent JOIN qe USING (pos)
  GROUP BY qe.query_id, cent.label
),
probe AS (
  SELECT query_id, label FROM (
    SELECT query_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY c_sim DESC, label ASC) AS rn
    FROM csim)
  WHERE rn <= {n_probe}
),
candq AS (SELECT p.query_id, l.vec_id FROM lab l JOIN probe p USING (label)),
cu AS (SELECT DISTINCT vec_id FROM candq)""",
    ]
    for s in range(m):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.append(
            f""",
tr{s} AS (
  SELECT e.vec_id, e.pos - {s * sub_dim} AS pos, e.val
  FROM exp e JOIN samp USING (vec_id)
  WHERE e.pos BETWEEN {lo} AND {hi}
),
fu{s} AS (
  SELECT vec_id, pos - {s * sub_dim} AS pos, val
  FROM exp WHERE pos BETWEEN {lo} AND {hi}
),"""
        )
        parts.append(
            _kmeans_ctes(f"s{s}_", f"tr{s}", "samp", k_codes, iters, tol, rd)
        )
        parts.append(
            f""",
enc{s} AS (
  SELECT vec_id, cluster AS code,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rn
  FROM (
    SELECT e.vec_id, c.cluster, SUM((e.val - c.c) * (e.val - c.c)) AS d
    FROM fu{s} e JOIN cu USING (vec_id) JOIN s{s}_c{iters} c USING (pos)
    GROUP BY e.vec_id, c.cluster)
),
tq{s} AS (
  SELECT q.query_id, c.cluster AS code,
         SUM((q.val - c.c) * (q.val - c.c)) AS d
  FROM (SELECT query_id, pos - {s * sub_dim} AS pos, val
        FROM qe WHERE pos BETWEEN {lo} AND {hi}) q
  JOIN s{s}_c{iters} c USING (pos)
  GROUP BY q.query_id, c.cluster
)"""
        )
    dist = " + ".join(f"t{s}.d" for s in range(m))
    joins = "\n".join(
        f"JOIN (SELECT vec_id, code FROM enc{s} WHERE rn = 1) e{s} "
        f"ON e0.vec_id = e{s}.vec_id"
        for s in range(1, m)
    )
    tjoins = "\n".join(
        f"JOIN tq{s} t{s} ON t{s}.query_id = cq.query_id AND t{s}.code = e{s}.code"
        for s in range(m)
    )
    parts.append(
        f""",
adc AS (
  SELECT cq.query_id, e0.vec_id, ROUND({dist}, {rd}) AS approx_sq_dist
  FROM candq cq
  JOIN (SELECT vec_id, code FROM enc0 WHERE rn = 1) e0 ON e0.vec_id = cq.vec_id
  {joins}
  {tjoins}
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_sq_dist ASC, vec_id ASC) AS rn
    FROM adc)
  WHERE rn <= {topk * refine}
),
qv AS (SELECT vec_id AS query_id, embedding AS qvec
       FROM embeddings WHERE {query_filter}),
rer AS (
  SELECT s.query_id, e.vec_id,
         {_cosine("e.embedding", "q.qvec", 64)} AS cos_sim
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN qv q ON q.query_id = s.query_id
),
fin AS (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM rer
)
SELECT query_id, vec_id, cos_sim FROM fin WHERE rn <= {topk}"""
    )
    return "".join(parts)


# ===========================================================================
# Fixture-backed oracles for the xxhash64 production family (r10 — VERDICT
# r9 item 4). The engine persists its hash OUTPUTS (plans/fixtures.py);
# these builders re-derive everything downstream — band grouping, bucket
# cap, candidate joins, exact Jaccard, hamming, removal policy, transitive
# closure — in SQL from those values. Only the xxhash64 call itself stays
# engine-side. Every fixture read filters (corpus_n, corpus_len) to the
# connection's own documents count AND total text length — count alone does
# NOT identify a corpus (the driver's sf0.001 and sf0.01 documents tables
# both have 500 docs with different text; observed r10), so one fixture
# root serves every SF only with the content-sensitive key.
# ===========================================================================

_FX_GATE = (
    "corpus_n = (SELECT COUNT(*) FROM documents) "
    "AND corpus_len = (SELECT SUM(LENGTH(text)) FROM documents)"
)


def _fx(group: str, table: str) -> str:
    from tesla_competitive_intelligence_etl_pipeline_spark.plans.fixtures import FIXTURE_ROOT

    # n=* (not bare *): never matches the .stage_* dirs the atomic-rename
    # publication protocol (fixtures._write, r11) may briefly leave behind
    return f"read_parquet('{FIXTURE_ROOT}/{group}/{table}/n=*/*.parquet')"


def _minhash_fixture_ctes(max_bucket_size: int) -> str:
    """sh/bb fixture reads -> capped band buckets -> candidate pairs ->
    exact-Jaccard verdicts (dedup.minhash_lsh_pairs' tail, from the
    engine's own signatures). All MATERIALIZED: pairs feeds multiple
    consumers in the canonical/cluster builders."""
    return f"""
    sh AS MATERIALIZED (
      SELECT doc_id, sh FROM {_fx('minhash', 'sh')} WHERE {_FX_GATE}),
    bb AS MATERIALIZED (
      SELECT doc_id, band, bucket FROM {_fx('minhash', 'bb')} WHERE {_FX_GATE}),
    keep AS (SELECT band, bucket FROM bb
             GROUP BY band, bucket HAVING COUNT(*) <= {max_bucket_size}),
    bk AS MATERIALIZED (
      SELECT bb.doc_id, bb.band, bb.bucket FROM bb JOIN keep USING (band, bucket)),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM bk l JOIN bk r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id),
    pairs AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b,
             ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   CAST(len(a.sh) + len(b.sh)
                        - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6)
               AS jaccard
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b)"""


def minhash_fixture_pairs_sql(
    threshold: float = 0.5, max_bucket_size: int = 256
) -> str:
    """Oracle for x2_minhash_lsh: verified near-dup pairs from the engine's
    persisted xxhash64 signatures and band buckets."""
    return f"""
    WITH {_minhash_fixture_ctes(max_bucket_size)}
    SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {threshold}"""


def minhash_fixture_canonical_sql(
    threshold: float = 0.5, max_bucket_size: int = 256
) -> str:
    """Oracle for x2_near_dedup_canonical: drop every doc that is anybody's
    HIGHER-id near-dup partner (doc_b of a verified pair); survivors keep
    (doc_id, lang, source)."""
    return f"""
    WITH {_minhash_fixture_ctes(max_bucket_size)}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs WHERE jaccard >= {threshold})"""


def minhash_fixture_cluster_sql(
    threshold: float = 0.5, max_bucket_size: int = 256
) -> str:
    """Oracle for x2_cluster_dedup: transitive closure (recursive
    reachability CTE over the symmetrized verified-pair graph; min
    reachable id labels the cluster, singletons label themselves) —
    exactly dedup.connected_components' min-label fixpoint, over the
    ENGINE's pair graph instead of the portable twin's."""
    return f"""
    WITH RECURSIVE {_minhash_fixture_ctes(max_bucket_size)},
    vp AS MATERIALIZED (
      SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {threshold}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM vp
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM vp
    ),
    reach(id, r) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT w.id, e.dst FROM reach w JOIN edges e ON e.src = w.r
    )
    SELECT d.doc_id,
           LEAST(d.doc_id, COALESCE(MIN(r.r), d.doc_id)) AS cluster_id
    FROM documents d
    LEFT JOIN reach r ON r.id = d.doc_id
    GROUP BY d.doc_id"""


def scd2_commit_ts_fixture_sql() -> str:
    """Oracle for xtra_scd2_commit_ts (r11 — VERDICT r10 item 2): re-derive
    scd2_from_changes_df(timeline='ts') in SQL from the engine's persisted
    commit-change rows (plans/fixtures.ensure_scd2ts_fixture) — per-(key,
    commit) dedup with the delete-wins rule, LEAD interval build over the
    commit SEQUENCE, deletes close-without-opening, and the wall-clock
    axis joined in via the MONOTONIZED (running-max over seq) commit-ts
    map. Only read_commit_changes' extraction stays engine-side."""
    return f"""
    WITH ch AS MATERIALIZED (
      SELECT user_id, event_type, value, _change_type, _commit_seq, _commit_ts
      FROM {_fx('scd2ts', 'changes')} WHERE {_FX_GATE}),
    log AS (
      SELECT user_id, event_type, value, _commit_seq AS seq,
             (_change_type = 'delete') AS is_del
      FROM ch WHERE _change_type <> 'update_preimage'),
    dedup AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, seq
          ORDER BY is_del DESC, value DESC) AS rn
        FROM log)
      WHERE rn = 1),
    iv AS (
      SELECT user_id, event_type, value, seq AS vf,
             LEAD(seq) OVER (PARTITION BY user_id ORDER BY seq) AS vt,
             is_del
      FROM dedup),
    cm AS (
      SELECT seq, MAX(ts) OVER (ORDER BY seq) AS mts FROM (
        SELECT DISTINCT _commit_seq AS seq, _commit_ts AS ts FROM ch))
    SELECT i.user_id, i.event_type, i.value,
           f.mts AS valid_from, t.mts AS valid_to,
           i.vf AS valid_from_seq,
           CAST(i.vt AS DOUBLE) AS valid_to_seq,
           (i.vt IS NULL) AS is_current
    FROM iv i
    JOIN cm f ON i.vf = f.seq
    LEFT JOIN cm t ON i.vt = t.seq
    WHERE NOT i.is_del"""


def simhash_fixture_sql(max_hamming: int = 8) -> str:
    """Oracle for x2_simhash: candidates from the engine's persisted 16-bit
    band chunks (recall above hamming 3 depends on the exact chunk values,
    so they are fixture data, not re-derived), hamming verified via
    bit_count(xor) over the persisted 64-bit signatures."""
    return f"""
    WITH sg AS MATERIALIZED (
      SELECT doc_id, sig FROM {_fx('simhash', 'sig')} WHERE {_FX_GATE}),
    bb AS MATERIALIZED (
      SELECT doc_id, band, chunk FROM {_fx('simhash', 'bb')} WHERE {_FX_GATE}),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM bb l JOIN bb r
        ON l.band = r.band AND l.chunk = r.chunk AND l.doc_id < r.doc_id),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
      FROM cand c
      JOIN sg x ON x.doc_id = c.doc_a
      JOIN sg y ON y.doc_id = c.doc_b)
    SELECT doc_a, doc_b, hamming FROM scored WHERE hamming <= {max_hamming}"""


def cross_corpus_fixture_sql(
    threshold: float = 0.5, max_bucket_size: int = 256
) -> str:
    """Oracle for x2_cross_corpus_lsh AND x2_cross_corpus_indexed (pinned
    equal in tests; the stored signature table holds byte-identical values,
    so one fixture serves both): cross-side-only candidates from the
    engine's band buckets — the cap judged on the COMBINED bucket
    population, mirroring the tagged-union operator — verified with exact
    Jaccard over the engine's hashed shingle sets."""
    return f"""
    WITH s AS MATERIALIZED (
      SELECT side, doc_id, sh FROM {_fx('crosslsh', 'sh')} WHERE {_FX_GATE}),
    bb AS MATERIALIZED (
      SELECT side, doc_id, band, bucket FROM {_fx('crosslsh', 'bb')}
      WHERE {_FX_GATE}),
    keep AS (SELECT band, bucket FROM bb
             GROUP BY band, bucket HAVING COUNT(*) <= {max_bucket_size}),
    bk AS MATERIALIZED (
      SELECT bb.side, bb.doc_id, bb.band, bb.bucket
      FROM bb JOIN keep USING (band, bucket)),
    cand AS (
      SELECT DISTINCT n.doc_id, o.doc_id AS match_id
      FROM bk n JOIN bk o
        ON n.band = o.band AND n.bucket = o.bucket
       AND n.side = 1 AND o.side = 0),
    pairs AS (
      SELECT c.doc_id, c.match_id,
             ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                   CAST(len(a.sh) + len(b.sh)
                        - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6)
               AS jaccard
      FROM cand c
      JOIN s a ON a.side = 1 AND a.doc_id = c.doc_id
      JOIN s b ON b.side = 0 AND b.doc_id = c.match_id)
    SELECT doc_id, match_id, jaccard FROM pairs WHERE jaccard >= {threshold}"""
