"""X-3: similarity search over embedding columns (SURVEY.md §2.9); index
maintenance is incremental (ivf_index_append) — appends cost O(batch), never
a rebuild.

Three tiers, all deterministic:
- brute-force cosine top-k: the correctness baseline. Dot products are
  accumulated in exact decimals so results are bit-identical regardless of
  partitioning (and match the DuckDB oracle).
- LSH (random hyperplane) bucketed search: the scale path — candidates only
  from matching buckets, then exact re-rank.
- IVF-style: coarse quantizer = per-cell mean embedding (here the `label`
  column stands in for the cluster assignment); probe the nearest cells,
  exact re-rank inside.

At 100 TB the brute force is one narrow map + top-k (no shuffle except the
final k-row reduction); LSH/IVF turn that into a partition-pruned scan.

Driver-memory bound: the IVF probe collects the centroid table
(n_cells x dim x 8 B — 4,096 cells x dim 1,024 is 32 MiB, fine; 1 M cells
x dim 4,096 would be 32 GiB and needs the broadcast-join probe instead of
a collect). ivf_index_append likewise holds all centroids as one plan
literal — same arithmetic, same escape hatch, which is implemented:
clustering.assign_clusters_join(metric='cosine') reproduces this argmax
through a broadcast join with no driver-held centroids (equivalence pinned
in tests). See operators/clustering.py's module docstring for the worked
bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs


def _dot_exact(a: Column, b: Column) -> Column:
    """Dot product of two float arrays as a sequential double fold.
    F.aggregate is a deterministic left fold over the array (no partition
    order involved), so double accumulation is reproducible; consumers round
    the final similarity to 6 decimals, far above fold-order noise."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def cosine(a: Column, b: Column) -> Column:
    return _dot_exact(a, b) / (F.sqrt(_dot_exact(a, a)) * F.sqrt(_dot_exact(b, b)))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    q = F.lit([float(v) for v in query_vec])
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def topk_neighbors_of(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors of a row already in the table (self excluded).
    The 1-row query side is broadcast — no shuffle of the corpus."""
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
    )
    return (
        scored.filter(F.col(id_col) != query_id)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (scale path)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no RNG dependency so
    plans are reproducible across sessions)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit_i = (vec . plane_i) >= 0."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vec, F.lit([float(v) for v in p]), lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket.bitwiseOR(F.shiftleft((dot >= 0).cast("long"), i))
    return bucket


def lsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: restrict exact scoring to the query's LSH bucket (falls back to
    fewer than k results if the bucket is small — standard ANN trade-off)."""
    planes = _hyperplanes(dim, n_planes)
    bucketed = embeddings.withColumn("__bucket", lsh_bucket(F.col(vec_col), planes))
    q = bucketed.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec"), F.col("__bucket").alias("__qbucket")
    )
    candidates = bucketed.join(
        F.broadcast(q), F.col("__bucket") == F.col("__qbucket")
    )
    scored = candidates.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
    )
    return (
        scored.filter(F.col(id_col) != query_id)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-style coarse quantization (label column = cell assignment)
# ---------------------------------------------------------------------------


def _cell_centroids(embeddings: DataFrame, vec_col: str, cell_col: str) -> DataFrame:
    """Exact per-cell mean vectors (the IVF coarse quantizer)."""
    exploded = embeddings.select(
        cell_col, F.posexplode(F.col(vec_col)).alias("pos", "val")
    )
    return (
        exploded.groupBy(cell_col, "pos")
        .agg((F.sum(F.col("val").cast(("decimal(38,12)"))).cast("double") / F.count("*")).alias("c"))
        .groupBy(cell_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(cell_col, F.transform(F.col("pc"), lambda s: s.getField("c")).alias("centroid"))
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF search: centroids = exact per-cell mean vectors; probe the n_probe
    cells nearest the query; exact cosine re-rank within probed cells.
    At scale: write embeddings partitioned by cell (build_ivf_index) ->
    probing = partition pruning at the parquet level (ivf_topk_indexed)."""
    centroids = _cell_centroids(embeddings, vec_col, cell_col)
    q = embeddings.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("__qvec"))
    probed = (
        centroids.crossJoin(F.broadcast(q))
        .select(cell_col, F.round(cosine(F.col("centroid"), F.col("__qvec")), 6).alias("c_sim"))
        .orderBy(F.desc("c_sim"), F.asc(cell_col))
        .limit(n_probe)
        .select(cell_col)
    )
    candidates = embeddings.join(F.broadcast(probed), cell_col)
    scored = candidates.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
    )
    return (
        scored.filter(F.col(id_col) != query_id)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    vec_col: str = "embedding",
    cell_col: str = "label",
    fs=None,
    lease_owner: str | None = None,
    lease_ttl_sec: float = 3600.0,
    corpus: str | None = None,
) -> None:
    """Materialize the IVF index: vectors written PARTITIONED BY cell (so a
    probe reads only the probed cells' files — real partition pruning, not a
    post-scan filter) plus the tiny centroid table next to them. This is the
    one-time index build a 100 TB ANN deployment amortizes. The writes run
    in the index's leased section (streaming.fs.leased), so a build
    cannot interleave its files with an append or compaction; the
    heartbeat re-stamps the lease every ``lease_ttl_sec``/3, so size the
    TTL to that interval, not to the whole build.

    ``corpus``: the corpus table these embeddings derive from. When given, the build AUTO-REGISTERS the index
    in the corpus' derived-store registry (takedown.register_store, kind
    'ivf') after the write commits, so a bare no-args takedown /
    takedown_verify covers it without anyone remembering a manual
    register_store call — the builders register what they build. Omit only
    for genuinely corpus-less uses (ad-hoc scratch indexes)."""
    fs = fs or mfs.LOCAL_FS
    with mfs.leased(fs, path, lease_owner, lease_ttl_sec):
        embeddings.write.mode("overwrite").partitionBy(cell_col).parquet(
            path + "/vectors"
        )
        _cell_centroids(
            embeddings, vec_col, cell_col
        ).write.mode("overwrite").parquet(path + "/centroids")
    if corpus is not None:
        from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown

        takedown.register_store(corpus, path, "ivf", fs=fs)


def ivf_topk_indexed(
    spark,
    path: str,
    query_id: int,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF search over a materialized index (build_ivf_index): score the
    centroid table (tiny — one row per cell), pick the n_probe nearest cells
    DRIVER-SIDE (an n_probe-row collect, the standard IVF probe), then scan
    ONLY those cell partitions with an exact cosine re-rank. The cell filter
    lands in the scan's PartitionFilters (asserted in tests/test_plans.py) —
    at 100 TB the probe reads n_probe/n_cells of the corpus."""
    # tombstoned ids leave both candidacy and the query-by-id lookup: a
    # deleted id used as a query resolves to an empty result, exactly as
    # on an index that never held it
    vectors = ic.read_live(spark, ic.store("ivf", path), "vectors", id_col)
    centroids = spark.read.parquet(path + "/centroids")
    q = vectors.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("__qvec"))
    probed_rows = (
        centroids.crossJoin(F.broadcast(q))
        .select(cell_col, F.round(cosine(F.col("centroid"), F.col("__qvec")), 6).alias("c_sim"))
        .orderBy(F.desc("c_sim"), F.asc(cell_col))
        .limit(n_probe)
        .collect()
    )
    cells = [r[cell_col] for r in probed_rows]
    candidates = vectors.filter(F.col(cell_col).isin(cells))
    scored = candidates.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("__qvec")), 6).alias("cos_sim"),
    )
    return (
        scored.filter(F.col(id_col) != query_id)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _assign_cells(
    spark, path: str, new_vectors: DataFrame, id_col: str, vec_col: str, cell_col: str
) -> DataFrame:
    """(id, vector, cell) for each new vector, the cell being the stored
    centroid of max cosine (the probe's metric), as an argmax over ONE 2-D
    centroid literal (constant-size plan, the form of
    clustering.assign_clusters' argmin). Shared by the IVF and IVF-PQ
    appends; call it under the index lease, so that the assignment and the
    write see one index generation (a rebuild landing between an unleased
    centroid read and the write would put rows into cells absent from the
    new centroid table, where no probe reaches them)."""
    cents_rows = spark.read.parquet(path + "/centroids").orderBy(cell_col).collect()
    cells = [r[cell_col] for r in cents_rows]
    cents = [[float(v) for v in r["centroid"]] for r in cents_rows]
    vec = F.col(vec_col).cast("array<double>")
    pairs = F.transform(
        F.lit(cents),
        lambda c, j: F.struct(F.round(cosine(vec, c), 9).alias("s"), j.alias("j")),
    )
    return new_vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.get(F.lit(cells), F.array_max(pairs).getField("j")).alias(cell_col),
    )


def ivf_index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    fs=None,
    lease_owner: str | None = None,
) -> int:
    """Incremental index maintenance, the continual-ingest path: assign each
    NEW vector to its nearest existing centroid and append only those rows
    to the cell-partitioned vectors table. The coarse quantizer stays frozen
    (classic IVF append): no rebuild and no read of the existing corpus, so
    maintaining the index at 100 TB costs O(batch), not O(corpus).
    Re-running build_ivf_index periodically re-trains cells if drift
    accumulates (the standard re-index cadence trade-off).

    A staged append under the index lease (operators/index_commit):
    readers never see a torn batch, and ``index_commit.recover`` heals a
    crash.
    Appended rows carry exactly (id_col, vec_col, cell_col), the schema
    build_ivf_index wrote. Returns the number of rows appended, observed
    on the write's own evaluation."""
    fs = fs or mfs.LOCAL_FS
    st = ic.store("ivf", path)
    with mfs.leased(fs, st.lease, lease_owner):
        assigned, obs = ic.counted(
            _assign_cells(spark, path, new_vectors, id_col, vec_col, cell_col)
        )
        ic.staged_append(fs, st, ["vectors"], assigned.write.partitionBy(cell_col).parquet)
    return int(obs.get["n"])
