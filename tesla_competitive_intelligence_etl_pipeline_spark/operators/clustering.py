"""Distributed k-means (Lloyd) over embedding columns, for training-data
curation (domain balancing, dedup-aware sampling strata, topic mixture
analysis), and product quantization (PQ) built on it.

One Lloyd loop (``_lloyd``) trains both: ``kmeans`` is its one-subspace
case, and ``pq_train`` runs all m subspaces of a PQ codebook in it at once.

- **Centroids live on the driver** (k x dim floats, a few KB) and enter each
  iteration's plan as one literal, so assignment is a pure map-side
  expression: no join, no shuffle to label a vector. Every subspace is
  assigned against its own codebook inside the same expression.
- **The update step shuffles m x k rows, not the corpus.** Per-(subspace,
  cluster) vector sums use MLlib's ``Summarizer`` typed aggregator: one
  JVM-side hash aggregate with map-side partial combine whose plan is
  constant-size at any embedding width; only (sub, cluster, count,
  sum-vector) rows cross the wire.
- **One pass per iteration** over one persisted (id, vector) scan, whatever
  m is, with a fixed iteration cap. A subspace stops on its own once its
  largest centroid shift falls below ``tol``: it freezes and leaves the
  later iterations. The per-iteration driver collect is m x k rows.
- Deterministic: seeds are the k vectors with the smallest stable md5
  bucket of their id (engine-portable, no rand()), ties by id, and every
  subspace is seeded from the same k rows; argmin over (distance, cluster)
  breaks distance ties by lowest cluster index.
- Preconditions are checked in the plan: a non-null vector whose length
  differs from the centroids' raises through ``raise_error`` inside the
  assignment expression (no extra job).

Driver-memory bound: centroid state is k x dim x 8 B held on the driver
AND serialized into each iteration's plan as a literal. k=8/dim=64 is
4 KiB; k=4,096/dim=1,024 is 32 MiB (fine); k=65,536/dim=4,096 is ~2 GiB
and does NOT fit the literal pattern. Past it use ``assign_clusters_join``
and ``kmeans_df``: centroids as a (cluster, centroid) DataFrame,
broadcast-join + one min/max aggregate per point, no driver-held state;
pinned bit-identical to the literal path (and to ivf_index_append's cosine
argmax) in tests. The literal form stays the default because typical
curation clusterings (k <= a few thousand) sit far below the bound and it
saves a join per iteration.
"""

from __future__ import annotations

import contextlib
import threading
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tesla_competitive_intelligence_etl_pipeline_spark.operators import index_commit as ic
from tesla_competitive_intelligence_etl_pipeline_spark.operators.sampling import stable_bucket
from tesla_competitive_intelligence_etl_pipeline_spark.streaming import fs as mfs


def _sq_dist(a, b):
    """Squared L2 distance of two array<double> columns, folded left to
    right: the one distance every assignment, update shift and ADC table
    here computes."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_dist_py(a: list[float], b: list[float]) -> float:
    """``_sq_dist`` on the driver, for centroid shifts and query tables."""
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def _matrix(rows: list[list[float]]):
    """A list of vectors as one array<array<double>> literal."""
    return F.lit([[float(v) for v in r] for r in rows])


def _slice_subspace(vec, sub: int, sub_dim: int):
    """Subvector for subspace ``sub`` (arrays are 1-indexed in F.slice)."""
    return F.slice(vec, sub * sub_dim + 1, sub_dim)


def _length_checked(vec, dim, value):
    """``value``, or an error raised in the plan when the non-null vector
    ``vec`` is not ``dim`` (an int column) long. Null vectors pass."""
    return F.when(
        vec.isNotNull() & (F.size(vec) != dim),
        F.raise_error(F.format_string(
            "vector of length %d, expected length %d", F.size(vec), dim
        )),
    ).otherwise(value)


def _nearest(vec, centroids):
    """Argmin struct ``(d, j)`` of the array<double> column ``vec`` over
    the array<array<double>> column ``centroids``: the squared distance
    ``d`` to the nearest centroid and its index ``j``, distance ties to the
    lowest index, so assignment is total. All centroids are scanned by a
    single ``transform`` lambda, so the expression is constant-size in both
    k and dim. Raises when a non-null vector's length differs from the
    centroids'."""
    best = F.array_min(F.transform(
        centroids,
        lambda c, j: F.struct(_sq_dist(vec, c).alias("d"), j.alias("j")),
    ))
    return _length_checked(vec, F.size(F.get(centroids, 0)), best)


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    with_distance: bool = False,
) -> DataFrame:
    """Label each row with its nearest centroid (map-side; no join). Ties on
    distance go to the lowest cluster index, so assignment is total.
    ``with_distance`` also emits ``sq_dist`` (the distance to the assigned
    centroid) from the SAME argmin expression — consumers that need both
    must not pay the k x dim distance computation twice. A non-null vector
    whose length differs from the centroids' raises."""
    best = _nearest(F.col(vec_col).cast("array<double>"), _matrix(centroids))
    out = df.withColumn("cluster", best.getField("j"))
    if with_distance:
        out = out.withColumn("sq_dist", best.getField("d"))
    return out


def centroids_to_df(spark: SparkSession, centroids: list[list[float]]) -> DataFrame:
    """(cluster, centroid) DataFrame from a Python centroid list — the
    input shape assign_clusters_join consumes (and what a huge-k training
    job would materialize as a table instead of holding driver-side)."""
    return spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    )


def assign_clusters_join(
    df: DataFrame,
    vec_col: str,
    centroids_df: DataFrame,
    id_col: str,
    with_distance: bool = False,
    metric: str = "l2",
    cluster_col: str = "cluster",
    centroid_col: str = "centroid",
) -> DataFrame:
    """The ESCAPE HATCH for centroid state too big for a plan literal
    (module docstring: k x dim beyond ~10^8 floats — k=65,536 at dim 4,096
    is ~2 GiB and cannot ride the literal/driver pattern): centroids
    arrive as a (cluster, centroid) DataFrame, each row is scored against ALL centroids
    through a BROADCAST nested-loop join, and one min/max aggregate per row
    picks the assignment — no driver-held centroid state anywhere.

    Cost shape: the broadcast fans each input row out to k scored rows,
    then ONE partial-aggregating groupBy(id) reduces them and a join on
    ``id_col`` carries the label back to the full row — the same
    shuffle-on-key shape as the k-means update step, which is exactly the
    price the literal form exists to avoid at small k. Use the literal
    ``assign_clusters`` below ~10^7-10^8 centroid floats; switch to this
    past it (or when centroids already live in a table).

    ``metric``: 'l2' matches assign_clusters bit-for-bit (same
    ``_sq_dist`` fold, same ties-to-lowest-cluster via min over (dist,
    cluster)); 'cosine' matches ivf_index_append's argmax (cosine rounded
    to 9 decimals, max over (sim, cell) — its tie rule) so an IVF deployment can swap it in for
    the append's assignment. Equivalence is pinned in tests."""
    vec = F.col(vec_col).cast("array<double>")
    cent = F.col(centroid_col).cast("array<double>")
    if metric == "l2":
        best = F.min(F.struct(_sq_dist(vec, cent).alias("s"), F.col(cluster_col).alias("j")))
    elif metric == "cosine":
        from tesla_competitive_intelligence_etl_pipeline_spark.operators.similarity import cosine

        score = F.round(cosine(vec, cent), 9)
        best = F.max(F.struct(score.alias("s"), F.col(cluster_col).alias("j")))
    else:
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    scored = (
        df.select(id_col, vec_col)
        .join(F.broadcast(centroids_df.select(cluster_col, centroid_col)))
        .groupBy(id_col)
        .agg(best.alias("__best"))
        .select(
            id_col,
            F.col("__best").getField("j").alias("cluster"),
            F.col("__best").getField("s").alias("__s"),
        )
    )
    out = df.join(scored, id_col)
    if with_distance:
        out = out.withColumn(
            "sq_dist" if metric == "l2" else "cos_sim", F.col("__s")
        )
    return out.drop("__s")


_FALLBACK_THRESHOLD = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
_FALLBACK_LOCK = threading.Lock()


@contextlib.contextmanager
def _fallback_scaled(spark: SparkSession, m: int):
    """Scale the session's object-hash-aggregate fallback threshold by
    ``m`` for the block, then restore it. One block at a time per process,
    so two trainings cannot interleave their raise and restore."""
    with _FALLBACK_LOCK:
        prev = spark.conf.get(_FALLBACK_THRESHOLD)
        spark.conf.set(_FALLBACK_THRESHOLD, str(int(prev) * m))
        try:
            yield
        finally:
            spark.conf.set(_FALLBACK_THRESHOLD, prev)


def _lloyd(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    k: int,
    max_iters: int,
    tol: float,
    round_decimals: int | None,
) -> list[list[list[float]]]:
    """Lloyd's k-means on each of the m equal-width subspaces of
    ``vec_col`` at once; returns codebooks[sub][cluster] -> centroid.

    ``(id, vector)`` is spread across cores (small single-file inputs
    otherwise iterate on ONE partition) and persisted once; the persist is
    released before returning. One collect takes the k seed rows, shared
    by every subspace, and ``dim`` from them; ``dim`` must be divisible by
    ``m``. Each iteration is one job pair: the persisted rows are exploded
    into one (sub, slice) row per subspace still training, each slice is
    assigned against its own subspace's codebook, and ONE ``Summarizer``
    aggregate grouped by (sub, cluster) returns the m x k vector sums (one
    aggregate expression at any width, so the plan and the job count do not
    grow with dim or m). Means and shifts are computed on the driver; empty
    clusters keep their centroid, and a subspace whose largest squared
    centroid shift falls below ``tol`` freezes and leaves the later
    iterations. Each subspace so follows exactly the steps of a one-subspace
    run over its slice alone.

    The aggregate holds up to m x k Summarizer buffers per task, where a
    one-subspace run holds k. Past the session's fallback threshold (128
    buffers by default) Spark finishes the task sort-based and merges
    partial sums, which moves their last bits, so the iterations run under
    ``_fallback_scaled``: each subspace keeps the buffer budget, and the
    sums, of a run on its own. The buffers total k x dim doubles, the size
    of the centroid literal the plan already carries."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import spread

    def _round(cents):
        if round_decimals is None:
            return cents
        return [[round(v, round_decimals) for v in c] for c in cents]

    base = spread(
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")),
        id_col,
    ).persist()
    try:
        seeds = [
            list(r["__v"])
            for r in base.orderBy(
                stable_bucket(F.col(id_col), 1 << 31).asc(), F.col(id_col).asc()
            ).limit(k).collect()
        ]
        if not seeds:
            raise ValueError("empty input (or train_fraction sampled zero rows)")
        dim = len(seeds[0])
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m {m}")
        if len(seeds) < k:
            warnings.warn(
                f"k={k} but input has only {len(seeds)} rows; "
                f"proceeding with k={len(seeds)}",
                stacklevel=3,
            )
        w = dim // m
        books = [_round([s[sub * w:(sub + 1) * w] for s in seeds]) for sub in range(m)]
        vec = F.col("__v")
        active = list(range(m))
        with _fallback_scaled(df.sparkSession, m):
            for _ in range(max_iters):
                parts = base.select(
                    F.inline(_length_checked(vec, F.lit(dim), F.array(*[
                        F.struct(F.lit(sub).alias("sub"), _slice_subspace(vec, sub, w).alias("sv"))
                        for sub in active
                    ])))
                )
                books_lit = F.array(*[_matrix(b) for b in books])
                best = _nearest(F.col("sv"), F.get(books_lit, F.col("sub")))
                stats = (
                    parts.groupBy("sub", best.getField("j").alias("cluster"))
                    .agg(F.count("*").alias("n"), Summarizer.sum(array_to_vector("sv")).alias("s"))
                    .select("sub", "cluster", "n", vector_to_array("s").alias("s"))
                    .collect()
                )
                new_books = {sub: list(books[sub]) for sub in active}
                for r in stats:
                    new_books[r["sub"]][r["cluster"]] = [v / r["n"] for v in r["s"]]
                for sub, new in new_books.items():
                    new = _round(new)
                    shift = max(_sq_dist_py(a, b) for a, b in zip(books[sub], new))
                    books[sub] = new
                    if shift < tol:
                        active.remove(sub)
                if not active:
                    break
    finally:
        base.unpersist()
    return books


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iters: int = 10,
    tol: float = 1e-6,
    round_decimals: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means: the one-subspace case of ``_lloyd``. Returns
    (assignments df with a ``cluster`` column, final centroids). The
    assignment plan recomputes from the final centroids, so no persisted
    data outlives the call.

    ``round_decimals``: round each updated centroid component (driver-side,
    Python round) to this many decimals per iteration. This makes the final
    centroids ENGINE-PORTABLE: the per-cluster vector sums are double
    aggregates whose partial-merge order varies run-to-run and
    engine-to-engine (last-ulp noise), and rounding quantizes that noise
    away so an independent implementation (the unrolled-Lloyd DuckDB oracle
    in plans/oracle_vec.py) reproduces bit-identical centroids. 1e-6 is far
    above double noise and far below any real centroid separation — it does
    not change clustering quality, it pins reproducibility."""
    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import spread

    (centroids,) = _lloyd(df, vec_col, id_col, 1, k, max_iters, tol, round_decimals)
    return assign_clusters(spread(df, id_col), vec_col, centroids), centroids


def kmeans_df(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iters: int = 10,
    tol: float = 1e-6,
    round_decimals: int | None = None,
    reliable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """DataFrame-RESIDENT Lloyd — the huge-k twin of ``kmeans``: the
    centroid state never touches the driver. Assignment goes through
    assign_clusters_join (broadcast join, no plan literal), the update is a
    groupBy(cluster) Summarizer aggregate whose result STAYS a (cluster,
    centroid) DataFrame, empty clusters keep their centroid via a left
    join + coalesce, and convergence is the max shift, observed on the job
    that fills the iteration's checkpoint. Use
    past the literal form's ~10^8-float centroid bound (module docstring);
    below it, ``kmeans`` saves a join per iteration.

    Switch rule, MEASURED (crossover sweep in SCALING.md): there is no
    performance crossover — the df/literal ratio WIDENS with k (1.55x at
    k=128, 2.07x at k=512, 2.43x at k=1024 on 16x sf0.1) because the join
    fan-out is also O(k) per row while the literal form does the same
    compute shuffle-free inside codegen. The bound is PHYSICAL: pick
    ``kmeans`` whenever k x dim fits the ~10^8-float plan bound, and this
    variant only past it.

    Semantics mirror ``kmeans`` exactly — same stable-md5 seeding order,
    same ties-to-lowest-cluster argmin, same empty-cluster and early-stop
    rules; ``round_decimals`` uses HALF_EVEN (F.bround) where the literal
    form uses Python round() — both HALF_EVEN, but on different operands:
    round() acts on the exact binary double, F.bround on the
    shortest decimal repr (Java BigDecimal.valueOf). They agree except when
    a centroid component's shortest repr is an EXACT tie at the target
    scale (e.g. 2.675 at 2 decimals — repr-tie rounds to 2.68, the binary
    value 2.67499...982 to 2.67). A mean of summed doubles landing on a
    shortest-repr tie at 6 decimals is a measure-zero event the pinned-data
    tests would catch deterministically if the fixtures ever produced one;
    on any tie-free input the two variants produce IDENTICAL centroids and
    assignments (pinned in tests). Per-iteration centroid lineage is
    truncated (localCheckpoint; ``reliable=True`` for decommissioning-prone
    clusters, as in operators/dedup). Returns (assignments df, (cluster,
    centroid) df).

    Precondition: ``id_col`` must be unique — it is the grouping key of
    the per-iteration assignment aggregate and of assign_clusters_join's
    argmin, exactly as every other consumer of the embeddings key assumes.
    Rows sharing an id would collapse to one update contribution, so the
    first iteration raises on a repeated id (a row count per id group in
    that aggregate, checked with ``raise_error``: no extra Spark job);
    deduplicate upstream if ingestion can produce id collisions."""
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer
    from pyspark.sql import Window

    from tesla_competitive_intelligence_etl_pipeline_spark.operators.dedup import (
        _truncate_lineage,
    )

    def _round(col):
        if round_decimals is None:
            return col
        return F.transform(col, lambda x: F.bround(x, round_decimals))

    from tesla_competitive_intelligence_etl_pipeline_spark.sources.io import (
        observed,
        spread,
    )

    slim = (
        spread(
            df.select(id_col, F.col(vec_col).cast("array<double>").alias("__v")),
            id_col,
        )
        .persist()
    )
    try:
        # same deterministic seeding as kmeans: the k lowest
        # (stable_bucket(id), id) rows, cluster index = seed rank. The
        # k-row window is the one k-sized single-task stage (seeding only).
        # The actual_k count below doubles as the empty-input probe.
        order = [stable_bucket(F.col(id_col), 1 << 31).asc(), F.col(id_col).asc()]
        w = Window.orderBy(*order)
        cents = _truncate_lineage(
            slim.orderBy(*order)
            .limit(k)
            .select(
                (F.row_number().over(w) - 1).alias("cluster"),
                _round(F.col("__v")).alias("centroid"),
            ),
            reliable,
        )
        actual_k = cents.count()
        if actual_k == 0:
            raise ValueError("kmeans_df: empty input")
        if actual_k < k:
            warnings.warn(
                f"kmeans_df: k={k} but input has only {actual_k} rows; "
                f"proceeding with k={actual_k}",
                stacklevel=2,
            )
        for _ in range(max_iters):
            # Assignment without a join-back (one shuffle fewer per
            # iteration): the update step only
            # needs (cluster, __v), and __v is constant across the k
            # broadcast-fanned rows of one id, so it rides INSIDE the argmin
            # struct instead of being re-attached by the
            # assign_clusters_join(slim)-back-to-slim join. The comparator
            # is untouched — (s, j) is strictly ordered within an id group
            # (one row per cluster), so the trailing __v field can never
            # decide a min; assignments are bit-identical to
            # assign_clusters_join (pinned in tests). An id group holds one
            # row per cluster, so more than actual_k rows is a repeated id.
            score = _sq_dist(F.col("__v"), F.col("centroid"))
            assigned = (
                slim.join(F.broadcast(cents))
                .groupBy(id_col)
                .agg(
                    F.min(
                        F.struct(
                            score.alias("s"),
                            F.col("cluster").alias("j"),
                            F.col("__v").alias("v"),
                        )
                    ).alias("__best"),
                    F.count(F.lit(1)).alias("__n"),
                )
                .select(
                    F.when(
                        F.col("__n") > actual_k,
                        F.raise_error(F.format_string(
                            f"kmeans_df: {id_col} %s is not unique", F.col(id_col)
                        )),
                    ).otherwise(F.col("__best").getField("j")).alias("cluster"),
                    F.col("__best").getField("v").alias("__v"),
                )
            )
            means = (
                assigned.select(
                    "cluster", array_to_vector(F.col("__v")).alias("__vv")
                )
                .groupBy("cluster")
                .agg(F.count("*").alias("n"), Summarizer.sum(F.col("__vv")).alias("s"))
                .select(
                    "cluster",
                    _round(
                        F.transform(vector_to_array("s"), lambda x: x / F.col("n"))
                    ).alias("new_c"),
                )
            )
            # The per-cluster squared shift is computed IN the same plan the
            # checkpoint materializes (the old centroid is right there in
            # the join), so the convergence probe below is observed on the
            # job that fills the checkpoint.
            new_cents = _truncate_lineage(
                cents.join(means, "cluster", "left").select(
                    "cluster",
                    F.coalesce("new_c", "centroid").alias("centroid"),
                    _sq_dist(
                        F.col("centroid"), F.coalesce("new_c", "centroid")
                    ).alias("__shift"),
                ),
                reliable,
            )
            # convergence: ONE scalar (max squared centroid shift) — the
            # only driver-bound data in the whole loop
            shift = observed(new_cents, F.max("__shift"))[0]
            cents = new_cents.select("cluster", "centroid")
            if shift < tol:
                break
    finally:
        slim.unpersist()
    return assign_clusters_join(df, vec_col, cents, id_col), cents


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-scale path for billion-vector ANN.
# A dim-d float vector (4d bytes) becomes m uint8-ish codes (m bytes): the
# vector is split into m subspaces, each quantized against its own k-word
# codebook (all m trained in one Lloyd loop). Search uses asymmetric
# distance: the query's per-subspace distance table (m x k floats,
# driver-computed) enters the plan as a literal, so scoring a vector is m
# array lookups + adds — map-side, no join, no full-precision vectors read
# at query time.
# ---------------------------------------------------------------------------


def _adc(tables, m: int):
    """Asymmetric distance of each row's ``pq_code``: the sum over the m
    subspaces of ``tables[sub][code]``, folded left to right."""
    return F.aggregate(
        F.zip_with(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.col("pq_code"),
            lambda sub, code: F.get(F.get(tables, sub), code),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dist_table(vec, book: list[list[float]]):
    """Squared distances of the column ``vec`` to each codeword of
    ``book``: one row of a query's ADC table, computed map-side."""
    return F.transform(_matrix(book), lambda c: _sq_dist(vec, c))


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    max_iters: int = 5,
    train_fraction: float | None = None,
    round_decimals: int | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: k-means on each of the m sub_dim-wide slices,
    all m in ONE Lloyd loop over one scan (``_lloyd``), so the job count of
    a training run does not grow with m. Each codebook equals what
    ``kmeans`` returns on its slice alone. Returns
    codebooks[sub][code] -> centroid. dim must be divisible by m.
    ``round_decimals`` rounds each update (engine-portable codebooks — see
    kmeans).

    ``train_fraction``: train on a stable md5-bucket sample (the standard
    100 TB practice — codebooks converge on a 1-10% sample; ENCODING is the
    full-corpus pass, and it is map-side). Deterministic and engine-portable
    like every sampling path in this engine."""
    if train_fraction is not None:
        from tesla_competitive_intelligence_etl_pipeline_spark.operators.sampling import (
            sample_fraction,
        )

        df = sample_fraction(df, id_col, train_fraction)
    return _lloyd(df, vec_col, id_col, m, k, max_iters, 1e-6, round_decimals)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``pq_code`` (array<int>, length m): nearest codeword per subspace.
    Map-side expression; write this table instead of the float vectors for a
    dim*4/m compression of the searchable corpus. A non-null vector whose
    length is not m x sub_dim raises."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    vec = F.col(vec_col).cast("array<double>")
    codes = F.array(*[
        _nearest(_slice_subspace(vec, sub, sub_dim), _matrix(codebooks[sub])).getField("j")
        for sub in range(m)
    ])
    return df.withColumn("pq_code", _length_checked(vec, F.lit(m * sub_dim), codes))


def pq_build_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    max_iters: int = 5,
    train_fraction: float | None = None,
    round_decimals: int | None = None,
    fs=None,
    lease_owner: str | None = None,
    corpus: str | None = None,
) -> list[list[list[float]]]:
    """Materialize the PQ index — the one-time ingest/offline cost a
    deployment amortizes (the PQ twin of build_ivf_index): train codebooks
    (optionally on a stable sample), encode the FULL corpus map-side, and
    write ``path``/codes (id, pq_code — m small ints per vector, the
    dim*4/m-compressed searchable table) plus ``path``/codebooks (one row,
    m x k x sub_dim doubles). Online search then never touches the float
    vectors or retrains anything. Training reads no table state and runs
    before the index's leased section (streaming.fs.leased), which
    holds only the two writes. Returns the codebooks.

    ``corpus``: when given, auto-registers the searchable ``codes`` table
    in the corpus' derived-store registry as kind ``'table'``. A pure PQ
    index has no tombstones, so it registers on the audit surface:
    takedown names it under ``manual_tables`` and takedown_verify scans it
    for residual ids. The codebooks sidecar holds no per-id content and is
    not registered."""
    fs = fs or mfs.LOCAL_FS
    books = pq_train(
        df, vec_col=vec_col, id_col=id_col, m=m, k=k,
        max_iters=max_iters, train_fraction=train_fraction,
        round_decimals=round_decimals,
    )
    with mfs.leased(fs, path, lease_owner):
        pq_encode(df, books, vec_col=vec_col).select(
            F.col(id_col), "pq_code"
        ).write.mode("overwrite").parquet(path + "/codes")
        df.sparkSession.createDataFrame(
            [(books,)], "codebooks array<array<array<double>>>"
        ).write.mode("overwrite").parquet(path + "/codebooks")
    if corpus is not None:
        from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown

        takedown.register_store(corpus, path + "/codes", "table", fs=fs)
    return books


def pq_load_codebooks(spark: SparkSession, path: str) -> list[list[list[float]]]:
    """Read back the (tiny) codebook table written by pq_build_index."""
    row = spark.read.parquet(path + "/codebooks").first()
    return [[list(c) for c in book] for book in row["codebooks"]]


def pq_index_append(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
    fs=None,
    lease_owner: str | None = None,
) -> int:
    """Incremental PQ index maintenance — the continual-ingest twin of
    ivf_index_append: encode ONLY the new batch against the STORED codebooks
    (the quantizer stays frozen — classic PQ deployment; re-train on the
    re-index cadence if drift accumulates) and append the (id, pq_code) rows
    to the codes table. Cost is a map-side encode of the batch plus the
    append write — O(batch), never a re-encode of the corpus.

    A staged append under the index lease (operators/index_commit):
    readers never see a torn batch, and ``index_commit.recover`` heals a
    crash.
    The stored codebooks are read inside the leased section, so a re-train
    landing meanwhile cannot leave codes that searches with the new
    codebooks misread; a caller-passed ``codebooks`` skips that read and
    that protection. Returns the number of rows appended, observed on the
    write's own evaluation."""
    fs = fs or mfs.LOCAL_FS
    st = ic.store("pq", path)
    with mfs.leased(fs, st.lease, lease_owner):
        if codebooks is None:
            codebooks = pq_load_codebooks(spark, path)
        codes, obs = ic.counted(
            pq_encode(new_vectors, codebooks, vec_col=vec_col).select(F.col(id_col), "pq_code")
        )
        ic.staged_append(fs, st, ["codes"], codes.write.parquet)
    return int(obs.get["n"])


def pq_topk_indexed(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance search over a MATERIALIZED PQ index
    (pq_build_index) — the online path: scan only the codes table (m ints
    per row), distance = m literal-table lookups, then the k-row top-k
    reduction. No training, no float vectors, no join in the timed plan."""
    if codebooks is None:
        codebooks = pq_load_codebooks(spark, path)
    encoded = spark.read.parquet(path + "/codes")
    return pq_topk(encoded, codebooks, query_vec, k=k, id_col=id_col)


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: distance table computed driver-side
    (m x k_codes floats), broadcast as a literal; per row the approximate
    squared distance is m table lookups summed — no float vectors touched.
    Returns (id, approx_sq_dist) ascending with a total order (dist, id)."""
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    table = [
        [_sq_dist_py(query_vec[sub * sub_dim:(sub + 1) * sub_dim], c) for c in book]
        for sub, book in enumerate(codebooks)
    ]
    return (
        encoded.select(
            F.col(id_col), F.round(_adc(_matrix(table), m), 6).alias("approx_sq_dist")
        )
        .orderBy(F.col("approx_sq_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cell probe + product-quantized shortlist + exact refine
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    m: int = 4,
    k: int = 16,
    max_iters: int = 5,
    train_fraction: float | None = None,
    round_decimals: int | None = None,
    fs=None,
    lease_owner: str | None = None,
    lease_ttl_sec: float = 3600.0,
    corpus: str | None = None,
) -> list[list[list[float]]]:
    """Materialize the combined IVF-PQ index — the production ANN layout
    (FAISS's IVFPQ + refine, re-expressed as Spark tables): PQ codebooks
    trained once (optionally on a stable md5-bucket sample), then FOUR
    tables under ``path``:

      vectors/    float vectors PARTITIONED BY cell (read only by the final
                  exact-refine step, and only the probed cells' partitions)
      codes/      (id, pq_code) PARTITIONED BY cell — the dim*4/m-compressed
                  shortlist table the ADC scan reads
      centroids/  one row per cell (the coarse quantizer, tiny)
      codebooks/  one row (m x k x sub_dim doubles)

    A search touches n_probe/n_cells of codes/ via parquet partition
    pruning, ranks those rows with m literal-table lookups each, and reads
    float vectors for only the k*refine-row shortlist — at 100 TB the heavy
    scan is the compressed codes of the probed cells, never the corpus.

    Tuning (measured, SCALING.md): ``m`` is the recall lever when
    neighbors are weakly separated — on the adversarial structureless
    corpus recall@10 doubles from m=4 (64x compression) to m=32 (8x), and
    at m=32 / refine=8 recall exactly meets the n_probe/n_cells
    probe-coverage bound (the ADC shortlist recovers every in-probe
    neighbor). Order of knobs: m to the corpus's separation, n_probe for
    recall vs scan cost, refine last (cheap — k*refine row fetches).

    The writes run in the index's leased section (streaming.fs.leased);
    training reads no table state and runs before it, like build_ivf_index
    and pq_build_index.

    ``corpus``: when given, the build auto-registers the index in the corpus' derived-store registry
    (takedown.register_store, kind 'ivfpq') after the writes commit, so
    no-args takedown / takedown_verify cover it with no manual
    registration step. Omit only for corpus-less scratch indexes."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators.similarity import (
        _cell_centroids,
    )

    fs = fs or mfs.LOCAL_FS
    books = pq_train(
        df, vec_col=vec_col, id_col=id_col, m=m, k=k,
        max_iters=max_iters, train_fraction=train_fraction,
        round_decimals=round_decimals,
    )
    with mfs.leased(fs, path, lease_owner, lease_ttl_sec):
        df.write.mode("overwrite").partitionBy(cell_col).parquet(
            path + "/vectors"
        )
        pq_encode(df, books, vec_col=vec_col).select(
            F.col(id_col), F.col(cell_col), "pq_code"
        ).write.mode("overwrite").partitionBy(cell_col).parquet(path + "/codes")
        _cell_centroids(df, vec_col, cell_col).write.mode(
            "overwrite"
        ).parquet(path + "/centroids")
        df.sparkSession.createDataFrame(
            [(books,)], "codebooks array<array<array<double>>>"
        ).write.mode("overwrite").parquet(path + "/codebooks")
    if corpus is not None:
        from tesla_competitive_intelligence_etl_pipeline_spark.operators import takedown

        takedown.register_store(corpus, path, "ivfpq", fs=fs)
    return books


def _ivfpq_search(
    centroids: DataFrame,
    codes: DataFrame,
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int,
    n_probe: int,
    refine: int,
    id_col: str,
    vec_col: str,
    cell_col: str,
) -> DataFrame:
    """Shared IVF-PQ search core: probe the n_probe cells whose centroid is
    nearest the query (an n_probe-row collect — the standard IVF probe),
    ADC-rank ONLY those cells' PQ codes into a k*refine shortlist, then
    exact-cosine re-rank the shortlist against the float vectors (broadcast
    semi of the tiny shortlist into the probed partitions). Deterministic
    end-to-end: every score is rounded to 6 decimals with id tiebreaks, so
    the probe set, the shortlist SET, and the final order are all
    engine-portable (the DuckDB oracle re-derives each stage)."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators.similarity import (
        cosine,
    )

    qlit = F.lit([float(v) for v in query_vec])
    probed_rows = (
        centroids.select(
            cell_col, F.round(cosine(F.col("centroid"), qlit), 6).alias("c_sim")
        )
        .orderBy(F.desc("c_sim"), F.asc(cell_col))
        .limit(n_probe)
        .collect()
    )
    cells = [r[cell_col] for r in probed_rows]
    shortlist = pq_topk(
        codes.filter(F.col(cell_col).isin(cells)),
        codebooks,
        [float(v) for v in query_vec],
        k=k * refine,
        id_col=id_col,
    )
    return (
        vectors.filter(F.col(cell_col).isin(cells))
        .join(F.broadcast(shortlist.select(id_col)), id_col)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qlit), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_topk_indexed(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ search over a MATERIALIZED index (build_ivfpq_index) — the
    online path. The probed-cell filter lands in the codes AND vectors
    scans' PartitionFilters (asserted in tests/test_plans.py), the ADC scan
    reads only (id, cell, pq_code), and the refine step reads float vectors
    for just the broadcast k*refine shortlist. Returns (id, cos_sim)
    descending with a total (cos_sim, id) order."""
    if codebooks is None:
        codebooks = pq_load_codebooks(spark, path)
    return _ivfpq_search(
        spark.read.parquet(path + "/centroids"),
        # tombstoned ids never reach the ADC scan, so the shortlist and the
        # refine join exclude them: with frozen quantizers the results
        # equal an index that never held those vectors
        ic.read_live(spark, ic.store("ivfpq", path), "codes", id_col),
        spark.read.parquet(path + "/vectors"),
        codebooks,
        query_vec,
        k, n_probe, refine, id_col, vec_col, cell_col,
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_probe: int = 2,
    refine: int = 4,
    m: int = 4,
    k_codes: int = 16,
    max_iters: int = 5,
    train_fraction: float | None = None,
    round_decimals: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Ad-hoc IVF-PQ search straight off a DataFrame (no materialized
    index): train-or-take codebooks, derive the coarse centroids, encode and
    ADC-rank only the probed cells (the cell filter pushes below the
    map-side encode projection), exact-refine the shortlist. Same
    parameters and identical results to build_ivfpq_index +
    ivfpq_topk_indexed (pinned in tests) — use the indexed pair when the
    corpus outlives one query."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators.similarity import (
        _cell_centroids,
    )

    if codebooks is None:
        codebooks = pq_train(
            embeddings, vec_col=vec_col, id_col=id_col, m=m, k=k_codes,
            max_iters=max_iters, train_fraction=train_fraction,
            round_decimals=round_decimals,
        )
    query_vec = [
        float(x)
        for x in embeddings.filter(F.col(id_col) == query_id).first()[vec_col]
    ]
    codes = pq_encode(embeddings, codebooks, vec_col=vec_col).select(
        F.col(id_col), F.col(cell_col), "pq_code"
    )
    return _ivfpq_search(
        _cell_centroids(embeddings, vec_col, cell_col),
        codes,
        embeddings,
        codebooks,
        query_vec,
        k, n_probe, refine, id_col, vec_col, cell_col,
    )


def ivfpq_index_append(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    fs=None,
    lease_owner: str | None = None,
) -> int:
    """Incremental maintenance of the COMBINED IVF-PQ index: assign each
    new vector to its nearest existing cell centroid (max cosine, the
    probe's metric) and encode it against the STORED codebooks — both
    quantizers stay frozen (classic deployment; rebuild on the re-index
    cadence if drift accumulates) — then append to vectors/ AND codes/ as
    ONE transaction. Cost is O(batch): a map-side assign + encode and two
    staged writes, never a read of the corpus.

    One staged append into BOTH tables with a single root marker
    (operators/index_commit), vectors landing before codes: readers never
    see codes whose vectors are missing or a torn batch in either table,
    and ``index_commit.recover`` heals a crash. The codes are encoded by
    reading back the staged vectors, so they cannot disagree with the
    vectors that land (a second evaluation of a non-deterministic batch
    could). Centroids and codebooks are read inside the leased section,
    pinning one index generation. Returns the number of rows appended,
    observed on the vectors write itself."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators.similarity import (
        _assign_cells,
    )

    fs = fs or mfs.LOCAL_FS
    st = ic.store("ivfpq", path)
    with mfs.leased(fs, st.lease, lease_owner):
        codebooks = pq_load_codebooks(spark, path)
        assigned, obs = ic.counted(
            _assign_cells(spark, path, new_vectors, id_col, vec_col, cell_col)
        )

        def write(vec_staging: str, codes_staging: str) -> None:
            assigned.write.partitionBy(cell_col).parquet(vec_staging)
            pq_encode(spark.read.parquet(vec_staging), codebooks, vec_col=vec_col).select(
                F.col(id_col), F.col(cell_col), "pq_code"
            ).write.partitionBy(cell_col).parquet(codes_staging)

        ic.staged_append(fs, st, ["vectors", "codes"], write)
    return int(obs.get["n"])


def ivfpq_topk_batch(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """BATCH IVF-PQ search: top-k neighbors for EVERY row of a query table
    in ONE distributed plan — the production bulk-retrieval path ("embed
    the crawl, find neighbors for every new doc"). A driver-side loop over
    ivfpq_topk_indexed is the collect-and-iterate anti-pattern this
    operator exists to replace.

    Plan shape (no per-query driver work at all):
      1. probe table: queries x broadcast(centroids) -> cosine ->
         per-query top-n_probe window; each probe row CARRIES the query's
         ADC distance table (m x k_codes doubles, computed map-side from
         the codebook literal) and its float vector.
      2. candidates: codes JOIN broadcast(probe) on cell — one broadcast
         delivers cells, distance tables, and query vectors; the parquet
         codes scan is pruned to the UNION of probed cells via dynamic
         partition pruning (asserted in tests/test_plans.py).
      3. ADC: m lookups per (candidate, query) row into the joined
         distance-table column; per-query k*refine shortlist window.
      4. refine: vectors JOIN broadcast(shortlist) -> exact cosine ->
         per-query top-k window.
    Every score is rounded with id tiebreaks, so results are
    engine-portable (DuckDB oracle re-derives all four stages) and
    identical to per-query ivfpq_topk_indexed calls (pinned in tests).

    Scale notes: the broadcast probe table is n_queries x n_probe rows
    (each ~m*k_codes + dim doubles) — fine into the 10^5-query range;
    past that Spark's broadcast threshold flips the joins to shuffles,
    which is the correct plan at that scale anyway. The candidate fan-out
    (sum over queries of probed-cell row counts) is the irreducible work
    of batch ANN; n_probe is the lever. Returns (query_id, id, cos_sim),
    k rows per query."""
    from tesla_competitive_intelligence_etl_pipeline_spark.operators.similarity import (
        cosine,
    )

    if codebooks is None:
        codebooks = pq_load_codebooks(spark, path)
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    centroids = spark.read.parquet(path + "/centroids")
    # tombstoned ids never reach the ADC stage of any query
    codes = ic.read_live(spark, ic.store("ivfpq", path), "codes", id_col)
    vectors = spark.read.parquet(path + "/vectors")

    qvec = F.col(query_vec_col).cast("array<double>")

    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.array(*[
            _dist_table(_slice_subspace(qvec, sub, sub_dim), book)
            for sub, book in enumerate(codebooks)
        ]).alias("__dtab"),
    )
    from pyspark.sql import Window

    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("__c_sim"), F.asc(cell_col)
    )
    probe = (
        q.join(F.broadcast(centroids))
        .withColumn(
            "__c_sim", F.round(cosine(F.col("centroid"), F.col(query_vec_col)), 6)
        )
        .withColumn("__pr", F.row_number().over(probe_w))
        .filter(F.col("__pr") <= n_probe)
        .select(query_id_col, cell_col, query_vec_col, "__dtab")
    )
    short_w = Window.partitionBy(query_id_col).orderBy(
        F.asc("__adc"), F.asc(id_col)
    )
    shortlist = (
        codes.join(F.broadcast(probe), cell_col)
        .withColumn("__adc", F.round(_adc(F.col("__dtab"), m), 6))
        .withColumn("__sr", F.row_number().over(short_w))
        .filter(F.col("__sr") <= k * refine)
        # the candidate's cell rides along: joining the refine scan on
        # (cell, id) instead of id alone lets dynamic partition pruning cut
        # the cell-partitioned vectors/ table to the shortlisted cells (the
        # per-query path prunes via its isin() filter), instead of reading
        # EVERY cell's float vectors to refine a few hundred rows.
        # Candidates are unchanged: codes and vectors carry the SAME cell
        # for an id (both written from one assignment), so the extra
        # equi-key drops nothing.
        .select(query_id_col, cell_col, id_col, query_vec_col)
    )
    final_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        vectors.join(F.broadcast(shortlist), [cell_col, id_col])
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6).alias(
                "cos_sim"
            ),
        )
        .withColumn("__fr", F.row_number().over(final_w))
        .filter(F.col("__fr") <= k)
        .drop("__fr")
    )
