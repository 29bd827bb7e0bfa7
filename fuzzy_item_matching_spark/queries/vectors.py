"""Vector math queries over the `embeddings` table (SURVEY §2.H).

Replaces the reference's Scala ``squared_dist`` UDF surface
(V1, `03_Train & Deploy Model.py:86-96`) and Normalizer
(T9, `01_Feature Engineering.py:292-295`) with native array expressions.

Exactness: Spark's ``F.aggregate`` and DuckDB's ``list_sum`` both fold
the array left-to-right in double, so dot/sqdist/cosine/norm are
BITWISE identical across engines (verified empirically at sf0.01) —
these oracles are exact, not tolerance checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.functions.vector import (
    cosine_similarity,
    l2_norm,
    l2_normalize,
    squared_dist,
)
from fuzzy_item_matching_spark.queries import fit_once, query
from fuzzy_item_matching_spark.tables import EMB_DIM, load_table

@query("vec_l2_norm")
def vec_l2_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm + first component of the unit vector (T9 Normalizer
    parity, `01_Feature Engineering.py:292-295`). Narrow projection —
    no shuffle at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        l2_norm("embedding").alias("norm"),
        F.element_at(l2_normalize("embedding"), 1).alias("e0_unit"),
    )


@query("vec_label_pair_stats")
def vec_label_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise distances: dot/sqdist/cosine for same-label
    pairs (V1 applied `03_Train & Deploy Model.py:100-107`). The label
    IS the blocking key — work is Σ per-label n², never global n².
    One shuffle on label, then each block scores in the sorted-run
    pass with one numpy kernel (dimension-ordered accumulation keeps
    results bitwise equal to the fold/list_sum oracle; the per-pair
    interpreted-HOF join form measured ~2.5× slower at sf0.1)."""
    from fuzzy_item_matching_spark.operators.similarity import blocked_pair_stats

    e = load_table(spark, sf_dir, "embeddings")
    return blocked_pair_stats(e, "vec_id", "embedding", "label", dim=EMB_DIM)


@query("vec_centroid_by_label")
def vec_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid via posexplode + hash agg (F3 UDTF surface,
    `01_Feature Engineering.py:213`). |labels|×dim output rows; the agg
    is partial+final so the shuffle carries only group sums."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("centroid"))
        .orderBy("label", "pos")
    )


@query("vec_knn_bruteforce")
def vec_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k per query vector — the exact ANN
    baseline (SURVEY §4.3 extension). O(n²) by design: this is the
    oracle twin that `sim_lsh_bucketed_pairs` and the IVF path are
    recall-checked against; at 100 TB you run those, not this.
    Deterministic tie-break on neighbor id."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("qid"),
        F.col("b.vec_id").alias("nid"),
        cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("qid", "nid", "cosine", "rnk")
    )


_Q_DIM = 64  # embedding dimensionality (embeddings.parquet)
_Q_K = 5  # neighbors per query vector


@query("vec_int8_topk")
def vec_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization + quantized top-k retrieval:
    per-dimension max-abs scales (one corpus pass), q_i =
    round(127*x_i/scale_i), neighbors ranked by the INTEGER dot
    product — the 4x-memory / int-ALU compression every production
    vector index applies before IVF/LSH bucketing. Integer dots make
    the ranking bit-exact across engines (the one float op per
    dimension, 127*x/s, is a two-op IEEE chain replayed identically
    in the oracle).

    Scale shape: scales are a D-row agg folded to ONE array row and
    broadcast — never collected to the driver; quantization is a
    narrow per-row transform; at 100 TB the quantized corpus feeds the
    IVF/LSH candidate paths (sim_ann_*) unchanged — the bounded query
    batch x corpus product here exists to verify the quantized
    ranking itself, with the broadcast on the small (query) side."""
    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    sc = pos.groupBy("i").agg(F.max(F.abs(F.col("x"))).alias("s"))
    sarr = sc.agg(
        F.array_sort(F.collect_list(F.struct("i", "s"))).alias("ss")
    ).select(F.transform("ss", lambda t: t["s"]).alias("arr"))
    q = e.crossJoin(F.broadcast(sarr)).select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            "arr",
            lambda x, s: F.when(s == 0, F.lit(0).cast("long")).otherwise(
                F.round(F.lit(127.0) * x / s).cast("long")
            ),
        ).alias("qv"),
    )
    queries = q.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qa")
    )
    pairs = q.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with("qa", "qv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _Q_K)
        .select("query_id", "neighbor_id", "qdot", "rnk")
    )


_MA_DIM = 8  # coarse prefix dims (matryoshka truncation)
_MA_SHORT = 50  # stage-1 shortlist per query

@query("vec_matryoshka_topk")
def vec_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage retrieval: rank ALL candidates by the dot
    product of the first {dim} dims only (the truncated-embedding
    coarse pass), keep a {short}-deep shortlist per query, then
    re-rank the shortlist with the full {full}-dim dot — the
    prefix-truncation trick (Kusupati et al. 2022) that modern
    embedding models train for.

    Plan: the coarse pass reads {dim}/{full} of the vector payload (at
    scale the prefix is stored as its own column → column pruning
    makes the first stage ~8× cheaper IO); the exact pass touches only
    |queries|×{short} pairs via two id equi-joins. Same
    shortlist-then-rerank shape as the IVFPQ ADC refinement
    (queries/similarity.py) but with zero index build cost.

    Determinism: both dots fold dimension-by-dimension in array order
    (bit-identical to the oracle's list_sum); ranks tie-break on
    neighbor id at both stages.
    """
    from fuzzy_item_matching_spark.functions.vector import dot

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.slice("embedding", 1, _MA_DIM).alias("qpre"),
        F.col("embedding").alias("qvec"),
    )
    cand = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.slice("embedding", 1, _MA_DIM).alias("cpre"),
        F.col("embedding").alias("cvec"),
    )
    coarse = (
        q.select("query_id", "qpre")
        .join(cand.select("neighbor_id", "cpre"),
              F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("qpre"), F.col("cpre")).alias("cdot"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("cdot"), F.asc("neighbor_id")
    )
    short = (
        coarse.withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= _MA_SHORT)
        .drop("crnk")
    )
    full = (
        short.join(q.select("query_id", "qvec"), "query_id")
        .join(cand.select("neighbor_id", "cvec"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "cdot",
            dot(F.col("qvec"), F.col("cvec")).alias("fdot"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("fdot"), F.asc("neighbor_id")
    )
    return (
        full.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= _Q_K)
        .select("query_id", "neighbor_id", "cdot", "fdot", "rnk")
    )


vec_matryoshka_topk.__doc__ = vec_matryoshka_topk.__doc__.format(
    dim=_MA_DIM, short=_MA_SHORT, full=_Q_DIM
)


_PCA_ITERS = 3
_PCA_Q = 2.0**40  # Gram fixed-point quantum (see docstring)


def _gram_long_partials(e) -> "DataFrame":
    """Per-task fixed-point Gram partials Σ floor((xᵢ·xⱼ)·2^40) as
    (i, j, s) rows with 1-based long indices — the input-sized pass of
    vec_pca_power / vec_pca_deflation, run as ONE Arrow batch kernel
    per task (guide §4.2: hand whole batches to vectorized numpy
    instead of 40M interpreted-HOF products + a 40M-row posexplode
    feeding the partial agg; only dim² partial rows per task reach the
    exchange).

    Exactness: float32 embeddings widen exactly to float64; x·y is the
    identical IEEE product the JVM cast path computed; ·2^40 is an
    exact exponent shift; floor has no tie mode; the int64 cast happens
    BEFORE summation (floored magnitudes can exceed 2^53, so a float
    sum would round — int64 accumulation is exact and
    order-insensitive, same as the engine's BIGINT sum). Pinned against
    the JVM expression path in tests/test_round14_opt.py.

    Dirty-input guard (r15, ADVICE r14): NULL / wrong-dimension
    embeddings are dropped BEFORE the kernel (the lsh.py/ivf.py/pq.py
    ``valid_vectors`` discipline) — a None or ragged array would
    otherwise make ``reshape`` raise and kill the task, where the old
    expression path degraded to skipping the bad row; one bad row must
    cost one row. Empty-safe: with zero non-null rows the filter keeps
    nothing and the kernel yields nothing.
    """
    import numpy as np
    import pyarrow as pa

    from fuzzy_item_matching_spark.operators.lsh import valid_vectors

    q = _PCA_Q

    row = (
        e.select("embedding").filter(F.col("embedding").isNotNull()).first()
    )
    exp_dim = len(row[0]) if row is not None else 0

    def gen(batches):
        acc = None
        d = 0
        for b in batches:
            lst = b.column(0)
            n_rows = len(lst)
            if n_rows == 0:
                continue
            flat = lst.flatten()
            v = flat.to_numpy(zero_copy_only=False)
            if n_rows * exp_dim != v.size:
                # unreachable post-filter; refuse to misalign the Gram
                raise ValueError(
                    f"ragged embedding batch: {v.size} values for "
                    f"{n_rows} rows of dim {exp_dim}"
                )
            d0 = exp_dim
            v = v.reshape(n_rows, d0)
            if acc is None:
                d = d0
                acc = np.zeros((d, d), dtype=np.int64)
            for s0 in range(0, n_rows, 1024):
                blk = v[s0 : s0 + 1024]
                prod = np.einsum("ri,rj->rij", blk, blk)
                np.multiply(prod, q, out=prod)
                np.floor(prod, out=prod)
                acc += prod.astype(np.int64).sum(axis=0)
        if acc is not None:
            ii, jj = np.indices((d, d))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((ii + 1).ravel().astype("int64")),
                    pa.array((jj + 1).ravel().astype("int64")),
                    pa.array(acc.ravel()),
                ],
                names=["i", "j", "s"],
            )

    src = e.select(F.col("embedding").cast("array<double>").alias("emb"))
    if exp_dim > 0:
        src = valid_vectors(src, "emb", exp_dim)
    else:
        src = src.filter(F.col("emb").isNotNull())
    return src.mapInArrow(gen, "i long, j long, s long")


@query("vec_pca_power")
def vec_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) second-moment
    matrix by {t} unrolled power iterations — PCA's core reduced to
    relational primitives, the same discipline as the unrolled
    PageRank oracle. The Gram matrix C = XᵀX/n is built once as
    (i, j, c) rows from a per-dimension posexplode self-joined on the
    row id (map-side-combinable agg onto dim² cells — dim²-bounded
    state at ANY row count); each iteration is one dim²-row join +
    dim-key agg + scalar norm. Mean-centering would add one broadcast
    subtraction (train_standard_scaler's shape) and is omitted to
    keep the oracle focused on the iteration machinery; the returned
    eigenvalue is ||C·v|| at the last step (Rayleigh estimate on a
    unit vector).

    At 100 TB the input-sized work is ONLY the C agg (n·dim² products
    combined map-side); the iterations touch dim²-row frames,
    cluster-trivial. dim=64 here; at dim in the thousands you'd block
    the matvec, same plan shape.

    Determinism: the input-sized Gram accumulation is FIXED-POINT —
    each exact product (float32 inputs: x·y is exactly representable)
    quantizes via floor(p·2^40) (floor has no tie mode to disagree on)
    and sums as plain BIGINT, which is both order-insensitive and
    ~6× faster than DECIMAL(38,18) accumulation (measured: the
    38,18-decimal Gram took ~14 s at sf0.1 — BigDecimal adds dominate
    above 18 digits of precision; the long-sum form runs the whole
    query in ~4 s). The quantization (~2^-40 relative) is part of the
    operator's definition and replayed exactly by the oracle and the
    numpy test; raise the quantum or shard the sum if n·max|p|·2^40
    approaches long range. The metric-sized matvec and norm sums
    (≤dim terms) stay DECIMAL(38,18). Start vector all-ones (no dim
    constant, no seed); the sign of the returned direction is
    whatever the iteration converges to — deterministic, same in both
    engines."""
    e = load_table(spark, sf_dir, "embeddings")
    nn = e.agg(F.count(F.lit(1)).alias("n"))
    # r14 (guide §4.2): the n·dim² fixed-point products run as one
    # numpy kernel per Arrow batch (_gram_long_partials) — the r13
    # nested-transform + posexplode form pushed 40M interpreted-HOF
    # products per pass through the partial agg; now only dim² partial
    # rows per task reach the exchange. Same BIGINT sum, bit-exact.
    cov = (
        _gram_long_partials(e)
        .groupBy("i", "j")
        .agg(F.sum("s").cast("double").alias("s"))
        .crossJoin(F.broadcast(nn))
        .select("i", "j", (F.col("s") / _PCA_Q / F.col("n")).alias("c"))
    )
    cov.persist()
    v = cov.select("i").distinct().select("i", F.lit(1.0).alias("v"))
    # Per-iteration localCheckpoint + 1-row norm collect (the logreg-GD
    # state discipline, dc261ea): without it each iteration's v/w/nrm
    # re-derives the whole prior chain per consumer — the unrolled
    # replan was the heaviest bench entry (7.2 s at sf0.1; ~2× down
    # with the checkpointed state). w is dim-sized (64 rows), nrm a
    # scalar — both KB-scale; exactness unchanged (F.lit(nrm) is the
    # identical double the broadcast join carried).
    eig = None
    for _ in range(_PCA_ITERS):
        w = (
            cov.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(
                F.sum((F.col("c") * F.col("v")).cast("decimal(38,18)"))
                .cast("double")
                .alias("w")
            )
        ).localCheckpoint(eager=True)
        [nr] = w.agg(
            F.sqrt(
                F.sum((F.col("w") * F.col("w")).cast("decimal(38,18)")).cast(
                    "double"
                )
            ).alias("nrm")
        ).collect()
        eig = nr["nrm"]
        v = w.select("i", (F.col("w") / F.lit(eig)).alias("v"))
    return v.select(
        (F.col("i") - 1).alias("dim_idx"),
        F.col("v").alias("loading"),
        F.lit(eig).alias("eigenvalue"),
    )


vec_pca_power.__doc__ = vec_pca_power.__doc__.format(t=_PCA_ITERS)


# ---------------------------------------------------------------------------
# k-means (Lloyd's) — the clustering primitive behind IVF coarse
# quantizers and SemDeDup cells, exposed as a fitted operator.

_KM_DIM = 64

# collected centroid rows [(c, cent list[float], n)], fitted once:
# silhouette reuses the fit.
@fit_once
def _km_cent(spark: SparkSession, sf_dir: str):
    from fuzzy_item_matching_spark.operators.kmeans import kmeans_fit

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_fit(e, dim=_KM_DIM).collect()  # k rows — bounded


@query("vec_kmeans_centroids")
def vec_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means fit (operators/kmeans.py): k=8 hash-seeded
    centroids, 2 unrolled Lloyd iterations, output in long
    (cluster, dim_idx, v, cluster_size) format. Per iteration the
    input-sized work is ONE broadcast-⨯ assign pass (native array-fold
    distances, map-side-combinable min_by argmin — no window sort) and
    ONE combine-agg update pass (fixed-point BIGINT sums per
    (cluster, dim) — vec_pca_power's exact order-insensitive
    discipline); centroid state is k·dim rows, localCheckpointed so
    the unrolled lineage never replans. Exactness: every float op —
    the md5-keyed init ranking, the left-to-right distance folds, the
    CAST(s AS DOUBLE)/Q/n centroid components — is replayed verbatim
    by the oracle; no rounding anywhere. The fit is memoized per
    sf_dir; the silhouette eval reads the same model."""
    rows = _km_cent(spark, sf_dir)
    cent = spark.createDataFrame(
        rows, "c int, cent array<double>, n long"
    )
    return cent.select(
        F.col("c").alias("cluster"),
        F.posexplode("cent").alias("dim_idx", "v"),
        F.col("n").alias("cluster_size"),
    ).select("cluster", "dim_idx", "v", "cluster_size")


@query("vec_kmeans_silhouette")
def vec_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality eval on the fitted k-means model (shared
    sf_dir memo — fit once per session): per final cluster the size,
    mean simplified (centroid) silhouette, and fixed-point inertia.
    Because the assignment IS the distance argmin, a = min over
    centroids and b = the second-min, so one ranked distance frame
    yields both: s = 1 − a/b (0 when b = 0, coincident centroids).
    The mean accumulates s via DECIMAL(38,18) (order-insensitive,
    exact) and rounds to 9; inertia quantizes a via floor(a·2^30)
    BIGINT sums — both engines replay identically. Scale: one
    broadcast-⨯ pass over points (k·n distance rows, never point
    pairs); per-cluster state is k rows."""
    from fuzzy_item_matching_spark.operators.kmeans import _SQD

    rows = _km_cent(spark, sf_dir)
    cent = F.broadcast(
        spark.createDataFrame(rows, "c int, cent array<double>, n long")
    )
    from fuzzy_item_matching_spark.operators.kmeans import _points

    e = load_table(spark, sf_dir, "embeddings")
    pts = _points(e, _KM_DIM)
    d = pts.crossJoin(cent.select("c", "cent")).select(
        "vec_id", "c", F.expr(_SQD.format(a="x", b="cent")).alias("d")
    )
    w = Window.partitionBy("vec_id").orderBy("d", "c")
    rk = d.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    a = rk.filter(F.col("rn") == 1).select("vec_id", "c", F.col("d").alias("da"))
    b = rk.filter(F.col("rn") == 2).select("vec_id", F.col("d").alias("db"))
    q = 2.0**30
    return (
        a.join(b, "vec_id")
        .groupBy(F.col("c").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(
                F.sum(
                    F.when(F.col("db") == 0.0, F.lit(0.0))
                    .otherwise(1.0 - F.col("da") / F.col("db"))
                    .cast("decimal(38,18)")
                ).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_silhouette"),
            (
                F.sum(F.floor(F.col("da") * q)).cast("double") / F.lit(q)
            ).alias("inertia"),
        )
    )


_KM_ELBOW_KS = (2, 4, 8)
_KM_EQ = 2.0**30  # elbow inertia fixed-point quantum


@query("vec_kmeans_elbow")
def vec_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection for the k-means family: the ELBOW sweep — for
    k ∈ {ks}, fit (shared per-(sf_dir, k) memo) and report the
    optimal-assignment inertia Σ min_c ||x − μ_c||². The inertia-vs-k
    curve is what picks the IVF coarse-quantizer size and the
    SemDeDup cell count. Monotone non-increasing in k (pinned in
    tests/test_kmeans.py's Lloyd property).

    Scale shape: per k one broadcast-⨯ pass over the points (the
    silhouette plan); the min-distance is a map-side-combinable MIN
    per point, the inertia a fixed-point BIGINT sum (floor(d·2^30) —
    exact, order-insensitive). The oracle re-runs all {nk} unrolled
    fits under prefixed CTE namespaces in one statement."""
    from fuzzy_item_matching_spark.operators.kmeans import _SQD

    from fuzzy_item_matching_spark.operators.kmeans import _points

    e = load_table(spark, sf_dir, "embeddings")
    pts = _points(e, _KM_DIM).persist()
    out = []
    for k in _KM_ELBOW_KS:
        rows = _km_cent_k(spark, sf_dir, k)
        cent = F.broadcast(
            spark.createDataFrame(
                rows, "c int, cent array<double>, n long"
            )
        )
        d = pts.crossJoin(cent.select("c", "cent")).select(
            "vec_id", F.expr(_SQD.format(a="x", b="cent")).alias("d")
        )
        [r] = (
            d.groupBy("vec_id")
            .agg(F.min("d").alias("dmin"))
            .agg(
                (
                    F.sum(F.floor(F.col("dmin") * _KM_EQ)).cast("double")
                    / _KM_EQ
                ).alias("inertia")
            )
            .collect()
        )
        out.append((k, len(rows), r["inertia"]))
    pts.unpersist()
    return spark.createDataFrame(
        out, "k int, n_clusters long, inertia double"
    )


@fit_once
def _km_cent_k(spark: SparkSession, sf_dir: str, k: int):
    from fuzzy_item_matching_spark.operators.kmeans import KM_K, kmeans_fit

    if k == KM_K:
        return _km_cent(spark, sf_dir)  # share the main fit
    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_fit(e, k=k, dim=_KM_DIM).collect()


vec_kmeans_elbow.__doc__ = vec_kmeans_elbow.__doc__.format(
    ks=list(_KM_ELBOW_KS), nk=len(_KM_ELBOW_KS)
)


@query("vec_arrow_map_norms")
def vec_arrow_map_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the LOWEST-overhead Python boundary (raw
    RecordBatches, no pandas materialization; the missing member next
    to pandas_udf / applyInPandas / mapInPandas / UDTF / grouped-agg).
    The kernel flattens the list column zero-copy into an (n, dim)
    float64 matrix and accumulates squares DIMENSION-BY-DIMENSION —
    the repo's blockwise-Arrow discipline, left-to-right like the SQL
    fold, so numpy block math stays bitwise equal to the oracle's
    list_sum (float32→float64 widening is exact, sqrt is correctly
    rounded everywhere). Ragged batches raise a labeled ValueError
    (the ANN dirty-input contract; valid_vectors is the production
    pre-filter).

    Scale: narrow map — no shuffle, one Arrow hop per batch, memory
    bounded by the batch size conf."""
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for b in batches:
            ids = b.column(0)
            la = b.column(1)
            n = len(la)
            if n == 0:
                continue
            lengths = la.value_lengths().to_numpy(zero_copy_only=False)
            if len(set(lengths.tolist())) != 1:
                raise ValueError(
                    "vec_arrow_map_norms: ragged embedding batch — "
                    "run valid_vectors first"
                )
            dim = int(lengths[0])
            flat = la.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            m = flat.reshape(n, dim)
            acc = None
            for j in range(dim):
                t = m[:, j] * m[:, j]
                acc = t if acc is None else acc + t
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(np.full(n, dim, dtype=np.int32)),
                    pa.array(np.sqrt(acc), type=pa.float64()),
                ],
                names=["vec_id", "dim", "norm"],
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(kernel, "vec_id long, dim int, norm double")


# ---------------------------------------------------------------------------
# Greedy k-center (farthest-point) seeding — Gonzalez 1985, 2-approximation
# ---------------------------------------------------------------------------

_KC_K = 6

@query("vec_kcenter_init")
def vec_kcenter_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY K-CENTER seeding (Gonzalez 1985, farthest-point
    traversal): start from the lowest-id vector, then {k}−1 times add
    the point FARTHEST from the current center set (max of min
    squared distance, ties to the smaller id). The classic
    2-approximation for the k-center radius, and the deterministic
    cousin of k-means++ (which samples ∝ D² where this takes the
    argmax) — it seeds coverage-style clustering and diverse-subset
    selection (coresets, annotation budgets) where the kmeans
    operator's lowest-id init favors density instead. Each center's
    d2_at_selection is the coverage radius BEFORE it was added, so
    the output doubles as the radius-vs-k elbow curve.

    Scale shape: each of the {k}−1 rounds is one broadcast of the
    ≤{k}-row center set, one codegen min-over-centers projection over
    a LINEAR scan, and a 1-row TakeOrderedAndProject argmax (the
    BPE-argmax collect budget). No pairwise materialization, no
    shuffle that grows with n — farthest-point is embarrassingly
    scan-parallel; at 100 TB each round is one pass.

    Determinism: squared distances are the proven zip_with fold
    (bitwise equal to the oracle's list fold); MIN over ≤{k} doubles
    is order-insensitive; the argmax breaks ties on vec_id.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seed_rows = e.orderBy("vec_id").limit(1).select("vec_id", "v").collect()
    if not seed_rows:
        raise ValueError(
            "k-center init: empty input frame — no seed point exists"
        )
    first = seed_rows[0]
    centers = [(0, first["vec_id"], first["v"], 0.0)]
    for j in range(1, _KC_K):
        dmin = None
        for _, _, cv, _ in centers:
            d = squared_dist(F.col("v"), F.array([F.lit(x) for x in cv]))
            dmin = d if dmin is None else F.least(dmin, d)
        [best] = (
            e.select("vec_id", "v", dmin.alias("dmin"))
            .orderBy(F.desc("dmin"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        centers.append((j, best["vec_id"], best["v"], best["dmin"]))
    return spark.createDataFrame(
        [(i, vid, d) for i, vid, _, d in centers],
        "center_idx int, vec_id long, d2_at_selection double",
    )


vec_kcenter_init.__doc__ = vec_kcenter_init.__doc__.format(k=_KC_K)


# ---------------------------------------------------------------------------
# Rank-2 PCA via Hotelling deflation (PC2 = top eigenvector of C − λ₁v₁v₁ᵀ)
# ---------------------------------------------------------------------------

@query("vec_pca_deflation")
def vec_pca_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-2 PCA by HOTELLING DEFLATION: run the proven power
    iteration for the top direction v₁ (λ₁ = ‖C·v₁‖), subtract the
    captured component — C₂ = C − λ₁·v₁v₁ᵀ, a row-local update of the
    dim²-cell Gram frame with v₁ broadcast twice — and power-iterate
    C₂ for the SECOND principal direction. Deflation is how
    sequential eigensolvers extract components one at a time without
    re-touching the data: rank-r PCA costs ONE n·dim² Gram pass plus
    r·iters dim²-row matvecs, so going from 1 to 2 components adds
    zero input-sized work (the vec_pca_power plan audit carries over
    verbatim).

    Determinism: the Gram is the fixed-point BIGINT accumulation
    vec_pca_power pinned; each deflation cell is one fixed IEEE tree
    over identical doubles (λ₁ is the same collected scalar both
    engines derive); matvec/norm sums stay DECIMAL(38,18); both
    all-ones starts are generic for the synthetic spectrum (pinned
    orthogonality + numpy agreement in tests).
    """
    e = load_table(spark, sf_dir, "embeddings")
    nn = e.agg(F.count(F.lit(1)).alias("n"))
    # r14: Arrow/numpy fixed-point Gram partials (see vec_pca_power /
    # _gram_long_partials) — bit-exact BIGINT fold, dim² rows per task.
    cov = (
        _gram_long_partials(e)
        .groupBy("i", "j")
        .agg(F.sum("s").cast("double").alias("s"))
        .crossJoin(F.broadcast(nn))
        .select("i", "j", (F.col("s") / _PCA_Q / F.col("n")).alias("c"))
        .persist()
    )

    def power(cmat):
        v = cmat.select("i").distinct().select("i", F.lit(1.0).alias("v"))
        eig = None
        for _ in range(_PCA_ITERS):
            w = (
                cmat.join(v.select(F.col("i").alias("j"), "v"), "j")
                .groupBy("i")
                .agg(
                    F.sum(
                        (F.col("c") * F.col("v")).cast("decimal(38,18)")
                    )
                    .cast("double")
                    .alias("w")
                )
            ).localCheckpoint(eager=True)
            [nr] = w.agg(
                F.sqrt(
                    F.sum(
                        (F.col("w") * F.col("w")).cast("decimal(38,18)")
                    ).cast("double")
                ).alias("nrm")
            ).collect()
            eig = nr["nrm"]
            v = w.select("i", (F.col("w") / F.lit(eig)).alias("v"))
        return v, eig

    v1, eig1 = power(cov)
    va = v1.select(F.col("i"), F.col("v").alias("va"))
    vb = v1.select(F.col("i").alias("j"), F.col("v").alias("vb"))
    cov2 = (
        cov.join(F.broadcast(va), "i")
        .join(F.broadcast(vb), "j")
        .select(
            "i",
            "j",
            (
                F.col("c") - F.lit(eig1) * F.col("va") * F.col("vb")
            ).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    v2, eig2 = power(cov2)
    out1 = v1.select(
        F.lit(1).alias("component"),
        (F.col("i") - 1).alias("dim_idx"),
        F.col("v").alias("loading"),
        F.lit(eig1).alias("eigenvalue"),
    )
    out2 = v2.select(
        F.lit(2).alias("component"),
        (F.col("i") - 1).alias("dim_idx"),
        F.col("v").alias("loading"),
        F.lit(eig2).alias("eigenvalue"),
    )
    return out1.unionByName(out2)


# ---------------------------------------------------------------------------
# Random Fourier features (Rahimi & Recht 2007) + kernel-approx audit — r13
# ---------------------------------------------------------------------------

_RFF_D = 8
_RFF_GAMMA = 0.5
_RFF_SEED = 71
_RFF_QMOD = 10


def _rff_params() -> tuple[list[list[float]], list[float]]:
    import numpy as np

    rng = np.random.RandomState(_RFF_SEED)
    w = rng.standard_normal((_RFF_D, 64)) * float((2.0 * _RFF_GAMMA) ** 0.5)
    b = rng.uniform(0.0, 2.0 * float(np.pi), _RFF_D)
    return (
        [[float(x) for x in row] for row in w],
        [float(x) for x in b],
    )


@query("vec_rff_features")
def vec_rff_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random Fourier features (Rahimi & Recht 2007): {d} seeded
    cosine projections z_j(x) = cos(w_j·x + b_j), w ~ N(0, 2γI),
    approximate the RBF kernel as k(x,y) ≈ (2/D)·Σ z_j(x)z_j(y) —
    the kernel-method scale trick that turns an n×n kernel matrix
    into a D-dim linear feature map (then any linear fit in this
    repo's GD family becomes an approximate KERNEL machine). The
    query audits the approximation on the deterministic
    (vec, vec+1) pair panel (every {q}th vector): exact RBF vs RFF
    estimate vs absolute error, per pair.

    Scale shape: the {d}×64 projection matrix is a plan literal
    (the LSH hyperplane discipline); featurization is row-local
    fold-order dots — at 100 TB, a map-only projection feeding any
    downstream fit; the audit join is the id+1 equi-join panel, not
    a pair explosion.

    Determinism: dots fold in array order (bitwise-equal in DuckDB's
    list_sum); cos/exp on identical doubles is the GD-family libm
    precedent; published values round to 9."""
    from fuzzy_item_matching_spark.functions.vector import dot, squared_dist

    w, b = _rff_params()
    e = load_table(spark, sf_dir, "embeddings")
    a, bb = e.alias("a"), e.alias("b")
    pairs = a.join(
        bb, F.col("b.vec_id") == F.col("a.vec_id") + 1
    ).filter(F.col("a.vec_id") % _RFF_QMOD == 0)

    def z(side: str, j: int):
        plane = F.array(*[F.lit(x) for x in w[j]])
        return F.cos(
            dot(F.col(f"{side}.embedding"), plane) + F.lit(b[j])
        )

    zdot = None
    for j in range(_RFF_D):
        term = z("a", j) * z("b", j)
        zdot = term if zdot is None else zdot + term
    k_exact = F.round(
        F.exp(
            -F.lit(_RFF_GAMMA)
            * squared_dist(F.col("a.embedding"), F.col("b.embedding"))
        ),
        9,
    )
    k_rff = F.round(F.lit(2.0 / _RFF_D) * zdot, 9)
    return pairs.select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        k_exact.alias("k_exact"),
        k_rff.alias("k_rff"),
        F.round(F.abs(k_exact - k_rff), 9).alias("abs_err"),
    )


vec_rff_features.__doc__ = vec_rff_features.__doc__.format(
    d=_RFF_D, q=_RFF_QMOD
)


# ---------------------------------------------------------------------------
# Grid-density clustering (DBSCAN-lite over quantized cells) — r13
# ---------------------------------------------------------------------------

_GD_H = 0.1
_GD_MINPTS = 4
_GD_ROUNDS = 3
# Collision-free cell-key packing (r14, ADVICE fix): key = cx * 2^32 +
# (cy + 2^31). Injective for any cx in (−2^31, 2^31) and cy in
# [−2^31, 2^31) — i.e. coordinates within ±2×10^8 at h=0.1, far beyond
# any finite float32 embedding this engine ingests (the r13 packing
# (cx+100)*1000+cy+100 silently merged unrelated cells for any
# coordinate beyond ±~10, identically in both engines, so the oracle
# could not catch it).
_GD_MUL = 4_294_967_296  # 2^32
_GD_OFF = 2_147_483_648  # 2^31


@query("vec_grid_density_clusters")
def vec_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (the DBSCAN intuition made
    shuffle-friendly): quantize the first two embedding coordinates
    to h={h} cells, call a cell CORE when it holds ≥ {m} points, and
    merge 8-adjacent core cells into clusters by {r} rounds of
    synchronous min-label propagation over the CELL graph —
    density-connected components without a single point-to-point
    distance join (the cell histogram IS the density estimate).
    Sub-core cells report as noise (cluster −1), DBSCAN's third
    class. The geometry family's density member next to k-means
    (centroid), k-center (covering), PCA (subspace).

    Scale shape: one map-side-combinable cell count (the only
    input-sized pass); everything after lives in the CELL domain —
    the adjacency join is bounded by occupied cells (≤ n/{m} core
    cells), min-label rounds are keyed joins over that bounded
    frame. This is how density clustering survives 100 TB: points
    never pair, cells do.

    Determinism: cell ids are exact floor arithmetic on DOUBLE-cast
    floats (identical both engines); labels are integer MINs from a
    fixed unroll; dirty rows (null/ragged vectors) are excluded by
    the same guard in both engines."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    emb = F.col("embedding").cast("array<double>")
    cells = (
        e.select(
            F.floor(emb[0] / _GD_H).cast("long").alias("cx"),
            F.floor(emb[1] / _GD_H).cast("long").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )
    core = cells.filter(F.col("n") >= _GD_MINPTS).select(
        "cx",
        "cy",
        "n",
        (F.col("cx") * F.lit(_GD_MUL) + F.col("cy") + F.lit(_GD_OFF)).alias(
            "key"
        ),
    ).persist()
    a, b = core.alias("a"), core.alias("b")
    adj = a.join(
        b,
        (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
        & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1),
    ).select(F.col("a.key").alias("ka"), F.col("b.key").alias("kb"))
    lbl = core.select("key", F.col("key").alias("lbl"))
    for _ in range(_GD_ROUNDS):
        lbl = (
            adj.join(
                lbl.select(F.col("key").alias("kb"), "lbl"), "kb"
            )
            .groupBy(F.col("ka").alias("key"))
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    clusters = (
        lbl.join(core.select("key", "n"), "key")
        .groupBy(F.col("lbl").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n").cast("long").alias("n_points"),
        )
    )
    noise = cells.filter(F.col("n") < _GD_MINPTS).agg(
        F.lit(-1).cast("long").alias("cluster"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_points"),
    )
    return clusters.unionByName(noise)


vec_grid_density_clusters.__doc__ = vec_grid_density_clusters.__doc__.format(
    h=_GD_H, m=_GD_MINPTS, r=_GD_ROUNDS
)


# ---------------------------------------------------------------------------
# Diagonal-Mahalanobis outlier scores — r13
# ---------------------------------------------------------------------------

_MAH_TOPK = 20


@query("vec_mahalanobis_outliers")
def vec_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-covariance Mahalanobis outlier scoring: standardize
    every embedding dimension by its own corpus (μ_d, σ²_d) and rank
    vectors by Σ_d (x_d−μ_d)²/σ²_d — the covariance-aware
    counterpart of rel_value_outliers' univariate z-scores, and the
    embedding-space anomaly audit (corrupt encodes, wrong-modality
    rows, adversarial inputs) a vector pipeline runs before
    indexing. Diagonal Σ is the production choice at high dim: full
    Σ⁻¹ is a dim² broadcast, diagonal is a 64-row frame.

    Scale shape: one posexplode pass builds per-dimension moments
    (64-key aggregation, map-side combined); scoring joins the
    64-row broadcast stats back and reduces per vector — two scans
    total, no pairwise anything. Top-{k} under a total order.

    Determinism: per-row moment terms round to 12 before
    DECIMAL(38,18) accumulation; per-dimension score terms round to
    9 before their own exact sum (order-insensitive across the
    order-dependent 64-dim reduce); zero-variance dimensions drop
    on both sides; the published score rounds to 9 with vec_id as
    tie-break ON THE ROUNDED VALUE (so rank and value can't disagree
    at the last ulp)."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    ex = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d0", "x"
        ),
    ).select("vec_id", (F.col("d0") + 1).alias("d"), "x").persist()
    stats = ex.groupBy("d").agg(
        (
            F.sum(F.round(F.col("x"), 12).cast("decimal(38,18)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mu"),
        (
            F.sum(
                F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,18)")
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("ex2"),
    )
    var_ = stats.select(
        "d", "mu", (F.col("ex2") - F.col("mu") * F.col("mu")).alias("v")
    ).filter(F.col("v") > 0)
    scored = (
        ex.join(F.broadcast(var_), "d")
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.round(
                    (F.col("x") - F.col("mu"))
                    * (F.col("x") - F.col("mu"))
                    / F.col("v"),
                    9,
                ).cast("decimal(38,18)")
            )
            .cast("double")
            .alias("score")
        )
    )
    wr = Window.orderBy(F.desc(F.round(F.col("score"), 9)), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _MAH_TOPK)
        .select(
            "vec_id", F.round("score", 9).alias("mahalanobis_sq"), "rnk"
        )
    )


vec_mahalanobis_outliers.__doc__ = vec_mahalanobis_outliers.__doc__.format(
    k=_MAH_TOPK
)


# ---------------------------------------------------------------------------
# Random-cut density anomaly scores (oblivious isolation-forest lite) — r13
# ---------------------------------------------------------------------------

_RC_TREES = 4
_RC_DEPTH = 3
_RC_SEED = 97
_RC_TOPK = 20


def _rc_splits() -> list[list[tuple[int, float]]]:
    """Per tree, _RC_DEPTH (dimension, threshold) oblivious splits —
    seeded literals, the LSH-hyperplane discipline."""
    import numpy as np

    rng = np.random.RandomState(_RC_SEED)
    trees = []
    for _ in range(_RC_TREES):
        dims = rng.randint(0, 64, _RC_DEPTH)
        thrs = rng.uniform(-0.15, 0.15, _RC_DEPTH)
        trees.append([(int(d), float(t)) for d, t in zip(dims, thrs)])
    return trees


@query("vec_random_cut_density")
def vec_random_cut_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-cut density anomaly scoring — the isolation-forest /
    RRCF intuition in its OBLIVIOUS, shuffle-friendly form: {t}
    seeded trees each cut {d} random (dimension, threshold) planes,
    a vector's leaf is its {d}-bit cut pattern, and its score is the
    mean log-occupancy of its leaves across trees — points landing
    in chronically EMPTY cells of random partitions are anomalies
    (low density), the axis-aligned complement of
    vec_mahalanobis_outliers' moment-based score (which misses
    multi-modal structure; random cuts don't). Emits the {k}
    lowest-density vectors.

    Scale shape: cut patterns are row-local plan literals (the LSH
    hyperplane discipline); per-tree leaf occupancy is a ≤2^{d}-key
    aggregation; scoring re-joins the broadcast occupancy tables —
    one scan + {t} tiny broadcast joins, no pairwise work, the
    reason the oblivious form (same splits for all points at each
    level) is the one that scales: data-dependent split points would
    serialize the build.

    Determinism: leaf ids are exact sign patterns on DOUBLE-cast
    floats; occupancies are exact counts; per-tree ln terms round to
    12 and sum as DECIMAL; the published density rounds to 9 with
    vec_id tie-break."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    emb = F.col("embedding").cast("array<double>")
    trees = _rc_splits()
    leaf_exprs = []
    for ti, splits in enumerate(trees):
        bits = [
            F.when(emb[d] < F.lit(t), F.lit("0")).otherwise(F.lit("1"))
            for d, t in splits
        ]
        leaf_exprs.append(F.concat(*bits).alias(f"leaf{ti}"))
    leaves = e.select("vec_id", *leaf_exprs).persist()
    scored = leaves
    score = None
    for ti in range(len(trees)):
        occ = leaves.groupBy(f"leaf{ti}").agg(
            F.count(F.lit(1)).cast("long").alias(f"c{ti}")
        )
        scored = scored.join(F.broadcast(occ), f"leaf{ti}")
        term = F.round(
            F.log(F.col(f"c{ti}").cast("double")), 12
        ).cast("decimal(38,18)")
        score = term if score is None else score + term
    out = scored.select(
        "vec_id",
        F.round(score.cast("double") / len(trees), 9).alias("density"),
    )
    wr = Window.orderBy("density", "vec_id")
    return (
        out.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _RC_TOPK)
        .select("vec_id", "density", "rnk")
    )


vec_random_cut_density.__doc__ = vec_random_cut_density.__doc__.format(
    t=_RC_TREES, d=_RC_DEPTH, k=_RC_TOPK
)


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random-projection distortion audit — r14
# ---------------------------------------------------------------------------

_JL_K = 16  # target dimensionality
_JL_SEED = 271
_JL_QMOD = 2  # panel density: every 2nd (vec, vec+1) pair


def _jl_params() -> list[list[float]]:
    import numpy as np

    rng = np.random.RandomState(_JL_SEED)
    r = rng.standard_normal((_JL_K, 64)) / float(_JL_K**0.5)
    return [[float(x) for x in row] for row in r]


@query("vec_jl_projection")
def vec_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 → {k} dims with a
    seeded N(0, 1/{k}) matrix, audited by the DISTANCE-DISTORTION
    histogram the JL lemma bounds: for each (vec, vec+1) panel pair,
    ratio = ||Rx − Ry||² / ||x − y||², bucketed at 0.1 width — the
    dimensionality-reduction primitive that shrinks ANN index
    footprints and shuffle widths (project once map-side, run
    distance work in {k} dims) next to vec_rff_features' kernel map
    and the PCA family's data-dependent subspace.

    Scale shape: the {k}×64 matrix is a plan literal (hyperplane
    discipline); projection + distortion are row-local folds on the
    id+1 equi-join panel (never a pair explosion); the histogram agg
    collapses to ≤20 buckets map-side.

    Determinism: dots fold in array order (bitwise-equal across
    engines, the module precedent); the per-pair ratio is one IEEE
    division rounded 9; bucket floors the rounded ratio; averages
    sum DECIMAL(38,9) exactly then divide once, rounded 9."""
    from fuzzy_item_matching_spark.functions.vector import dot, squared_dist

    planes = _jl_params()
    e = load_table(spark, sf_dir, "embeddings")
    clean = e.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    a, b = clean.alias("a"), clean.alias("b")
    pairs = a.join(
        b, F.col("b.vec_id") == F.col("a.vec_id") + 1
    ).filter(F.col("a.vec_id") % _JL_QMOD == 0)
    emb = lambda s: F.col(f"{s}.embedding").cast("array<double>")  # noqa: E731
    dproj = None
    for p in planes:
        pl = F.array(*[F.lit(x) for x in p])
        diff = dot(emb("a"), pl) - dot(emb("b"), pl)
        term = diff * diff
        dproj = term if dproj is None else dproj + term
    ratios = (
        pairs.select(
            squared_dist(emb("a"), emb("b")).alias("d_orig"),
            dproj.alias("d_proj"),
        )
        .filter(F.col("d_orig") > 0)
        .select(F.round(F.col("d_proj") / F.col("d_orig"), 9).alias("ratio"))
    )
    return ratios.groupBy(
        F.least(F.lit(19), F.floor(F.col("ratio") * 10).cast("long"))
        .cast("int")
        .alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.col("ratio").cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_ratio"),
    )


vec_jl_projection.__doc__ = vec_jl_projection.__doc__.format(k=_JL_K)


# ---------------------------------------------------------------------------
# Spherical k-means (cosine Lloyd, renormalized centroids) — r14
# ---------------------------------------------------------------------------

_SKM_K = 4
_SKM_ITERS = 2
_SKM_Q = 2.0**40  # fixed-point quantum (the kmeans/PCA discipline)


@query("vec_spherical_kmeans")
def vec_spherical_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means (cosine Lloyd): unit-normalize every
    embedding, assign by MAXIMUM dot product (= cosine on the unit
    sphere), update centroids as the RENORMALIZED mean direction —
    the variant that matches how this repo's retrieval stack actually
    measures similarity (every ANN query here ranks by cosine;
    Euclidean k-means centroids drift toward vector-length artifacts
    that cosine retrieval never sees). k={k} lowest-id seeds,
    {it} unrolled iterations, long-format (c, j, coord, n) output.

    Scale shape (the operators/kmeans.py discipline verbatim):
    centroid state is k·dim PLAN LITERALS; assignment is k row-local
    array folds + a greatest/CASE argmax — no join, no shuffle;
    the update is one map-side-combinable groupBy(c, j) over
    fixed-point BIGINT sums (floor(x·2^40) — exact,
    order-insensitive); renormalization is k driver-side left folds
    over dim terms, replayed term-for-term by the oracle's ordered
    list() aggregation. One pass over the points per iteration.

    Determinism: normalization, dots, and the argmax tie-break
    (ties → lowest centroid id via CASE order = the oracle's
    (d DESC, c) ROW_NUMBER) are bitwise-replayed; centroid
    components are exact integer sums pushed through the identical
    (s/Q)/n then /norm IEEE sequence in both engines — no rounding
    anywhere, the kmeans contract."""
    spark_ = spark
    e = load_table(spark_, sf_dir, "embeddings")
    sumsq = (
        "aggregate(transform({v}, w -> w * w), cast(0.0 as double),"
        " (acc, w) -> acc + w)"
    )
    pts = (
        e.filter(
            F.col("embedding").isNotNull()
            & (F.size("embedding") == 64)
            & ~F.exists("embedding", lambda v: F.isnan(v))
        )
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("x"),
        )
        .filter(F.expr(sumsq.format(v="x")) > 0)
        .select(
            "vec_id",
            F.expr(
                "transform(x, v -> v / sqrt("
                + sumsq.format(v="x")
                + "))"
            ).alias("xh"),
        )
        .persist()
    )
    seeds = pts.orderBy("vec_id").limit(_SKM_K).collect()
    cents = [[float(v) for v in r["xh"]] for r in seeds]
    ids = list(range(1, len(cents) + 1))
    ns = [0] * len(cents)
    for _ in range(_SKM_ITERS):
        with_d = pts.select(
            "xh",
            *[
                F.aggregate(
                    F.zip_with(F.col("xh"), F.lit(c), lambda p, q: p * q),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias(f"__d{i}")
                for i, c in enumerate(cents)
            ],
        )
        ds = [F.col(f"__d{i}") for i in range(len(cents))]
        dmax = F.greatest(*ds) if len(ds) >= 2 else ds[0]
        assign = F.when(F.col("__d0") == dmax, ids[0])
        for i in range(1, len(cents)):
            assign = assign.when(F.col(f"__d{i}") == dmax, ids[i])
        upd = (
            with_d.select(assign.alias("c"), "xh")
            .select("c", F.posexplode("xh").alias("pos", "xv"))
            .groupBy("c", (F.col("pos") + 1).alias("j"))
            .agg(
                F.sum(F.floor(F.col("xv") * _SKM_Q)).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )  # k·dim rows — the fitted-state budget
        by_c: dict[int, dict[int, tuple[int, int]]] = {}
        for r in upd:
            by_c.setdefault(int(r["c"]), {})[int(r["j"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        ids = sorted(by_c)
        cents = []
        ns = []
        for c in ids:
            ms = [
                (float(by_c[c][j][0]) / _SKM_Q) / float(by_c[c][j][1])
                for j in sorted(by_c[c])
            ]
            acc = 0.0
            for m in ms:
                acc += m * m
            nrm = acc**0.5
            cents.append([m / nrm for m in ms])
            ns.append(by_c[c][min(by_c[c])][1])
    pts.unpersist()
    rows = [
        (ids[i], j + 1, cents[i][j], ns[i])
        for i in range(len(cents))
        for j in range(len(cents[i]))
    ]
    return spark_.createDataFrame(rows, "c int, j int, coord double, n long")


vec_spherical_kmeans.__doc__ = vec_spherical_kmeans.__doc__.format(
    k=_SKM_K, it=_SKM_ITERS
)
