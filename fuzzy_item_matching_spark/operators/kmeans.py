"""Distributed k-means (Lloyd's algorithm) with an exact DuckDB twin.

The clustering primitive the engine's IVF index and SemDeDup queries
use implicitly (operators/ivf.py seeds coarse centroids; semantic
dedup groups by nearest centroid) — here exposed as a first-class
fitted operator: seeded deterministic init, ``iters`` unrolled Lloyd
iterations, centroid output plus a centroid-silhouette evaluation.
Capability context: the reference clusters candidate space implicitly
through MinHashLSH bucketing (`01_Feature Engineering.py:305-320`);
k-means is the embedding-space analogue a 100 TB curation pipeline
runs for IVF coarse quantizers and SemDeDup cells.

Spark-first shape (per iteration): the centroid state is k·dim
literals shipped IN THE PLAN (the gboost fitted-tree discipline), so
- ASSIGN is a pure row-local codegen expression — k native array
  folds (no UDF) + a least/CASE argmin whose c-ascending CASE order
  realizes the oracle's (d, c) ROW_NUMBER tie-break. No join, no
  shuffle, no window.
- UPDATE posexplodes to (c, j, x) and runs ONE map-side-combinable
  groupBy(c, j) fixed-point sum — per-task state is k·dim cells at
  any corpus size. Sums quantize via floor(x·2^40) and accumulate as
  plain BIGINT — exact, order-insensitive, the vec_pca_power
  discipline verbatim; the centroid component is CAST(s AS
  DOUBLE)/Q/n (two IEEE divisions, identical driver-side and in the
  oracle).
- Each iteration collects k·dim rows (the fitted-state budget — the
  gboost per-round 1-row argmax's shape), so one iteration = exactly
  one pass over the points.

At 100 TB the input-sized work per iteration is one broadcast-join
pass + one combine-agg pass; centroid state is KB-scale at any corpus
size. k·dim grows the broadcast, not the shuffle. An empty cluster
simply drops out of the centroid frame (no reseeding) — a pure
content function both engines reproduce identically.

Determinism: init ranks points by the content-keyed uniform
(functions/sampling.py keyed_uniform — md5-based, engine-portable)
with vec_id tie-break; distances are left-to-right double folds that
are bitwise identical across engines (queries/vectors.py module note);
centroid updates are fixed-point integer sums. No rounding is needed
anywhere — every float op is replayed identically.

The DuckDB twins live in ``oracles/kmeans.py``, outside the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.functions.sampling import keyed_uniform

KM_K = 8
KM_ITERS = 2
KM_SEED = 7
KM_Q = 2.0**40  # centroid fixed-point quantum (PCA's Gram quantum)

# Shared fold: squared distance between two double arrays — the exact
# expression queries/vectors.py verified bitwise-identical to DuckDB's
# list_sum(list_transform(list_zip(...))).
_SQD = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
def _points(e: DataFrame, dim: int | None = None) -> DataFrame:
    """(vec_id, x double[]) with the dirty-input policy applied when
    ``dim`` is given: NULL, ragged (wrong dimension), and NaN-bearing
    embeddings are EXCLUDED from the fit — the curation filter every
    embedding consumer in this repo applies (nulls would otherwise
    poison the argmin and the centroid sums)."""
    pts = e
    if dim is not None:
        pts = pts.filter(
            F.col("embedding").isNotNull()
            & (F.size("embedding") == dim)
            & ~F.exists("embedding", lambda v: F.isnan(v))
        )
    return pts.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )


def kmeans_fit(
    e: DataFrame,
    k: int = KM_K,
    iters: int = KM_ITERS,
    seed: int = KM_SEED,
    dim: int | None = None,
) -> DataFrame:
    """Fit ``iters`` Lloyd iterations from ``k`` hash-seeded initial
    centroids; return the centroid frame (c, cent array<double>, n)
    where ``n`` is the final cluster size. ``e``: (vec_id, embedding).

    The centroid state lives driver-side as k·dim literals (the
    gboost model-rows budget): assignment is a row-local codegen
    expression (k array folds + a least/CASE argmin — no join, no
    shuffle), so each iteration is ONE pass over the points ending in
    a map-side-combinable groupBy(c, j) whose state is k·dim
    fixed-point cells; the per-iteration collect is k·dim rows."""
    spark = e.sparkSession
    pts = _points(e, dim).persist()
    seeds = (
        pts.select(
            "x", keyed_uniform(F.col("vec_id"), seed).alias("u"), "vec_id"
        )
        .orderBy("u", "vec_id")
        .limit(k)
        .collect()
    )  # k rows — the fitted-state budget
    if not seeds:
        raise ValueError(
            "kmeans_fit: empty input frame — no seed centroids can exist"
            " (the IVF/PQ empty-corpus contract)"
        )
    cents = [[float(v) for v in r["x"]] for r in seeds]
    ids = list(range(1, len(cents) + 1))
    ns = [0] * len(cents)
    for _ in range(iters):
        # F.lit(list) builds a PROPERLY-TYPED array<double> literal —
        # numeric literals in SQL text would parse as DECIMAL and
        # round-trip through a lossy decimal→double cast.
        with_d = pts.select("x", *[
            F.aggregate(
                F.zip_with(
                    F.col("x"), F.lit(c), lambda p, q: (p - q) * (p - q)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias(f"__d{i}")
            for i, c in enumerate(cents)
        ])
        ds = [F.col(f"__d{i}") for i in range(len(cents))]
        dmin = F.least(*ds) if len(ds) >= 2 else ds[0]  # least() needs 2
        # CASE tests in ids-ascending order, so ties resolve to the
        # lowest surviving c — the oracle's (d, c) ROW_NUMBER order.
        # Empty clusters drop out (the oracle's GROUP BY does the
        # same); survivors keep their ORIGINAL sparse ids.
        assign = F.when(F.col("__d0") == dmin, ids[0])
        for i in range(1, len(cents)):
            assign = assign.when(F.col(f"__d{i}") == dmin, ids[i])
        # assign in its OWN projection below the Generate — fused into
        # one select, Spark evaluates the project after posexplode and
        # recomputes the k-fold argmin dim× per row (seen in the plan:
        # Project [argmin AS c] above Generate).
        upd = (
            with_d.select(assign.alias("c"), "x")
            .select("c", F.posexplode("x").alias("pos", "xv"))
            .groupBy("c", (F.col("pos") + 1).alias("j"))
            .agg(
                F.sum(F.floor(F.col("xv") * KM_Q)).alias("s"),
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
        cents = [
            [
                float(by_c[c][j][0]) / KM_Q / float(by_c[c][j][1])
                for j in sorted(by_c[c])
            ]
            for c in ids
        ]
        ns = [by_c[c][min(by_c[c])][1] for c in ids]
    pts.unpersist()
    rows = [(ids[i], cents[i], ns[i]) for i in range(len(cents))]
    return spark.createDataFrame(rows, "c int, cent array<double>, n long")
