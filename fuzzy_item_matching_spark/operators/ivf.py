"""IVF (inverted-file) approximate nearest neighbors — the
centroid-partitioned alternative to sign-LSH bucketing
(`operators/lsh.py`), behind the same candidate-equi-join shape.

Cells are defined by unit centroids sampled deterministically from the
data (lowest ids — seedless and stable; a k-means refinement would
drop in without changing the join shape). Each vector is assigned to
its nearest cell; queries probe their ``n_probe`` nearest cells.
Candidates = (query, neighbor) pairs sharing a probed cell — work
scales with cell occupancy, never n². At 1000×, n_centroids grows
~√n to keep cells balanced, and the centroid table stays a driver-side
literal (KBs).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_item_matching_spark.functions.vector import dot, l2_norm


def _unit(vec: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / n for x in vec]


def sample_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[list[float]]:
    """Deterministic centroid sample: the ``n_centroids`` rows with the
    smallest ids, L2-normalized driver-side (tiny collect — KBs)."""
    rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    if not rows:
        raise ValueError(
            "sample_centroids: empty corpus — an IVF index needs at "
            "least one vector to sample centroids from"
        )
    return [_unit([float(x) for x in r[1]]) for r in rows]


def _cell_scores(vec: Column, centroids: list[list[float]]) -> Column:
    """array<struct<score,cell>> — dot with each unit centroid (vector
    norm is constant across cells, so dot order == cosine order)."""
    return F.array(
        *[
            F.struct(
                dot(vec, F.array(*[F.lit(x) for x in c])).alias("score"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )


def _cell_order_block(v: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Per row, the centroid ids ordered as
    ``reverse(array_sort(_cell_scores(v)))`` — i.e. score DESC, ties
    cell DESC. The scores come from the same dimension-ordered float64
    fold as the expression dot (bit-identical values — the
    operators/lsh.py `_folded_dot_block` contract), and a STABLE
    ascending argsort reversed reproduces the struct sort's
    (score asc, cell asc)→reversed order exactly, including NaN-last
    (Spark orders NaN greatest; numpy sorts NaN last; among equal
    keys both keep cell-ascending, so the reversed tail matches)."""
    acc = np.zeros((v.shape[0], cents.shape[0]), dtype=np.float64)
    for i in range(v.shape[1]):
        acc += v[:, i, None] * cents[None, :, i]
    return np.argsort(acc, axis=1, kind="stable")[:, ::-1]


def cell_order_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    keep_vec: bool = False,
    keep_norm: bool = False,
) -> DataFrame:
    """(__id, __cells int[], [__v double[]], [__n]) — every vector's
    centroid ids in probe order, via ONE Arrow/numpy pass.

    r14 (guide §4.2): the expression form (`_cell_scores` →
    array_sort → reverse) embeds n_centroids × dim literals in the
    plan; at 16×64 that is a ~1k-node expression tree whose ANALYSIS
    and codegen cost is scale-INDEPENDENT (the documented pq.py
    plan-size lesson) on top of the interpreted per-row HOF fold.
    Here the centroid matrix rides the task closure as data, the
    fold is the numpy dimension-ordered pass (bit-identical dots —
    `_folded_dot_block`), and the plan is one narrow projection +
    MapInPandas. Map-only: no exchange at any corpus size."""
    from fuzzy_item_matching_spark.operators.lsh import (
        _folded_dot_block_diag,
        valid_vectors,
    )

    cents = np.asarray(centroids, dtype=np.float64)
    df = valid_vectors(df, vec_col, cents.shape[1])
    id_type = df.schema[id_col].dataType
    fields = [
        T.StructField("__id", id_type),
        T.StructField("__cells", T.ArrayType(T.IntegerType())),
    ]
    if keep_vec:
        fields.append(T.StructField("__v", T.ArrayType(T.DoubleType())))
    if keep_norm:
        fields.append(T.StructField("__n", T.DoubleType()))
    schema = T.StructType(fields)

    def order_cells(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            out = {
                "__id": pdf["__id"].to_numpy(),
                "__cells": list(_cell_order_block(v, cents).astype(np.int32)),
            }
            if keep_vec:
                out["__v"] = list(v)
            if keep_norm:
                out["__n"] = np.sqrt(_folded_dot_block_diag(v))
            yield pd.DataFrame(out)

    src = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    return src.mapInPandas(order_cells, schema=schema)


REFINE_SAMPLE_CAP = 100_000


def refinement_sample(
    df: DataFrame, id_col: str, cap: int = REFINE_SAMPLE_CAP, seed: int = 42
) -> DataFrame:
    """Bounded CONTENT-KEYED sample for Lloyd refinement. Centroid
    quality needs only a representative subset, so refinement cost must
    not scale with the corpus: at 100 TB, iterating Lloyd over the full
    table means n_centroids×dim dot products per row per pass — the
    one scan profile that can't be amortized. One metadata-cheap
    count() bounds the fraction.

    Keyed (u = f(md5(seed:id)) < cap/n, `functions/sampling.py`)
    rather than ``df.sample``: Spark's sample is seeded per PARTITION,
    so the selected set — and thus the refined centroids and every
    downstream bucket — would change with file layout. The keyed draw
    picks the same rows on any partitioning or engine, which is what
    lets the DuckDB oracle replay the refinement exactly even above
    the cap (r04 verdict: the old plan-seeded sample silently diverged
    from the full-table oracle once n exceeded the cap)."""
    n = df.count()
    if n <= cap:
        return df
    from fuzzy_item_matching_spark.functions.sampling import keyed_sample

    return keyed_sample(df, F.col(id_col), fraction=cap / n, seed=seed)


def refine_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    iterations: int = 2,
    sample_cap: int = REFINE_SAMPLE_CAP,
) -> list[list[float]]:
    """Lloyd iterations for IVF cells: assign each sampled vector to
    its nearest centroid, recompute per-cell means (posexplode + hash
    agg — one pass per iteration over a bounded sample, see
    ``refinement_sample``), renormalize driver-side. Only the
    n_centroids×dim mean table is ever collected (KBs)."""
    df = (
        refinement_sample(df, id_col, cap=sample_cap)
        .select(id_col, vec_col)
        .persist()
    )
    for _ in range(iterations):
        # r14 (guide §4.2): per-pass assignment via the numpy kernel
        # (cell_order_frame top-1) instead of the `_cell_scores`
        # expression tree — bit-identical nearest cell, and each Lloyd
        # pass stops re-analyzing a fresh n_centroids×dim literal plan.
        cells = cell_order_frame(
            df, id_col, vec_col, centroids, keep_vec=True
        ).select(F.element_at("__cells", 1).alias("__cell"), "__v")
        assigned = cells.select(
            "__cell", F.posexplode("__v").alias("__pos", "__x")
        )
        # Mean via exact DECIMAL sum cast back to double: float partial
        # sums depend on partition merge order, so avg() would make the
        # refined centroids (and every downstream bucket) run-dependent.
        # The decimal sum is order-insensitive and exact → centroids are
        # deterministic at any parallelism AND replicable in SQL.
        means = (
            assigned.groupBy("__cell", "__pos")
            .agg(
                (
                    F.sum(F.col("__x").cast("decimal(38,18)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("__m")
            )
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:  # index access: Row attrs reject dunder names
            by_cell.setdefault(r["__cell"], {})[r["__pos"]] = r["__m"]
        dim = len(centroids[0])
        centroids = [
            _unit([by_cell[c].get(p, 0.0) for p in range(dim)])
            if c in by_cell
            else centroids[c]  # empty cell keeps its old centroid
            for c in range(len(centroids))
        ]
    df.unpersist()
    return centroids


def ivf_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 3,
    centroids: list[list[float]] | None = None,
    refine_iters: int = 2,
    sample_cap: int = REFINE_SAMPLE_CAP,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k per vector via IVF cells.

    Index side: each vector lands in its single nearest cell. Query
    side: each vector probes its ``n_probe`` nearest cells. The
    candidate join key is the cell id; exact cosine ranks candidates.
    Recall misses only neighbors whose cell the query didn't probe —
    graded vs brute force in tests. ``dim``: the vector dimension, by
    default the centroids' or else ``vector_dim``'s (one more job).
    """
    from fuzzy_item_matching_spark.operators.lsh import (
        _cosine_topk,
        _sides,
        valid_vectors,
        vector_dim,
    )

    if dim is None:
        dim = len(centroids[0]) if centroids else vector_dim(df, vec_col)
    # np.stack in the block scorer dies on NULL/ragged rows; one bad row
    # must cost one row, not the task (see operators/lsh.py valid_vectors).
    df = valid_vectors(df, vec_col, dim)
    if centroids is None:
        centroids = sample_centroids(df, id_col, vec_col, n_centroids)
        if refine_iters:
            centroids = refine_centroids(
                df, id_col, vec_col, centroids, refine_iters,
                sample_cap=sample_cap,
            )

    # r14 (guide §4.2): cell scoring moved from the `_cell_scores`
    # expression tree (n_centroids×dim plan literals + interpreted HOF
    # folds, analysis cost scale-independent) to the one-pass numpy
    # kernel — same bit-identical dots, map-only.
    scored = cell_order_frame(df, id_col, vec_col, centroids, keep_vec=True)
    # one explode per row, so cell scoring runs once: the nearest cell
    # on the index side, then the n_probe nearest on the query side
    cells = F.concat(F.slice("__cells", 1, 1), F.slice("__cells", 1, n_probe))
    # Blockwise scoring per cell (the FAISS-IVF shape): instead of a
    # candidate equi-join that expands to |probes-in-cell| ×
    # |index-in-cell| rows each paying an interpreted per-pair
    # array-dot (measured 16s for 2M pairs at sf0.1), the sorted-run
    # pass (``_cosine_topk``, pair mode) meets each cell's probe
    # and index vectors once and scores the block with one folded
    # numpy pass; per-cell top-k bounds the output to k·n_probe
    # candidates per query, so the global top-k window is tiny. Each
    # probe and index row shuffles by cell id once (the equi-join's
    # volume WITHOUT the pair expansion); a cell run must fit one
    # task's memory, so n_centroids grows ~√n to bound occupancy.
    return _cosine_topk(
        _sides(scored, [], cells, "__cell"), ("__cell",), k,
        df.schema[id_col].dataType, self_mode=False, dedup=False,
    )


def assign_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
) -> DataFrame:
    """(__id, __v double[], __n norm, __cell) — each vector assigned to
    its single nearest centroid (max dot, ties to the higher cell id —
    the same reverse-array_sort order as ``ivf_cosine_topk``). One
    numpy pass (`cell_order_frame`, r14), no shuffle."""
    return cell_order_frame(
        df, id_col, vec_col, centroids, keep_vec=True, keep_norm=True
    ).select(
        "__id", "__v", "__n", F.element_at("__cells", 1).alias("__cell")
    )


def ivf_cell_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    min_cosine: float = 0.4,
    n_centroids: int = 16,
    n_probe: int = 2,
    centroids: list[list[float]] | None = None,
    refine_iters: int = 1,
    sample_cap: int = REFINE_SAMPLE_CAP,
) -> DataFrame:
    """SemDeDup-shape scalable embedding near-dup candidate generator:
    cluster the corpus into IVF cells, place every vector in its
    ``n_probe`` nearest cells (multi-probe — the same recall lever as
    ``ivf_cosine_topk``'s query-side probing), then emit WITHIN-CELL
    cosine pairs ≥ ``min_cosine`` (id_a < id_b), deduplicated to the
    lowest shared cell. Candidate volume is Σ|cell-list|²/2 — bounded
    by occupancy, never n² — the scale path that replaces
    ``dedup_embedding_exact_pairs``'s all-pairs oracle form.

    Each cell run is scored against itself in the sorted-run pass
    (``_sorted_run_pairs``, self mode) with a dimension-folded numpy
    block dot (bitwise equal to the F.aggregate / DuckDB list_sum fold
    — see operators/lsh.py); per-pair cosine is independent of block
    membership, so the cross-block duplicates the final (id_a, id_b)
    groupBy collapses carry identical bits and the whole output is
    exactly oracle-replayable. Shuffles: one on cell + one
    groupBy(pair) over the already-thresholded survivors. At 1000× the
    corpus, n_centroids grows ~√n so a cell block stays one task's
    memory (the ``ivf_cosine_topk`` contract).

    Recall caveat (documented, tested): pairs whose probed cell lists
    are disjoint are missed — the classic SemDeDup trade. On the
    weakly-clustered test embeddings, n_probe=2 finds 40/59 of the
    exact ≥0.4 pairs from 24% of the n² candidate volume
    (tests/test_dedup.py grades the subset + recall floor).
    """
    from fuzzy_item_matching_spark.operators.lsh import (
        _cosine_block,
        _sorted_run_pairs,
        valid_vectors,
        vector_dim,
    )

    dim = len(centroids[0]) if centroids else vector_dim(df, vec_col)
    df = valid_vectors(df, vec_col, dim)
    if centroids is None:
        centroids = sample_centroids(df, id_col, vec_col, n_centroids)
        if refine_iters:
            centroids = refine_centroids(
                df, id_col, vec_col, centroids, refine_iters,
                sample_cap=sample_cap,
            )

    # r14 (guide §4.2): probe-cell assignment via the numpy kernel —
    # see cell_order_frame; bit-identical order, map-only.
    probes = cell_order_frame(
        df, id_col, vec_col, centroids, keep_vec=True
    ).select(
        F.explode(F.slice("__cells", 1, n_probe)).alias("__cell"),
        F.lit(0).cast("byte").alias("__side"),
        "__id",
        "__v",
    )
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
            T.StructField("cell", T.IntegerType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def cell_pairs(key, ids_a, v_a, ids_b, v_b):
        _, cos = _cosine_block(v_a, v_b)
        ia, ib = np.nonzero((ids_a[:, None] < ids_b[None, :]) & (cos >= min_cosine))
        return ids_a[ia], ids_b[ib], np.full(len(ia), key[0], np.int32), cos[ia, ib]

    raw = _sorted_run_pairs(probes, ("__cell",), cell_pairs, out_schema, self_mode=True)
    # A pair sharing several probed cells repeats with IDENTICAL cosine
    # bits (per-pair fold is block-independent); keep the lowest cell.
    # min(cosine) == the value — used over first() for determinism.
    return raw.groupBy("id_a", "id_b").agg(
        F.min("cell").alias("cell"), F.min("cosine").alias("cosine")
    )
