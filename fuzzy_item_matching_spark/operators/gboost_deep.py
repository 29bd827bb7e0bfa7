"""Generic depth-d second-order gradient boosting with stochastic
row/column subsampling and a min-hessian split floor.

The reference's hyperopt space searches ``max_depth`` 1-30,
``subsample``, ``colsample_bytree/bylevel/bynode``, and
``min_child_weight`` (`03_Train & Deploy Model.py:163-174`). Both fits
here are operators/boosting.py's tree grower (``_grow``, which also
fits gboost_fit at depth 1 and gboost_depth2_fit at depth 2) at a
parameterized depth plus the three stochastic dimensions — completing
the XGBoost capability shape:

- trees are COMPLETE binary trees of ``depth`` levels, nodes numbered
  heap-style (root 1; children of n are 2n and 2n+1). Per level every
  (node, feature, threshold) candidate's second-order regions are
  summed and each node takes its argmax split;
- ``subsample``: a per-round content-keyed Bernoulli draw
  (functions/sampling.keyed_uniform on ``row_key``, seed varied by
  round) masks each row's g/h contribution to 0 — the selected set
  depends on the key alone and replays exactly in DuckDB via the
  documented md5 twin. ALL rows still receive the score update;
- ``colsample`` (by-level): the candidate grid is restricted to a
  seeded md5-ranked feature subset per (round, level), which the SQL
  twins receive as literals;
- ``colsample_bynode``: each heap node additionally draws its own
  md5-ranked subset FROM the by-level survivors (keyed by node id),
  completing the reference's searched colsample_by{tree,level,node}
  triple;
- ``min_child_weight``: candidates whose left or right hessian sum
  falls below the floor are excluded from the argmax. A node with no
  surviving candidate becomes a LEAF: both children inherit the
  node's own regularized weight −soft(G, α)/(H + λ) (XGBoost's
  unsplittable-node semantics), routed under the parent's threshold;
  a node with no rows at all contributes weight 0.

The two fits differ only in how a level's candidate regions are summed
(exact comparisons against the grid, or a bucket histogram). Each runs
one Spark job, the collect of its training columns. Replayability is
gboost_fit's: DECIMAL(38,18) region sums, the ONE shared gain SQL
string, round-to-9 leaves and the round-to-10 score update. The DuckDB
twin unrolls one CTE chain per (round, level, node): per-node best
CTEs carry a 3-arm priority UNION (split found / unsplittable leaf
from node totals / empty node), mirroring the fit's fallbacks
bit-for-bit.

The DuckDB twins live in ``oracles/gboost_deep.py``, outside the engine.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from fuzzy_item_matching_spark.operators.boosting import (
    GB_ALPHA,
    GB_ETA,
    GB_GAMMA,
    GB_LAMBDA,
    GRID,
    _grow,
)
from fuzzy_item_matching_spark.operators.spark_numerics import (
    checked,
    masked_sums,
    units_to_double,
)

GBD_SCHEMA = (
    "round int, node int, feature string, thr double,"
    " gain double, w_le double, w_gt double"
)


def _model(pairs, trees: list[dict[int, dict]]):
    """One (round, node, ...) row per heap node of every tree."""
    rows = [
        (t, n, p["feature"], p["thr"], p["gain"], p["w_le"], p["w_gt"])
        for t, tree in enumerate(trees, 1)
        for n, p in sorted(tree.items())
    ]
    return pairs.sparkSession.createDataFrame(rows, GBD_SCHEMA)


def gboost_deep_fit(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    rounds: int = 2,
    depth: int = 3,
    grid: int = GRID,
    lam: float = GB_LAMBDA,
    alpha: float = GB_ALPHA,
    gamma: float = GB_GAMMA,
    eta: float = GB_ETA,
    subsample: float = 1.0,
    colsample: float = 1.0,
    colsample_bynode: float = 1.0,
    min_child_weight: float = 0.0,
    row_key: str | None = None,
    seed: int = 7,
) -> DataFrame:
    """Fit ``rounds`` second-order boosted depth-``depth`` trees;
    return the model table (round, node, feature, thr, gain, w_le,
    w_gt) with one row per heap node 1..2^depth−1 per round. Leaf
    weights are meaningful at the last level (w_le = w_gt on
    unsplittable/empty nodes); boosting.score_column walks the split
    path and adds η·w_leaf. One Spark job (the collect), at any rounds
    or depth."""
    if subsample < 1.0 and row_key is None:
        raise ValueError("gboost_deep_fit: subsample < 1 requires row_key")
    return _model(pairs, _grow(
        pairs, features, label, rounds, depth, grid, lam, alpha, gamma,
        eta, subsample=subsample, colsample=colsample,
        colsample_bynode=colsample_bynode,
        min_child_weight=min_child_weight, row_key=row_key, seed=seed,
    ))


# ---------------------------------------------------------------------------
# Histogram split finding — tree_method='hist'
# ---------------------------------------------------------------------------


def _bucket(col: tuple[np.ndarray, np.ndarray], mn: float, step: float, grid: int):
    """Bucket id 1..grid per row: the smallest threshold index
    covering x, CAST(GREATEST(1, LEAST(grid, CEIL((x − mn)/step))) AS
    INT) as Spark evaluates it — CEIL(NaN) is 0, so NaN lands in
    bucket 1, and LEAST skips a NULL, so NULL lands in bucket
    ``grid``, above the last threshold. A constant feature (step 0)
    maps every row to bucket 1 — the SQL twin branches on mx = mn."""
    x, null = col
    if step == 0.0:
        return np.ones(len(x), dtype=np.int64)
    with np.errstate(all="ignore"):
        c = np.nan_to_num(np.ceil((x - mn) / step), nan=0.0)
    return np.where(null, grid, np.clip(c, 1, grid)).astype(np.int64)


def gboost_hist_fit(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    rounds: int = 2,
    depth: int = 3,
    grid: int = GRID,
    lam: float = GB_LAMBDA,
    alpha: float = GB_ALPHA,
    gamma: float = GB_GAMMA,
    eta: float = GB_ETA,
    subsample: float = 1.0,
    colsample: float = 1.0,
    colsample_bynode: float = 1.0,
    min_child_weight: float = 0.0,
    row_key: str | None = None,
    seed: int = 7,
) -> DataFrame:
    """:func:`gboost_deep_fit` with HISTOGRAM split finding — the
    reference XGBoost's ``tree_method='hist'``
    (`03_Train & Deploy Model.py:172`): each row lands in ONE bucket
    per feature (ceil on the fixed grid), the per-(node, feature,
    bucket) g/h histogram is summed once, and split sums are DECIMAL
    prefix sums over the ≤G-bucket histogram — exact and
    order-insensitive, so the whole fit still replays bit-for-bit in
    SQL. Candidate thresholds are the OCCUPIED bucket boundaries
    (XGBoost-hist semantics; an empty bin is never a distinct split).
    Right-region sums are decimal differences (total − prefix).
    Same model contract as gboost_deep_fit (round, node, feature,
    thr, gain, w_le, w_gt); unsplittable/empty nodes fall back
    identically."""
    if subsample < 1.0 and row_key is None:
        raise ValueError("gboost_hist_fit: subsample < 1 requires row_key")
    return _model(pairs, _grow(
        pairs, features, label, rounds, depth, grid, lam, alpha, gamma,
        eta, regions=_hist_regions, subsample=subsample,
        colsample=colsample, colsample_bynode=colsample_bynode,
        min_child_weight=min_child_weight, row_key=row_key, seed=seed,
    ))


def _hist_regions(X, node, nodes, subset, ranges, grid_rows, grid, gh):
    """gboost_hist_fit's level: per (node, feature) the DECIMAL g/h sum
    of each occupied bucket (NULL when no row of it has one), running
    sums in bucket order that skip NULLs, and one candidate per
    occupied bucket below ``grid`` at threshold mn + bucket·step. The
    right region is total − prefix, which Spark types DECIMAL(38,17):
    rounded half up to 17 places before the cast to double."""
    out = []
    for f_ in subset:
        mn, mx = ranges[f_]
        step = (mx - mn) / float(grid)
        b = _bucket(X[f_], mn, step, grid)
        for n in nodes:
            at = node == n
            if not at.any():
                continue
            occupied = np.unique(b[at]).tolist()
            rows = np.array([at & (b == k) for k in occupied])
            sides = []
            for lm, ok in gh:
                has = (rows & ok).any(axis=1)
                pre, run = [], None
                for s_, h_ in zip(masked_sums(rows, lm), has.tolist()):
                    if h_:
                        run = checked(checked(s_) + (run or 0))
                    pre.append(run)
                sides.append((pre, run))
            (g_pre, g_tot), (h_pre, h_tot) = sides
            for i, k in enumerate(occupied):
                if k <= grid - 1:
                    out.append((
                        n, f_, mn + k * step,
                        units_to_double(g_pre[i]), units_to_double(h_pre[i]),
                        _minus17(g_tot, g_pre[i]), _minus17(h_tot, h_pre[i]),
                    ))
    return out


def _minus17(a: int | None, b: int | None) -> float | None:
    """CAST(a − b AS DOUBLE) for DECIMAL(38,18) a and b, whose
    difference Spark types DECIMAL(38,17)."""
    if a is None or b is None:
        return None
    q, r = divmod(abs(a - b), 10)
    q += r >= 5
    return units_to_double(q if a >= b else -q, 17)
