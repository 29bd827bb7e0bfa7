"""Engine-native boosted stumps (AdaBoost) — the exact-oracle twin of
the reference's boosted-tree classifier shape.

The reference's match model is XGBoost over three squared-distance
features (`03_Train & Deploy Model.py:176-192,283-305`). Its exact
algorithm is not replayable (histogram binning + multi-threaded split
search), but the CAPABILITY — a boosted ensemble of axis-aligned
threshold splits over the distance features — is: AdaBoost with
depth-1 trees (decision stumps) is a sequence of weighted aggregates
that replays in SQL:

- stump candidates: a FIXED grid of thresholds per feature
  (min + k·(max−min)/G, exact double arithmetic) × both polarities;
- per round: weighted error of every candidate (DECIMAL-summed,
  order-insensitive), argmin with a total tie-break,
  α = ½·ln((1−err)/err) rounded to 9 digits, and the TWO weight
  factors e^{∓α} rounded to 9 digits — so the only transcendentals
  are 3 scalars per round, quantized before they can compound (the
  logistic-GD discipline, operators/logreg.py);
- weight update: per-row multiplication by one of the two quantized
  scalars — no per-row transcendental anywhere.

Where the fits run: like the reference, which collects its pair
features with ``toPandas`` and fits on one node (NB3:119-134), each fit
runs ONE Spark job — an Arrow collect of its label and feature columns
— and its round loop in numpy on the driver, with Spark SQL's numerics
and NULL/NaN ordering (operators/spark_numerics.py), so its model rows
equal the SQL twins' bit for bit. The training frame must fit on the
driver: most callers pass labelled pair samples (1,999 rows at sf0.1),
but ``train_gboost_poisson`` passes the whole customer table (150k·sf
rows, 15,000 at sf0.1, the largest input measured). Each tree level
holds (candidates × rows) masks there, and the exact DECIMAL sums
refuse ``spark_numerics.EXACT_ROWS`` rows or more.

The DuckDB twins live in ``oracles/boosting.py``, outside the engine.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
from pyspark.errors import ArithmeticException
from pyspark.ml import PipelineModel
from pyspark.ml.feature import SQLTransformer
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.operators.spark_numerics import (
    checked,
    limbs,
    masked_sums,
    round_half_up,
    strict_exp,
    to_units,
    units_to_double,
)

GRID = 16  # thresholds per feature: k = 1..GRID-1
ERR_FLOOR = 1e-9  # clamp keeps alpha finite on degenerate rounds


def _alpha_factors(err: float) -> tuple[float, float, float]:
    """(alpha, f_correct, f_wrong), each rounded to 9 digits — the
    only transcendental evaluations in the fit, quantized so libm
    last-ulp differences can't compound across rounds."""
    e = min(max(err, ERR_FLOOR), 1.0 - ERR_FLOOR)
    alpha = round(0.5 * math.log((1.0 - e) / e), 9)
    return alpha, round(math.exp(-alpha), 9), round(math.exp(alpha), 9)


def _collect(pairs: DataFrame, y: Column, features: list[str], row_key=None):
    """The fit's one Spark job: an Arrow collect of ``y`` and the
    features as doubles (plus ``row_key`` as a string). Returns
    (y, y_null, {feature: (x, x_null)}, keys): NULL reads as NaN in a
    value array and its mask tells it apart from NaN."""
    cols = [y, *map(F.col, features)]
    tbl = pairs.select(
        *[c.cast("double").alias(f"_{i}") for i, c in enumerate(cols)],
        *([F.col(row_key).cast("string")] if row_key else []),
    ).toArrow()
    num = [
        (c.fill_null(math.nan).to_numpy(), c.is_null().to_numpy(zero_copy_only=False))
        for c in tbl.columns[: len(cols)]
    ]
    keys = tbl.columns[-1].to_pylist() if row_key else None
    return (*num[0], dict(zip(features, num[1:])), keys)


def _grid(
    X: dict, features: list[str], grid: int
) -> tuple[dict[str, tuple[float, float]], list[tuple[str, float]]]:
    """Per-feature (mn, mx) with Spark's MIN/MAX (NULLs skipped, NaN
    above every number) and the fixed threshold grid
    [(feature, mn + k·(mx−mn)/G) for k = 1..G−1], in feature order. A
    constant feature keeps its G−1 equal thresholds — the SQL twins'
    UNION ALL arms count each one too."""
    ranges = {}
    for f_ in features:
        x, null = X[f_]
        v = x[~null]
        if not len(v):
            raise ValueError(
                "boosting fit: empty training frame — no"
                " candidate thresholds can exist"
            )
        nan = np.isnan(v)
        mn = math.nan if nan.all() else float(v[~nan].min())
        ranges[f_] = (mn, math.nan if nan.any() else float(v.max()))
    cands = []
    for f_ in features:
        mn, mx = ranges[f_]
        cands += [(f_, mn + k * (mx - mn) / float(grid)) for k in range(1, grid)]
    return ranges, cands


def _distinct(cands: list[tuple]) -> list[tuple[tuple, int]]:
    """GROUP BY over candidate tuples: each distinct one (NaN equal to
    NaN) with its multiplicity, which scales every sum it collects."""
    key = lambda c: tuple("NaN" if v != v else v for v in c)  # noqa: E731
    counts = Counter(key(c) for c in cands)
    first = {key(c): c for c in reversed(cands)}
    return [(first[k], m) for k, m in counts.items()]


def _le(col: tuple[np.ndarray, np.ndarray], thr: float) -> np.ndarray:
    """Rows where Spark's ``x <= thr`` is TRUE: NaN sorts above every
    number and equals NaN; NULL is neither side."""
    x, null = col
    return ~null if thr != thr else (x <= thr) & ~null


def _gt(col: tuple[np.ndarray, np.ndarray], thr: float) -> np.ndarray:
    return ~_le(col, thr) & ~col[1]


def _rank(v, desc: bool = False) -> tuple:
    """Sort key of a double in Spark's ORDER BY: NaN above every
    number; NULL first ascending and last descending."""
    if v is None:
        return (2,) if desc else (0,)
    if v != v:
        return (0,) if desc else (2,)
    return (1, -v if desc else v)


def adaboost_stumps(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    rounds: int = 5,
    grid: int = GRID,
) -> DataFrame:
    """Fit ``rounds`` boosted stumps on ±1 labels derived from the 0/1
    ``label`` column; return the model table
    (round, feature, thr, pol, err, alpha).

    pol=+1 predicts +1 where x <= thr; pol=-1 predicts +1 where
    x > thr. err is the weighted error of the chosen stump on the
    weights entering that round (unnormalized — the ratio form is
    scale-invariant, so no per-round renormalization drift).
    """
    y, y_null, X, _ = _collect(pairs, 2 * F.col(label) - 1, features)
    _, grid_rows = _grid(X, features, grid)
    cands = _distinct([(f_, thr, pol) for f_, thr in grid_rows for pol in (1, -1)])

    def pred(f_: str, thr: float, pol: int) -> np.ndarray:
        """+1 where the stump fires; NULL x predicts -1."""
        return np.where((_le if pol == 1 else _gt)(X[f_], thr), 1, -1)

    w = np.ones(len(y))
    model: list[tuple[int, str, float, int, float, float]] = []
    for t in range(1, rounds + 1):
        if t > 1:  # fold in the previous stump
            hit = (pred(*model[-1][1:4]) == y) & ~y_null
            w = w * np.where(hit, f_corr, f_wrong)
        lm = limbs(to_units(w))
        [w_sum] = masked_sums(np.ones((1, len(y)), dtype=bool), lm)
        if w_sum == 0:
            raise ArithmeticException(message="[DIVIDE_BY_ZERO] Division by zero.")
        # a NULL label is never wrong
        wrong = np.array([(pred(*c) != y) & ~y_null for c, _ in cands])
        (err, f_, _, pol), thr = min(
            ((units_to_double(m * s) / units_to_double(m * w_sum), f_, _rank(thr), pol), thr)
            for ((f_, thr, pol), m), s in zip(cands, masked_sums(wrong, lm))
        )
        alpha, f_corr, f_wrong = _alpha_factors(err)
        model.append((t, f_, thr, pol, err, alpha))
    return pairs.sparkSession.createDataFrame(
        model,
        "round int, feature string, thr double, pol int, err double,"
        " alpha double",
    )


# ---------------------------------------------------------------------------
# Depth-2 boosted trees: one nested split level — feature interactions
# ---------------------------------------------------------------------------
#
# The capability gap between depth-1 stumps and the reference's XGBoost
# (`03_Train & Deploy Model.py:176-192`) is feature INTERACTION: a
# depth-2 tree conditions the second split on the first. Fit is greedy
# level-wise (the CART/XGBoost discipline): argmin the root split, then
# argmin each child's split independently; leaf predictions are the
# weighted-majority sign of their region. Everything stays replayable:
# - candidates are the same fixed min/max grid, no polarity arm — leaf
#   signs subsume polarity (sign-optimal splits at every level);
# - weights are EXACT INTEGERS: each round's two update factors e^{∓α}
#   quantize to k/Q (Q = 10⁹, k an integer computed once per round),
#   and a row's weight is the PRODUCT OF THE k's — a DECIMAL(38,0)
#   integer. The uniform Q^t denominator cancels in every argmin and
#   in the error ratio, so region weights, split objectives
#   (LEAST(le_pos,le_neg) + LEAST(gt_pos,gt_neg)), and leaf signs are
#   integer comparisons with NO float-to-decimal rounding anywhere.
#   (The depth-1 stump fit casts double weights to DECIMAL(38,18) per
#   row; the argmin here compares sums so close that the two engines'
#   last-digit rounding of that cast flipped a round-3 split at
#   sf0.001 — integers close the class.)
# - leaf sign = +1 iff pos-weight >= neg-weight (ties +1);
# - tree error = float(errL + errR) / float(W) — one correctly-rounded
#   cast per operand then a double divide, the same two-cast form the
#   SQL twin states; alpha quantizes to 9 digits as everywhere else.
#
# Headroom: k ≤ e^α·Q, so W ≤ n·(e^ᾱQ)^rounds. With α ≈ 1, Q = 10⁹,
# rounds = 3: ~n·2·10^28 — fine to n ≈ 10⁹ rows inside DECIMAL(38,0).
# More rounds or a degenerate α (err → ERR_FLOOR ⇒ α ≈ 10.4) needs a
# smaller Q — lower it, don't widen the decimal.
#
# Per round: the root argmin over every row, then one argmin per side
# of the root split; the integer weights are Python ints, and every
# DECIMAL(38,0) product, sum and the err casts below raise where Spark
# overflows (ANSI mode).

W_QUANTUM = 1_000_000_000  # Q: weight-factor quantization denominator


def _d2_factors(err: float) -> tuple[float, int, int]:
    """(alpha, k_correct, k_wrong): alpha as in :func:`_alpha_factors`,
    factors as INTEGER numerators over ``W_QUANTUM`` — round(f·Q) of a
    9-digit-quantized f never lands on a half, so Python's round here
    and SQL round() in the oracle pick the same integer."""
    alpha, f_corr, f_wrong = _alpha_factors(err)
    return alpha, round(f_corr * W_QUANTUM), round(f_wrong * W_QUANTUM)


def adaboost_depth2(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    rounds: int = 3,
    grid: int = GRID,
) -> DataFrame:
    """Fit ``rounds`` boosted depth-2 trees on ±1 labels derived from
    the 0/1 ``label`` column; return the model table

        (round, f0, t0,           -- root split
         fl, tl, sll, slr,        -- left child split + its leaf signs
         fr, tr, srl, srr,        -- right child split + its leaf signs
         err, alpha)

    h(x) = sll/slr/srl/srr by the nested split path; the scorer's
    margin is Σ_t alpha_t · h_t(x)."""
    y, y_null, X, _ = _collect(pairs, 2 * F.col(label) - 1, features)
    _, grid_rows = _grid(X, features, grid)
    cands = _distinct(grid_rows)
    sides = [(_le(X[f_], thr), _gt(X[f_], thr)) for (f_, thr), _ in cands]
    classes = (y == 1, y == -1)
    widest = max(m for _, m in cands)

    def argmin(rows: np.ndarray, lm: np.ndarray) -> tuple:
        """(key, feature, thr, multiplicity, [le_pos, le_neg, gt_pos,
        gt_neg]) of the candidate whose exact integer error
        LEAST(le_pos, le_neg) + LEAST(gt_pos, gt_neg) over ``rows`` is
        least; the error leads the key."""
        masks = [side & rows & c for pair in sides for side in pair for c in classes]
        sums = masked_sums(np.array(masks), lm)
        best = None
        for i, ((f_, thr), m) in enumerate(cands):
            r = [checked(m * v, 0) for v in sums[4 * i : 4 * i + 4]]
            # CAST(LEAST(..) AS DECIMAL(37,0)) on both sides
            k = (checked(min(r[:2]), 0, 37) + checked(min(r[2:]), 0, 37), f_, _rank(thr))
            if best is None or k < best[0]:
                best = (k, f_, thr, m, r)
        return best

    w = np.ones(len(y), dtype=object)
    model_rows = []
    for t in range(1, rounds + 1):
        if t > 1:  # fold in the previous tree
            w = w * np.where((h == y) & ~y_null, k_corr, k_wrong).astype(object)
            for v in w:
                checked(v, 0)
        lm = limbs(w)
        _, f0, t0, m0, _ = argmin(np.ones(len(y), dtype=bool), lm)
        w_sum = sum(w)
        checked(widest * w_sum, 0)  # every candidate group's SUM(w)
        left = _le(X[f0], t0)
        # Rows with a NULL root feature form a third side: it joins
        # neither child but, as its own group, still meets the overflow
        # checks. A side with no rows (e.g. a constant feature wins the
        # root, so x <= thr everywhere) gets the TRIVIAL child: the root
        # threshold, +1/+1 leaf signs (0 >= 0) and zero error — the row
        # the SQL twin's pri-2 arm emits.
        picks = {
            s_: argmin(r, lm)
            for s_, r in ((1, left), (0, _gt(X[f0], t0)), (None, X[f0][1]))
            if r.any()
        }
        trivial = ((0,), f0, t0, 1, [0, 0, 0, 0])
        (el, *_), fl, tl, _, rl = picks.get(1, trivial)
        (er, *_), fr, tr, _, rr = picks.get(0, trivial)
        sll, slr, srl, srr = (
            1 if p_ >= n_ else -1 for p_, n_ in (rl[:2], rl[2:], rr[:2], rr[2:])
        )
        # float(int) is one correctly-rounded cast per operand — the
        # exact shape the SQL twin's CAST(dec AS DOUBLE)/CAST(...) has
        err = float(el + er) / float(m0 * w_sum)
        alpha, k_corr, k_wrong = _d2_factors(err)
        model_rows.append(
            (t, f0, t0, fl, tl, sll, slr, fr, tr, srl, srr, err, alpha)
        )
        h = np.where(
            left,
            np.where(_le(X[fl], tl), sll, slr),
            np.where(_le(X[fr], tr), srl, srr),
        )
    return pairs.sparkSession.createDataFrame(model_rows, DEPTH2_SCHEMA)


DEPTH2_SCHEMA = (
    "round int, f0 string, t0 double, fl string, tl double,"
    " sll int, slr int, fr string, tr double, srl int, srr int,"
    " err double, alpha double"
)


# ---------------------------------------------------------------------------
# Second-order gradient boosting — the real XGBoost shape
# ---------------------------------------------------------------------------
#
# AdaBoost (above) boosts by re-WEIGHTING rows; the reference's XGBoost
# (`03_Train & Deploy Model.py:176-192`) boosts on the GRADIENT: each
# round fits a tree to the first/second derivatives of the sigmoid loss
# at the current score, with regularized closed-form leaf weights —
# `reg_alpha`/`reg_lambda`/`gamma` are searched dimensions of the
# reference's hyperopt space (`03_Train & Deploy Model.py:163-174`).
# This twin replays that capability exactly, one depth-1 tree per round:
#
# - per row: p = 1/(1+exp(-f)), g = p - y, h = p·(1-p) — the sigmoid
#   loss's first/second order terms at the current raw score f;
# - per candidate (same fixed min/max grid as the stumps, no polarity —
#   leaf weights subsume it): region sums GL/HL/GR/HR accumulated as
#   DECIMAL(38,18) of per-row doubles (exact, order-insensitive);
# - split objective: the canonical second-order gain
#   ½·[GL²/(HL+λ) + GR²/(HR+λ) − (GL+GR)²/(HL+HR+λ)] − γ, argmax with
#   a total (gain DESC, feature, thr) tie-break. γ shifts every gain
#   equally so it cannot flip the argmax; it is kept in the expression
#   because it is the no-split margin a deeper tree would prune on;
# - leaf weights: w = −soft(G, α)/(H + λ) (L1 soft-threshold + L2
#   shrinkage — XGBoost's regularized closed form), rounded to 9
#   digits; score update f ← round(f + η·w_leaf, 10).
#
# Determinism is the logreg-GD discipline, not the depth-2 integer one:
# the per-row sigmoid is inherently transcendental, so instead of
# banning it we quantize every cross-round carrier — leaf weights round
# to 9 digits and the score to 10 each round, squashing last-ulp
# libm exp() disagreements before they compound. The gain expression is
# built ONCE as a SQL string, evaluated verbatim by DuckDB and as a
# Python lambda by the fit, so the float contraction order is identical
# by construction. Decimal region sums are exact, so grid ties break on
# the lexical key the same way on both sides.
#
# One tree grower (:func:`_grow`) fits every gradient model in this
# module and in operators/gboost_deep.py: gboost_fit is its depth 1,
# gboost_depth2_fit its depth 2, gboost_deep_fit any depth with row and
# column subsampling, and gboost_hist_fit swaps in a histogram level.

GB_LAMBDA = 1.0  # reg_lambda: L2 leaf shrinkage
GB_ALPHA = 0.5  # reg_alpha: L1 leaf soft-threshold
GB_GAMMA = 0.0  # gamma: per-leaf complexity charge (argmax-invariant)
GB_ETA = 0.3  # learning rate


def _gb_gain_expr(lam: float, gamma: float) -> str:
    """The second-order split gain over the DOUBLE-cast region sums —
    ONE shared SQL string evaluated by both engines so the expression
    tree (and thus every IEEE contraction) is identical by
    construction."""
    return (
        f"0.5 * (gl * gl / (hl + {lam!r}) + gr * gr / (hr + {lam!r})"
        f" - (gl + gr) * (gl + gr) / (hl + hr + {lam!r})) - {gamma!r}"
    )


def _gb_leaf(g: float, h: float, lam: float, alpha: float) -> float:
    """Regularized closed-form leaf weight −soft(G, α)/(H + λ),
    rounded to 9 digits before it enters the score recursion."""
    if g > alpha:
        s = g - alpha
    elif g < -alpha:
        s = g + alpha
    else:
        s = 0.0
    # + 0.0 normalizes a -0.0 leaf (empty region) to +0.0 — DuckDB's
    # round() drops the zero sign, Python's keeps it; IEEE -0+0 = +0
    # and nonzero values are unchanged.
    return round(-s / (h + lam), 9) + 0.0


GB_SCHEMA = (
    "round int, feature string, thr double, gain double,"
    " w_le double, w_gt double"
)


def col_subset(
    features: list[str],
    t: int,
    level: int,
    colsample: float,
    seed: int,
    node: int | None = None,
) -> list[str]:
    """Seeded column subsample: rank features by
    md5('{seed}:cols:{t}:{level}:{feature}') and keep the smallest
    ``max(1, round(colsample·n))`` in original feature order. Driver-
    side (hashlib), so the fit and the SQL generator — which share
    this function — embed the identical subset as literals.

    With ``node`` set the draw keys by the heap node id instead
    (md5('{seed}:colsnode:{t}:{node}:{feature}')) — XGBoost's
    ``colsample_bynode``, drawn FROM the by-level survivors the
    caller passes in (the reference searches the bytree/bylevel/
    bynode triple, `03_Train & Deploy Model.py:168-171`; bytree is
    the level-keyed draw with the level term held constant, i.e. a
    per-round subset — callers get it by passing level=0 every
    level)."""
    if colsample >= 1.0:
        return list(features)
    k = max(1, int(round(colsample * len(features))))
    key = (
        (lambda f_: f"{seed}:colsnode:{t}:{node}:{f_}")
        if node is not None
        else (lambda f_: f"{seed}:cols:{t}:{level}:{f_}")
    )
    ranked = sorted(
        features,
        key=lambda f_: hashlib.md5(key(f_).encode()).hexdigest(),
    )
    keep = set(ranked[:k])
    return [f_ for f_ in features if f_ in keep]


def _keyed_uniform(keys: list[str | None], seed: int) -> np.ndarray:
    """functions/sampling.keyed_uniform over collected string keys:
    the first 8 hex digits of md5('seed:key') over 2^32. A NULL key
    drops out of the concat_ws, leaving md5('seed')."""
    return np.array(
        [
            int(hashlib.md5(
                (str(seed) if k is None else f"{seed}:{k}").encode()
            ).hexdigest()[:8], 16)
            for k in keys
        ],
        dtype=np.float64,
    ) / float(2**32)


def _exact_regions(X, node, nodes, subset, ranges, grid_rows, grid, gh):
    """One level's candidates, exact split finding: region sums of
    every (node, feature, thr) of ``subset``'s grid over the node's
    rows, as (node, feature, thr, gl, hl, gr, hr). An empty region
    sums to 0.0, as the SQL twins' SUM over zeros does; a NULL x joins
    neither side."""
    out = []
    cands = _distinct([c for c in grid_rows if c[0] in subset])
    le = np.array([_le(X[f_], thr) for (f_, thr), _ in cands])
    gt = np.array([_gt(X[f_], thr) for (f_, thr), _ in cands])
    for n in nodes:
        at = node == n
        if not at.any():
            continue
        sums = [masked_sums(side & at, lm) for side in (le, gt) for lm, _ in gh]
        for i, ((f_, thr), m) in enumerate(cands):
            out.append(
                (n, f_, thr, *(units_to_double(m * s[i]) for s in sums))
            )
    return out


def _grow(
    pairs: DataFrame,
    features: list[str],
    label: str,
    rounds: int,
    depth: int,
    grid: int,
    lam: float,
    alpha: float,
    gamma: float,
    eta: float,
    loss: str = "logistic",
    regions=_exact_regions,
    subsample: float = 1.0,
    colsample: float = 1.0,
    colsample_bynode: float = 1.0,
    min_child_weight: float = 0.0,
    row_key: str | None = None,
    seed: int = 7,
) -> list[dict[int, dict]]:
    """Every gradient fit's round loop: ``rounds`` complete trees of
    ``depth`` levels, heap-numbered (root 1, children 2n and 2n+1),
    grown level by level on the collected columns. Returns each
    round's {node: pick}: the split (feature, thr), its gain rounded to
    9 digits and the leaf weights w_le/w_gt below it.

    Per round, (g, h) of ``loss`` at the raw score f (0 for rows
    ``subsample`` leaves out) cast to DECIMAL(38,18); per level,
    ``regions`` sums every candidate, the ``colsample_bynode`` and
    ``min_child_weight`` filters apply, and each node takes the argmax
    by (gain DESC, feature, thr). A node with no candidate left becomes
    a LEAF at its parent's threshold (the root: its subset's first
    feature at that feature's minimum) weighing −soft(G, α)/(H + λ) of
    its own rows, 0 if it has none. Then f ← round(f + η·w_leaf, 10)
    along each row's path, NULL routing right."""
    y, _, X, keys = _collect(pairs, F.col(label), features, row_key)
    ranges, grid_rows = _grid(X, features, grid)
    gain = eval("lambda gl, hl, gr, hr: " + _gb_gain_expr(lam, gamma))
    f = np.zeros(len(y))
    trees = []
    for t in range(1, rounds + 1):
        with np.errstate(all="ignore"):
            if loss == "poisson":
                g, h = strict_exp(f) - y, strict_exp(f)
            elif loss == "squared":
                g, h = f - y, np.ones(len(y))
            else:
                p = 1.0 / (1.0 + strict_exp(-f))
                g, h = p - y, p * (1.0 - p)
        if subsample < 1.0:
            ind = np.where(_keyed_uniform(keys, seed * 1000 + t) < subsample, 1.0, 0.0)
            g, h = g * ind, h * ind
        # (limbs, not-NULL mask) of g and of h; a NULL label's g is NULL
        gh = [
            (limbs(q), np.array([u is not None for u in q], dtype=bool))
            for q in (to_units(g), to_units(h))
        ]
        node = np.ones(len(y), dtype=np.int64)
        picks: dict[int, dict] = {}
        for level in range(depth):
            nodes = range(2**level, 2 ** (level + 1))
            if level:
                node = _route(node, picks, X)
            subset = col_subset(features, t, level, colsample, seed)
            allow = {
                n: col_subset(subset, t, level, colsample_bynode, seed, node=n)
                for n in nodes
            }
            best: dict[int, tuple] = {}
            for n, f_, thr, gl, hl, gr, hr in regions(
                X, node, nodes, subset, ranges, grid_rows, grid, gh
            ):
                if f_ not in allow[n] or min_child_weight > 0.0 and (
                    None in (hl, hr) or hl < min_child_weight or hr < min_child_weight
                ):
                    continue
                gn = None if None in (gl, hl, gr, hr) else gain(gl, hl, gr, hr)
                k = (_rank(gn, desc=True), f_, _rank(thr))
                if n not in best or k < best[n][0]:
                    best[n] = (k, f_, thr, gn, gl, hl, gr, hr)
            for n in nodes:
                if n in best:
                    _, f_, thr, gn, gl, hl, gr, hr = best[n]
                    picks[n] = dict(
                        feature=f_, thr=thr, gain=round(gn, 9),
                        w_le=_gb_leaf(gl, hl, lam, alpha),
                        w_gt=_gb_leaf(gr, hr, lam, alpha),
                    )
                    continue
                pf = allow[n][0] if level == 0 else picks[n // 2]["feature"]
                pt = ranges[pf][0] if level == 0 else picks[n // 2]["thr"]
                at = node == n
                w = _gb_leaf(*(  # the node's own G, H: NULL if no row has one
                    units_to_double(masked_sums(at[None], lm)[0])
                    if (at & ok).any() else None
                    for lm, ok in gh
                ), lam, alpha) if at.any() else _gb_leaf(0.0, 0.0, lam, alpha)
                picks[n] = dict(feature=pf, thr=pt, gain=0.0, w_le=w, w_gt=w)
        trees.append(picks)
        if t < rounds:
            leaf = _route(node, picks, X)
            w_leaf = {
                m: picks[m // 2]["w_gt" if m % 2 else "w_le"]
                for m in np.unique(leaf).tolist()
            }
            step = np.array([w_leaf[m] for m in leaf.tolist()], dtype=np.float64)
            # scale 10, not 9: η·w (w at 9 places, η = 0.3) is an exact
            # 10-place value, so a 9-place round would hit .5 ties, where
            # Spark (decimal string) and DuckDB (binary value) disagree
            f = round_half_up(f + eta * step, 10)
    return trees


def _route(node: np.ndarray, picks: dict[int, dict], X: dict) -> np.ndarray:
    """Each row's child of its ``node``: 2n on the <=-side of n's
    split, else 2n+1 (NULL included)."""
    child = 2 * node + 1
    for n in np.unique(node).tolist():
        p = picks[n]
        child[(node == n) & _le(X[p["feature"]], p["thr"])] -= 1
    return child


def gboost_fit(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    rounds: int = 3,
    grid: int = GRID,
    lam: float = GB_LAMBDA,
    alpha: float = GB_ALPHA,
    gamma: float = GB_GAMMA,
    eta: float = GB_ETA,
    loss: str = "logistic",
) -> DataFrame:
    """Fit ``rounds`` second-order boosted depth-1 trees on ``label``;
    return the model table (round, feature, thr, gain, w_le, w_gt).
    :func:`score_column` applies f(x) = Σ_t η·(w_le if x ≤ thr else w_gt).

    ``loss`` picks the per-row (g, h) pair — everything downstream
    (grid, gain, regularized leaves, DECIMAL sums, quantization) is
    loss-agnostic, exactly as in XGBoost's objective plug-in design:
    - "logistic" (0/1 label): p = sigmoid(f), g = p − y, h = p·(1−p).
    - "poisson" (count label, log link): μ = exp(f), g = μ − y,
      h = μ — count regression (orders per customer, events per
      session); prediction is μ = exp(f).
    - "squared" (regression): g = f − y, h = 1 — with rounds=1 and
      α=γ=0 this is a plain variance-reduction CART stump with
      ridge-shrunk mean leaves, the bagging base learner."""
    if loss not in ("logistic", "poisson", "squared"):
        raise ValueError(f"gboost_fit: unknown loss {loss!r}")
    trees = _grow(
        pairs, features, label, rounds, 1, grid, lam, alpha, gamma, eta, loss
    )
    rows = [
        (t, p["feature"], p["thr"], p["gain"], p["w_le"], p["w_gt"])
        for t, tree in enumerate(trees, 1)
        for p in [tree[1]]
    ]
    return pairs.sparkSession.createDataFrame(rows, GB_SCHEMA)


# ---------------------------------------------------------------------------
# Depth-2 gradient boosting: second-order splits WITH interactions —
# the gboost_fit gain/leaf machinery at adaboost_depth2's tree shape.

GB2_SCHEMA = (
    "round int, f0 string, t0 double, gain double,"
    " fl string, tl double, w_ll double, w_lr double,"
    " fr string, tr double, w_rl double, w_rr double"
)


def gboost_depth2_fit(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    rounds: int = 2,
    grid: int = GRID,
    lam: float = GB_LAMBDA,
    alpha: float = GB_ALPHA,
    gamma: float = GB_GAMMA,
    eta: float = GB_ETA,
) -> DataFrame:
    """Fit ``rounds`` second-order boosted DEPTH-2 trees: root split
    by the regularized gain, one child split per side (feature
    interactions — the capability XGBoost's max_depth>1 buys), four
    regularized leaf weights −soft(G, α)/(H + λ). :func:`score_column`
    applies f(x) = Σ_t η·w_leaf through the two-level split path.

    Degenerate-root guard (the adaboost_depth2 discipline): a side
    with no rows gets the TRIVIAL child — the root threshold with
    leaves computed from all-zero region sums (−soft(0)/(0+λ), which
    both engines normalize to +0.0). The SQL twin's pri-2 fallback
    arm emits the identical row."""
    trees = _grow(pairs, features, label, rounds, 2, grid, lam, alpha, gamma, eta)
    rows = [
        (t, r["feature"], r["thr"], r["gain"],
         lt_["feature"], lt_["thr"], lt_["w_le"], lt_["w_gt"],
         rt_["feature"], rt_["thr"], rt_["w_le"], rt_["w_gt"])
        for t, tree in enumerate(trees, 1)
        for r, lt_, rt_ in [(tree[1], tree[2], tree[3])]
    ]
    return pairs.sparkSession.createDataFrame(rows, GB2_SCHEMA)


# ---------------------------------------------------------------------------
# The scorer: f(x) = Σ_t η·w_leaf down each round's split path, for the
# model rows of every gradient fit — GB_SCHEMA depth-1 rows, GB2_SCHEMA
# depth-2 rows and gboost_deep's GBD_SCHEMA heap-numbered rows.


def _double(v: float) -> str:
    """``v`` as Spark SQL text that reads back bit for bit: ``repr``
    with the ``D`` suffix keeps -0.0, which ``CAST(-0.0 AS DOUBLE)``
    parses through DECIMAL to +0.0; NaN and ±inf have no literal and
    go through a cast of their string name."""
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _split(feature: str, thr: float, le: str, gt: str) -> str:
    """One split: NULL compares to NULL, so it takes the ``gt`` side."""
    return f"CASE WHEN `{feature}` <= {_double(thr)} THEN {le} ELSE {gt} END"


def _stump(p: dict) -> str:
    """A split with its two leaf weights (w_le, w_gt)."""
    return _split(p["feature"], p["thr"], _double(p["w_le"]), _double(p["w_gt"]))


def _score_expr(model_rows) -> str:
    """The ensemble's score as one SQL expression: per round the tree
    walk times η, summed left to right in round order (0.0 for no
    rounds). The shape comes from the row fields; a heap-numbered
    model's depth from its largest node."""
    rows = sorted((r.asDict() for r in model_rows), key=lambda r: r["round"])
    if not rows:
        return "0.0D"
    if "node" in rows[0]:
        leaf_level = 2 ** (max(r["node"] for r in rows).bit_length() - 1)
        by_round: dict[int, dict[int, dict]] = {}
        for r in rows:
            by_round.setdefault(r["round"], {})[r["node"]] = r

        def walk(tree: dict[int, dict], n: int) -> str:
            p = tree[n]
            if n >= leaf_level:
                return _stump(p)
            return _split(
                p["feature"], p["thr"], walk(tree, 2 * n), walk(tree, 2 * n + 1)
            )

        trees = [walk(tree, 1) for tree in by_round.values()]
    elif "f0" in rows[0]:
        trees = [
            _split(
                r["f0"], r["t0"],
                _split(r["fl"], r["tl"], _double(r["w_ll"]), _double(r["w_lr"])),
                _split(r["fr"], r["tr"], _double(r["w_rl"]), _double(r["w_rr"])),
            )
            for r in rows
        ]
    else:
        trees = [_stump(r) for r in rows]
    return " + ".join(f"({_double(GB_ETA)} * {t})" for t in trees)


def score_column(model_rows) -> Column:
    """The fitted ensemble's raw score f(x) = Σ_t η·w_leaf as a column
    expression over the model's feature columns; ``model_rows`` are the
    collected rows of gboost_fit, gboost_depth2_fit, gboost_deep_fit or
    gboost_hist_fit. Row-local: the trees ship as literal CASE terms,
    no join, no UDF."""
    return F.expr(_score_expr(model_rows))


def model_artifact(model_rows) -> PipelineModel:
    """The same score as an MLWritable model for
    operators/registry.ModelRegistry: one SQLTransformer that appends
    ``score`` (the expression of :func:`score_column`) to its input."""
    stmt = f"SELECT *, {_score_expr(model_rows)} AS score FROM __THIS__"
    return PipelineModel(stages=[SQLTransformer(statement=stmt)])
