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
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
from pyspark.errors import ArithmeticException
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


def adaboost_ctes(
    pairs_sql: str, features: list[str], rounds: int = 5, grid: int = GRID
) -> tuple[str, str]:
    """The unrolled fit as (WITH-clause body, model-table UNION tail) —
    shared by the model query and the scoring query."""
    mn_mx = ", ".join(
        f"MIN({f_}) AS mn_{f_}, MAX({f_}) AS mx_{f_}" for f_ in features
    )
    cand_arms = []
    for f_ in features:
        for k in range(1, grid):
            thr = f"(mn_{f_} + {k} * (mx_{f_} - mn_{f_}) / {float(grid)!r})"
            for pol in (1, -1):
                cand_arms.append(
                    f"SELECT '{f_}' AS feature, {thr} AS thr,"
                    f" {pol} AS pol FROM stats"
                )
    feat_case = "CASE feature " + " ".join(
        f"WHEN '{f_}' THEN {f_}" for f_ in features
    ) + " END"
    parts = [
        f"WITH pairs AS MATERIALIZED ({pairs_sql})",
        f"stats AS MATERIALIZED (SELECT {mn_mx} FROM pairs)",
        "cands AS MATERIALIZED (" + " UNION ALL ".join(cand_arms) + ")",
        "w0 AS MATERIALIZED (SELECT 2 * label - 1 AS y, "
        + ", ".join(features)
        + ", 1.0 AS w FROM pairs)",
    ]
    e_clamp = (
        f"LEAST(GREATEST(err, {ERR_FLOOR!r}), {1.0 - ERR_FLOOR!r})"
    )
    arms = []
    for t in range(1, rounds + 1):
        parts.append(f"""ev{t} AS MATERIALIZED (
      SELECT feature, thr, pol,
             CAST(SUM(CAST(CASE WHEN (CASE WHEN (pol = 1 AND {feat_case} <= thr)
                                          OR (pol = -1 AND {feat_case} > thr)
                                     THEN 1 ELSE -1 END) != y
                            THEN w ELSE 0.0 END AS DECIMAL(38,18))) AS DOUBLE)
             / CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE) AS err
      FROM w{t - 1}, cands GROUP BY feature, thr, pol
    )""")
        parts.append(f"""best{t} AS MATERIALIZED (
      SELECT feature, thr, pol, err,
             round(0.5 * ln((1.0 - {e_clamp}) / {e_clamp}), 9) AS alpha
      FROM ev{t} ORDER BY err ASC, feature ASC, thr ASC, pol ASC LIMIT 1
    )""")
        parts.append(f"""w{t} AS MATERIALIZED (
      SELECT y, {", ".join(features)},
             w * (CASE WHEN (CASE WHEN (b.pol = 1 AND {feat_case} <= b.thr)
                                      OR (b.pol = -1 AND {feat_case} > b.thr)
                                 THEN 1 ELSE -1 END) = y
                       THEN round(exp(-b.alpha), 9)
                       ELSE round(exp(b.alpha), 9) END) AS w
      FROM w{t - 1}, best{t} b
    )""")
        arms.append(
            f"SELECT {t} AS round, feature, thr, pol, err, alpha FROM best{t}"
        )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def adaboost_stumps_sql(
    pairs_sql: str, features: list[str], rounds: int = 5, grid: int = GRID
) -> str:
    """DuckDB twin of :func:`adaboost_stumps`: identical candidate
    grid, weighted-error argmin, quantized alpha/factors, and weight
    recursion — unrolled one CTE level per round (MATERIALIZED:
    inlining re-expands the recursion exponentially)."""
    ctes, model_union = adaboost_ctes(pairs_sql, features, rounds, grid)
    return ctes + "\n" + model_union


def adaboost_score_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 5,
    grid: int = GRID,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    limit: int = 20,
) -> str:
    """DuckDB twin of scoring through the fitted ensemble: the same
    unrolled fit CTEs, then margin = Σ_t ±alpha_t per pair (the 1-row
    best CTEs cross-joined in), ranked by (margin DESC, id ASC).
    ``pairs_sql`` must also expose ``id_cols``."""
    ctes, _ = adaboost_ctes(pairs_sql, features, rounds, grid)
    ida, idb = id_cols
    terms = []
    froms = ["pairs"]
    for t in range(1, rounds + 1):
        b = f"b{t}"
        froms.append(f"best{t} {b}")
        feat_case = "CASE " + " ".join(
            f"WHEN {b}.feature = '{f_}' THEN {f_}" for f_ in features
        ) + " END"
        terms.append(
            f"(CASE WHEN ({b}.pol = 1 AND {feat_case} <= {b}.thr)"
            f" OR ({b}.pol = -1 AND {feat_case} > {b}.thr)"
            f" THEN {b}.alpha ELSE -{b}.alpha END)"
        )
    margin = " + ".join(terms)
    return (
        ctes
        + f"""
    SELECT {ida}, {idb}, margin,
           CASE WHEN margin > 0 THEN 1 ELSE 0 END AS pred
    FROM (
      SELECT {ida}, {idb}, {margin} AS margin
      FROM {", ".join(froms)}
    ) ORDER BY margin DESC, {ida} ASC LIMIT {limit}"""
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


def adaboost_depth2_ctes(
    pairs_sql: str, features: list[str], rounds: int = 3, grid: int = GRID
) -> tuple[str, str]:
    """The unrolled depth-2 fit as (WITH-clause body, model UNION
    tail) — shared by the model query and the scoring query (the
    adaboost_ctes convention)."""
    mn_mx = ", ".join(
        f"MIN({f_}) AS mn_{f_}, MAX({f_}) AS mx_{f_}" for f_ in features
    )
    cand_arms = []
    for f_ in features:
        for k in range(1, grid):
            thr = f"(mn_{f_} + {k} * (mx_{f_} - mn_{f_}) / {float(grid)!r})"
            cand_arms.append(
                f"SELECT '{f_}' AS feature, {thr} AS thr FROM stats"
            )
    feat_case = (
        "CASE feature "
        + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
        + " END"
    )

    def region_sums(x: str) -> str:
        def s(cond: str, name: str) -> str:
            return (
                f"SUM(CASE WHEN {cond} THEN w"
                f" ELSE CAST(0 AS DECIMAL(38,0)) END) AS {name}"
            )

        return ", ".join(
            [
                s(f"{x} <= thr AND y = 1", "le_pos"),
                s(f"{x} <= thr AND y = -1", "le_neg"),
                s(f"{x} > thr AND y = 1", "gt_pos"),
                s(f"{x} > thr AND y = -1", "gt_neg"),
            ]
        )

    # exact integer objective (see module header: weights are products
    # of the quantized integer factors, the Q^t denominator cancels)
    # Exactness trap this expression dodges (found live at sf0.001):
    # DuckDB's LEAST on ANY decimal args returns DOUBLE, which loses
    # integer exactness at ~1e20 and mis-breaks argmin ties — a CASE
    # comparison keeps DECIMAL. The (37,0) casts bound the addition's
    # result type to (38,0) explicitly on both engines.
    def _dmin(a: str, b: str) -> str:
        return f"CASE WHEN {a} <= {b} THEN {a} ELSE {b} END"

    err_expr = (
        f"(CAST({_dmin('le_pos', 'le_neg')} AS DECIMAL(37,0))"
        f" + CAST({_dmin('gt_pos', 'gt_neg')} AS DECIMAL(37,0)))"
    )
    e_clamp = f"LEAST(GREATEST(err, {ERR_FLOOR!r}), {1.0 - ERR_FLOOR!r})"
    parts = [
        f"WITH pairs AS MATERIALIZED ({pairs_sql})",
        f"stats AS MATERIALIZED (SELECT {mn_mx} FROM pairs)",
        "cands AS MATERIALIZED (" + " UNION ALL ".join(cand_arms) + ")",
        "w0 AS MATERIALIZED (SELECT 2 * label - 1 AS y, "
        + ", ".join(features)
        + ", CAST(1 AS DECIMAL(38,0)) AS w FROM pairs)",
    ]
    arms = []
    for t in range(1, rounds + 1):
        w_prev = f"w{t - 1}"
        parts.append(f"""root{t} AS MATERIALIZED (
      SELECT feature AS f0, thr AS t0, wtot AS w_tot
      FROM (
        SELECT feature, thr, {region_sums(feat_case)},
               SUM(w) AS wtot
        FROM {w_prev}, cands GROUP BY feature, thr
      ) ORDER BY {err_expr} ASC, feature ASC, thr ASC LIMIT 1
    )""")
        root_case = (
            "CASE b.f0 "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END"
        )
        parts.append(f"""evc{t} AS MATERIALIZED (
      SELECT CASE WHEN {root_case} <= b.t0 THEN 1 ELSE 0 END AS side,
             feature, thr, {region_sums(feat_case)}
      FROM {w_prev}, root{t} b, cands
      GROUP BY 1, feature, thr
    )""")
        # pri-2 arm = the degenerate-root fallback (see adaboost_depth2
        # _pick): when the root puts every row on one side, the other
        # side's evc slice is empty — without the fallback this CTE
        # would be empty and best{t} would silently drop the round's
        # model row while the Spark fit kept it. The trivial child
        # (root threshold, +1/+1 signs, zero error) only wins when no
        # pri-1 row exists.
        for side, nm in ((1, "bl"), (0, "br")):
            parts.append(f"""{nm}{t} AS MATERIALIZED (
      SELECT feature, thr, s_le, s_gt, errc FROM (
        SELECT 1 AS pri, feature, thr,
               CASE WHEN le_pos >= le_neg THEN 1 ELSE -1 END AS s_le,
               CASE WHEN gt_pos >= gt_neg THEN 1 ELSE -1 END AS s_gt,
               {err_expr} AS errc
        FROM evc{t} WHERE side = {side}
        UNION ALL
        SELECT 2 AS pri, f0 AS feature, t0 AS thr, 1 AS s_le, 1 AS s_gt,
               CAST(0 AS DECIMAL(38,0)) AS errc
        FROM root{t}
      ) ORDER BY pri ASC, errc ASC, feature ASC, thr ASC LIMIT 1
    )""")
        parts.append(f"""best{t} AS MATERIALIZED (
      SELECT r.f0, r.t0,
             l.feature AS fl, l.thr AS tl, l.s_le AS sll, l.s_gt AS slr,
             g.feature AS fr, g.thr AS tr, g.s_le AS srl, g.s_gt AS srr,
             CAST(CAST(l.errc AS DECIMAL(37,0))
                  + CAST(g.errc AS DECIMAL(37,0)) AS DOUBLE)
               / CAST(r.w_tot AS DOUBLE) AS err,
             round(0.5 * ln((1.0 - {e_clamp}) / {e_clamp}), 9) AS alpha
      FROM root{t} r, bl{t} l, br{t} g
    )""")
        h_case = (
            f"(CASE WHEN (CASE b.f0 "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END) <= b.t0 THEN"
            f" (CASE WHEN (CASE b.fl "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END) <= b.tl THEN b.sll ELSE b.slr END)"
            f" ELSE (CASE WHEN (CASE b.fr "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END) <= b.tr THEN b.srl ELSE b.srr END) END)"
        )
        parts.append(f"""w{t} AS MATERIALIZED (
      SELECT y, {", ".join(features)},
             w * (CASE WHEN {h_case} = y
                       THEN CAST(round(round(exp(-b.alpha), 9)
                                       * {W_QUANTUM}) AS DECIMAL(38,0))
                       ELSE CAST(round(round(exp(b.alpha), 9)
                                       * {W_QUANTUM}) AS DECIMAL(38,0))
                  END) AS w
      FROM {w_prev}, best{t} b
    )""")
        arms.append(
            f"SELECT {t} AS round, f0, t0, fl, tl, sll, slr,"
            f" fr, tr, srl, srr, err, alpha FROM best{t}"
        )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def adaboost_depth2_sql(
    pairs_sql: str, features: list[str], rounds: int = 3, grid: int = GRID
) -> str:
    """DuckDB twin of :func:`adaboost_depth2`: identical grid, integer
    region weights, split objective, leaf signs, and weight recursion —
    unrolled one CTE level per round."""
    ctes, model_union = adaboost_depth2_ctes(pairs_sql, features, rounds, grid)
    return ctes + "\n" + model_union


def _d2_h_case(b: str, features: list[str]) -> str:
    """The depth-2 prediction h(x) through best-row ``b``'s nested
    split path, as a SQL CASE over the pair columns."""

    def fcase(col: str) -> str:
        return (
            f"(CASE {b}.{col} "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END)"
        )

    return (
        f"(CASE WHEN {fcase('f0')} <= {b}.t0 THEN"
        f" (CASE WHEN {fcase('fl')} <= {b}.tl"
        f" THEN {b}.sll ELSE {b}.slr END)"
        f" ELSE (CASE WHEN {fcase('fr')} <= {b}.tr"
        f" THEN {b}.srl ELSE {b}.srr END) END)"
    )


def adaboost_depth2_score_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 3,
    grid: int = GRID,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    limit: int = 20,
) -> str:
    """DuckDB twin of scoring through the fitted depth-2 ensemble:
    the unrolled fit CTEs, then margin = Σ_t alpha_t·h_t(x) per pair
    through each round's nested split path, ranked by
    (margin DESC, id ASC). ``pairs_sql`` must also expose
    ``id_cols``."""
    ctes, _ = adaboost_depth2_ctes(pairs_sql, features, rounds, grid)
    ida, idb = id_cols
    terms = []
    froms = ["pairs"]
    for t in range(1, rounds + 1):
        b = f"b{t}"
        froms.append(f"best{t} {b}")
        terms.append(f"({b}.alpha * {_d2_h_case(b, features)})")
    margin = " + ".join(terms)
    return (
        ctes
        + f"""
    SELECT {ida}, {idb}, margin,
           CASE WHEN margin > 0 THEN 1 ELSE 0 END AS pred
    FROM (
      SELECT {ida}, {idb}, {margin} AS margin
      FROM {", ".join(froms)}
    ) ORDER BY margin DESC, {ida} ASC LIMIT {limit}"""
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
    A scorer applies f(x) = Σ_t η·(w_le if x ≤ thr else w_gt).

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


def gboost_ctes(
    pairs_sql: str,
    features: list[str],
    rounds: int = 3,
    grid: int = GRID,
    lam: float = GB_LAMBDA,
    alpha: float = GB_ALPHA,
    gamma: float = GB_GAMMA,
    eta: float = GB_ETA,
    loss: str = "logistic",
) -> tuple[str, str]:
    """The unrolled second-order fit as (WITH-clause body, model UNION
    tail) — shared by the model query and the scoring query (the
    adaboost_ctes convention). ``loss`` swaps only the gh{t} CTE's
    (g, h) expressions, mirroring :func:`gboost_fit`."""
    if loss not in ("logistic", "poisson", "squared"):
        raise ValueError(f"gboost_ctes: unknown loss {loss!r}")
    mn_mx = ", ".join(
        f"MIN({f_}) AS mn_{f_}, MAX({f_}) AS mx_{f_}" for f_ in features
    )
    cand_arms = []
    for f_ in features:
        for k in range(1, grid):
            thr = f"(mn_{f_} + {k} * (mx_{f_} - mn_{f_}) / {float(grid)!r})"
            cand_arms.append(
                f"SELECT '{f_}' AS feature, {thr} AS thr FROM stats"
            )
    feat_case = (
        "CASE feature "
        + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
        + " END"
    )
    gain_sql = _gb_gain_expr(lam, gamma)
    sig = "1.0 / (1.0 + exp(-f))"

    def leaf(G: str, H: str) -> str:
        soft = (
            f"CASE WHEN {G} > {alpha!r} THEN {G} - {alpha!r}"
            f" WHEN {G} < -{alpha!r} THEN {G} + {alpha!r} ELSE 0.0 END"
        )
        # + 0.0: normalize a -0.0 empty-region leaf (see _gb_leaf)
        return f"(round(-({soft}) / ({H} + {lam!r}), 9) + 0.0)"

    def rsum(cond: str, term: str, name: str) -> str:
        return (
            f"CAST(SUM(CAST(CASE WHEN {cond} THEN {term} ELSE 0.0 END"
            f" AS DECIMAL(38,18))) AS DOUBLE) AS {name}"
        )

    parts = [
        f"WITH pairs AS MATERIALIZED ({pairs_sql})",
        f"stats AS MATERIALIZED (SELECT {mn_mx} FROM pairs)",
        "cands AS MATERIALIZED (" + " UNION ALL ".join(cand_arms) + ")",
        "s0 AS MATERIALIZED (SELECT CAST(label AS DOUBLE) AS y, "
        + ", ".join(features)
        + ", 0.0 AS f FROM pairs)",
    ]
    if loss == "poisson":
        g_expr, h_expr = "exp(f) - y AS g", "exp(f) AS h"
    elif loss == "squared":
        g_expr, h_expr = "f - y AS g", "1.0 AS h"
    else:
        g_expr, h_expr = f"{sig} - y AS g", f"({sig}) * (1.0 - {sig}) AS h"
    arms = []
    for t in range(1, rounds + 1):
        parts.append(f"""gh{t} AS MATERIALIZED (
      SELECT y, {", ".join(features)},
             {g_expr}, {h_expr}
      FROM s{t - 1}
    )""")
        le = f"{feat_case} <= thr"
        parts.append(f"""ev{t} AS MATERIALIZED (
      SELECT feature, thr,
             {rsum(le, "g", "gl")},
             {rsum(le, "h", "hl")},
             {rsum(f"NOT ({le})", "g", "gr")},
             {rsum(f"NOT ({le})", "h", "hr")}
      FROM gh{t}, cands GROUP BY feature, thr
    )""")
        parts.append(f"""best{t} AS MATERIALIZED (
      SELECT feature, thr, round({gain_sql}, 9) AS gain,
             {leaf("gl", "hl")} AS w_le, {leaf("gr", "hr")} AS w_gt
      FROM ev{t} ORDER BY {gain_sql} DESC, feature ASC, thr ASC LIMIT 1
    )""")
        b_case = (
            "CASE b.feature "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END"
        )
        parts.append(f"""s{t} AS MATERIALIZED (
      SELECT y, {", ".join(features)},
             round(f + {eta!r} * (CASE WHEN {b_case} <= b.thr
                                  THEN b.w_le ELSE b.w_gt END), 10) AS f
      FROM s{t - 1}, best{t} b
    )""")
        arms.append(
            f"SELECT {t} AS round, feature, thr, gain, w_le, w_gt"
            f" FROM best{t}"
        )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def gboost_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 3,
    grid: int = GRID,
    loss: str = "logistic",
) -> str:
    """DuckDB twin of :func:`gboost_fit`: identical grid, g/h terms,
    DECIMAL region sums, shared gain expression, regularized leaf
    closed form, and quantized score recursion — unrolled one CTE
    level per round."""
    ctes, model_union = gboost_ctes(
        pairs_sql, features, rounds, grid, loss=loss
    )
    return ctes + "\n" + model_union


def gboost_score_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 3,
    grid: int = GRID,
    eta: float = GB_ETA,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    limit: int = 20,
) -> str:
    """DuckDB twin of scoring through the fitted gradient-boosted
    ensemble: the unrolled fit CTEs, then the raw score
    f = Σ_t η·w_leaf per pair, ranked by (score DESC, id ASC).
    ``pairs_sql`` must also expose ``id_cols``."""
    ctes, _ = gboost_ctes(pairs_sql, features, rounds, grid)
    ida, idb = id_cols
    terms = []
    froms = ["pairs"]
    for t in range(1, rounds + 1):
        b = f"b{t}"
        froms.append(f"best{t} {b}")
        feat_case = (
            f"CASE {b}.feature "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END"
        )
        terms.append(
            f"({eta!r} * (CASE WHEN {feat_case} <= {b}.thr"
            f" THEN {b}.w_le ELSE {b}.w_gt END))"
        )
    score = " + ".join(terms)
    return (
        ctes
        + f"""
    SELECT {ida}, {idb}, score,
           CASE WHEN score > 0 THEN 1 ELSE 0 END AS pred
    FROM (
      SELECT {ida}, {idb}, {score} AS score
      FROM {", ".join(froms)}
    ) ORDER BY score DESC, {ida} ASC LIMIT {limit}"""
    )


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
    regularized leaf weights −soft(G, α)/(H + λ). Scorer applies
    f(x) = Σ_t η·w_leaf through the two-level split path.

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


def gboost_depth2_ctes(
    pairs_sql: str,
    features: list[str],
    rounds: int = 2,
    grid: int = GRID,
    lam: float = GB_LAMBDA,
    alpha: float = GB_ALPHA,
    gamma: float = GB_GAMMA,
    eta: float = GB_ETA,
) -> tuple[str, str]:
    """The unrolled depth-2 second-order fit as (WITH body, model
    UNION tail) — gboost_ctes' conventions plus adaboost_depth2_ctes'
    pri-2 degenerate-root fallback arm."""
    mn_mx = ", ".join(
        f"MIN({f_}) AS mn_{f_}, MAX({f_}) AS mx_{f_}" for f_ in features
    )
    cand_arms = []
    for f_ in features:
        for k in range(1, grid):
            thr = f"(mn_{f_} + {k} * (mx_{f_} - mn_{f_}) / {float(grid)!r})"
            cand_arms.append(
                f"SELECT '{f_}' AS feature, {thr} AS thr FROM stats"
            )
    feat_case = (
        "CASE feature "
        + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
        + " END"
    )
    gain_sql = _gb_gain_expr(lam, gamma)
    sig = "1.0 / (1.0 + exp(-f))"

    def leaf(G: str, H: str) -> str:
        soft = (
            f"CASE WHEN {G} > {alpha!r} THEN {G} - {alpha!r}"
            f" WHEN {G} < -{alpha!r} THEN {G} + {alpha!r} ELSE 0.0 END"
        )
        # + 0.0: normalize a -0.0 empty-region leaf (see _gb_leaf)
        return f"(round(-({soft}) / ({H} + {lam!r}), 9) + 0.0)"

    def rsum(cond: str, term: str, name: str) -> str:
        return (
            f"CAST(SUM(CAST(CASE WHEN {cond} THEN {term} ELSE 0.0 END"
            f" AS DECIMAL(38,18))) AS DOUBLE) AS {name}"
        )

    def sums(le: str) -> str:
        return ", ".join(
            [
                rsum(le, "g", "gl"),
                rsum(le, "h", "hl"),
                rsum(f"NOT ({le})", "g", "gr"),
                rsum(f"NOT ({le})", "h", "hr"),
            ]
        )

    parts = [
        f"WITH pairs AS MATERIALIZED ({pairs_sql})",
        f"stats AS MATERIALIZED (SELECT {mn_mx} FROM pairs)",
        "cands AS MATERIALIZED (" + " UNION ALL ".join(cand_arms) + ")",
        "s0 AS MATERIALIZED (SELECT CAST(label AS DOUBLE) AS y, "
        + ", ".join(features)
        + ", 0.0 AS f FROM pairs)",
    ]
    arms = []
    le = f"{feat_case} <= thr"
    for t in range(1, rounds + 1):
        parts.append(f"""gh{t} AS MATERIALIZED (
      SELECT y, {", ".join(features)},
             {sig} - y AS g, ({sig}) * (1.0 - {sig}) AS h
      FROM s{t - 1}
    )""")
        parts.append(f"""root{t} AS MATERIALIZED (
      SELECT feature AS f0, thr AS t0, round({gain_sql}, 9) AS gain
      FROM (SELECT feature, thr, {sums(le)}
            FROM gh{t}, cands GROUP BY feature, thr)
      ORDER BY {gain_sql} DESC, feature ASC, thr ASC LIMIT 1
    )""")
        root_case = (
            "CASE b.f0 "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END"
        )
        parts.append(f"""evc{t} AS MATERIALIZED (
      SELECT CASE WHEN {root_case} <= b.t0 THEN 1 ELSE 0 END AS side,
             feature, thr, {sums(le)}
      FROM gh{t}, root{t} b, cands
      GROUP BY side, feature, thr
    )""")
        # pri-2 arm = the degenerate-root fallback: trivial child at
        # the root threshold with leaves COMPUTED from all-zero sums
        # (−soft(0)/(0+λ) → the same −0.0 the Spark fit produces) —
        # only wins when the side's evc slice is empty.
        for side, nm in ((1, "bl"), (0, "br")):
            parts.append(f"""{nm}{t} AS MATERIALIZED (
      SELECT feature, thr, w_le, w_gt FROM (
        SELECT 1 AS pri, feature, thr, {gain_sql} AS gc,
               {leaf("gl", "hl")} AS w_le, {leaf("gr", "hr")} AS w_gt
        FROM evc{t} WHERE side = {side}
        UNION ALL
        SELECT 2 AS pri, f0 AS feature, t0 AS thr, 0.0 AS gc,
               {leaf("0.0", "0.0")} AS w_le, {leaf("0.0", "0.0")} AS w_gt
        FROM root{t}
      ) ORDER BY pri ASC, gc DESC, feature ASC, thr ASC LIMIT 1
    )""")
        parts.append(f"""best{t} AS MATERIALIZED (
      SELECT r.f0, r.t0, r.gain,
             l.feature AS fl, l.thr AS tl,
             l.w_le AS w_ll, l.w_gt AS w_lr,
             g.feature AS fr, g.thr AS tr,
             g.w_le AS w_rl, g.w_gt AS w_rr
      FROM root{t} r, bl{t} l, br{t} g
    )""")
        w_case = (
            f"(CASE WHEN (CASE b.f0 "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END) <= b.t0 THEN"
            f" (CASE WHEN (CASE b.fl "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END) <= b.tl THEN b.w_ll ELSE b.w_lr END)"
            f" ELSE (CASE WHEN (CASE b.fr "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END) <= b.tr THEN b.w_rl ELSE b.w_rr END) END)"
        )
        parts.append(f"""s{t} AS MATERIALIZED (
      SELECT y, {", ".join(features)},
             round(f + {eta!r} * {w_case}, 10) AS f
      FROM s{t - 1}, best{t} b
    )""")
        arms.append(
            f"SELECT {t} AS round, f0, t0, gain, fl, tl, w_ll, w_lr,"
            f" fr, tr, w_rl, w_rr FROM best{t}"
        )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def gboost_depth2_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 2,
    grid: int = GRID,
) -> str:
    """DuckDB twin of :func:`gboost_depth2_fit`."""
    ctes, model_union = gboost_depth2_ctes(
        pairs_sql, features, rounds, grid
    )
    return ctes + "\n" + model_union
