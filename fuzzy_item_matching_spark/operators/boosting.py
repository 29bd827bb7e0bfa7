"""Engine-native boosted stumps (AdaBoost) — the exact-oracle twin of
the reference's boosted-tree classifier shape.

The reference's match model is XGBoost over three squared-distance
features (`03_Train & Deploy Model.py:176-192,283-305`). Its exact
algorithm is not replayable (histogram binning + multi-threaded split
search), but the CAPABILITY — a boosted ensemble of axis-aligned
threshold splits over the distance features — is: AdaBoost with
depth-1 trees (decision stumps) is a sequence of weighted aggregates,
so the whole fit runs as Spark plans and replays in SQL:

- stump candidates: a FIXED grid of thresholds per feature
  (min + k·(max−min)/G, exact double arithmetic) × both polarities;
- per round: weighted error of every candidate in one rows × candidates
  aggregate (DECIMAL-summed, order-insensitive), argmin with a total
  tie-break, α = ½·ln((1−err)/err) rounded to 9 digits, and the TWO
  weight factors e^{∓α} rounded to 9 digits — so the only
  transcendentals are 3 scalars per round, quantized before they can
  compound (the logistic-GD discipline, operators/logreg.py);
- weight update: per-row multiplication by one of the two quantized
  scalars — no per-row transcendental anywhere.

Scale: per round, one pass over the (persisted) training frame with the
candidate grid expanded inline as a literal generator, one
vocabulary-of-candidates aggregate and one 1-row argmin collect (the
BPE-argmax budget, KB-scale). K rounds = K passes.

Rounds keep no state. A row's weight (AdaBoost) or raw score
(gradient boosting) is a pure function of the trees already fitted, so
every fit here carries it as a Column that each round folds one more
tree into and the next pass evaluates inline. Every ``MARGIN_DEPTH``
rounds one localCheckpoint materializes it, which caps the expression
depth; below that no round writes or checkpoints anything.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

GRID = 16  # thresholds per feature: k = 1..GRID-1
ERR_FLOOR = 1e-9  # clamp keeps alpha finite on degenerate rounds
MARGIN_DEPTH = 8  # rounds a carried column folds in per localCheckpoint


def _alpha_factors(err: float) -> tuple[float, float, float]:
    """(alpha, f_correct, f_wrong), each rounded to 9 digits — the
    only transcendental evaluations in the fit, quantized so libm
    last-ulp differences can't compound across rounds."""
    e = min(max(err, ERR_FLOOR), 1.0 - ERR_FLOOR)
    alpha = round(0.5 * math.log((1.0 - e) / e), 9)
    return alpha, round(math.exp(-alpha), 9), round(math.exp(alpha), 9)


def _grid(
    pairs: DataFrame, features: list[str], grid: int
) -> tuple[dict[str, tuple[float, float]], list[tuple[str, float]]]:
    """One min/max pass: per-feature (mn, mx) and the fixed threshold
    grid [(feature, mn + k·(mx−mn)/G) for k = 1..G−1], in feature
    order. A constant feature keeps its G−1 equal thresholds — the SQL
    twins' UNION ALL arms count each one too."""
    stats = pairs.agg(
        *[c for f_ in features for c in (F.min(f_), F.max(f_))]
    ).first()
    ranges = {}
    for i, f_ in enumerate(features):
        if stats[2 * i] is None:
            raise ValueError(
                "boosting fit: empty training frame — no"
                " candidate thresholds can exist"
            )
        ranges[f_] = (float(stats[2 * i]), float(stats[2 * i + 1]))
    cands = []
    for f_ in features:
        mn, mx = ranges[f_]
        cands += [(f_, mn + k * (mx - mn) / float(grid)) for k in range(1, grid)]
    return ranges, cands


def _cands(
    rows: list[tuple], names: tuple[str, ...] = ("feature", "thr")
) -> Column:
    """The candidate grid as a literal generator: selected next to a
    row's columns, it yields one (row, candidate) pair per grid entry —
    a crossJoin with no candidate frame to broadcast."""
    return F.inline(
        F.array(
            *[
                F.struct(*[F.lit(v).alias(n) for v, n in zip(r, names)])
                for r in rows
            ]
        )
    )


def _feat_val(features: list[str]) -> Column:
    """The candidate's feature value: CASE feature WHEN f THEN f …"""
    c = F.when(F.col("feature") == features[0], F.col(features[0]))
    for f_ in features[1:]:
        c = c.when(F.col("feature") == f_, F.col(f_))
    return c


def _walk(
    splits: dict[int, tuple[str, float]], leaves: dict, n: int = 1
) -> Column:
    """Route each row from heap node ``n`` down ``splits`` (node m
    splits on ``feature <= thr``; its children are 2m on the <=-side
    and 2m+1) to the node in ``leaves`` it reaches; return that leaf's
    literal."""
    if n in leaves:
        return F.lit(leaves[n])
    f_, thr = splits[n]
    return F.when(
        F.col(f_) <= F.lit(thr), _walk(splits, leaves, 2 * n)
    ).otherwise(_walk(splits, leaves, 2 * n + 1))


def _settle(
    df: DataFrame, carried: Column, name: str, t: int
) -> tuple[DataFrame, Column]:
    """Before round ``t``: once the carried column has folded in
    ``MARGIN_DEPTH`` more rounds, materialize it as column ``name``
    with one localCheckpoint and carry the plain reference instead."""
    if t == 1 or (t - 1) % MARGIN_DEPTH:
        return df, carried
    nxt = df.withColumn(name, carried).localCheckpoint(eager=True)
    df.unpersist()
    return nxt, F.col(name)


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
    _, grid_rows = _grid(pairs, features, grid)
    cands = _cands(
        [(f_, thr, pol) for f_, thr in grid_rows for pol in (1, -1)],
        ("feature", "thr", "pol"),
    )
    feat_val = _feat_val(features)
    df = pairs.select((2 * F.col(label) - 1).alias("__y"), *features).persist()
    w = F.lit(1.0)

    model: list[tuple[int, str, float, int, float, float]] = []
    for t in range(1, rounds + 1):
        df, w = _settle(df, w, "__w", t)
        joined = (
            df.select("__y", *features, w.alias("__w"))
            .select("*", cands)
            .withColumn("__x", feat_val)
        )
        pred = F.when(
            ((F.col("pol") == 1) & (F.col("__x") <= F.col("thr")))
            | ((F.col("pol") == -1) & (F.col("__x") > F.col("thr"))),
            1,
        ).otherwise(-1)
        wrong = F.when(pred != F.col("__y"), F.col("__w")).otherwise(0.0)
        evals = (
            joined.groupBy("feature", "thr", "pol")
            .agg(
                (
                    F.sum(wrong.cast("decimal(38,18)")).cast("double")
                    / F.sum(F.col("__w").cast("decimal(38,18)")).cast("double")
                ).alias("err")
            )
            .orderBy(F.asc("err"), F.asc("feature"), F.asc("thr"), F.asc("pol"))
            .limit(1)
        )
        [best] = evals.collect()  # 1 row — the BPE-argmax budget
        alpha, f_corr, f_wrong = _alpha_factors(best["err"])
        model.append(
            (t, best["feature"], best["thr"], best["pol"], best["err"], alpha)
        )
        bx = F.col(best["feature"])
        h = F.when(
            (bx <= F.lit(best["thr"]))
            if best["pol"] == 1
            else (bx > F.lit(best["thr"])),
            1,
        ).otherwise(-1)
        w = w * F.when(h == F.col("__y"), F.lit(f_corr)).otherwise(
            F.lit(f_wrong)
        )
    df.unpersist()
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
# Per round: TWO passes over the persisted frame (root eval; both
# children in one side-partitioned eval) and two KB-scale collects; the
# weight is a carried Column like the stump fit's. K rounds = 2K passes.

W_QUANTUM = 1_000_000_000  # Q: weight-factor quantization denominator


def _d2_factors(err: float) -> tuple[float, int, int]:
    """(alpha, k_correct, k_wrong): alpha as in :func:`_alpha_factors`,
    factors as INTEGER numerators over ``W_QUANTUM`` — round(f·Q) of a
    9-digit-quantized f never lands on a half, so Python's round here
    and SQL round() in the oracle pick the same integer."""
    alpha, f_corr, f_wrong = _alpha_factors(err)
    return alpha, round(f_corr * W_QUANTUM), round(f_wrong * W_QUANTUM)


def _d2_region_aggs() -> list[Column]:
    """The four (side × class) integer weight sums for one candidate."""
    le = F.col("__x") <= F.col("thr")
    y = F.col("__y")
    w = F.col("__w")
    zero = F.lit(0).cast("decimal(38,0)")

    def s(cond: Column, name: str) -> Column:
        return F.sum(F.when(cond, w).otherwise(zero)).alias(name)

    return [
        s(le & (y == 1), "le_pos"),
        s(le & (y == -1), "le_neg"),
        s(~le & (y == 1), "gt_pos"),
        s(~le & (y == -1), "gt_neg"),
    ]


def _d2_err() -> Column:
    # exact integer objective — ORDER BY on it is rounding-free.
    # (The SQL twin must avoid LEAST here: DuckDB's LEAST on decimal
    # args returns DOUBLE, which at ~1e20 loses integer exactness and
    # mis-broke a true argmin tie at sf0.001 — see _dmin in
    # adaboost_depth2_ctes. Spark's F.least keeps the decimal type.)
    d37 = "decimal(37,0)"
    return F.least(F.col("le_pos"), F.col("le_neg")).cast(d37) + F.least(
        F.col("gt_pos"), F.col("gt_neg")
    ).cast(d37)


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
    _, grid_rows = _grid(pairs, features, grid)
    cands = _cands(grid_rows)
    feat_val = _feat_val(features)
    df = pairs.select((2 * F.col(label) - 1).alias("__y"), *features).persist()
    w = F.lit(1).cast("decimal(38,0)")

    model_rows = []
    for t in range(1, rounds + 1):
        df, w = _settle(df, w, "__w", t)
        wdf = df.select("__y", *features, w.alias("__w"))
        # pass 1: root argmin + total weight (W rides the same agg)
        root = (
            wdf.select("*", cands)
            .withColumn("__x", feat_val)
            .groupBy("feature", "thr")
            .agg(
                *_d2_region_aggs(),
                F.sum("__w").alias("wtot"),
            )
            .withColumn("err", _d2_err())
            .orderBy(F.asc("err"), F.asc("feature"), F.asc("thr"))
            .limit(1)
        )
        [rt] = root.collect()  # 1 row — the BPE-argmax budget
        f0, t0 = rt["feature"], float(rt["thr"])
        w_tot = int(rt["wtot"])  # exact integer (scale-0 decimal)

        # pass 2: both children in one side-partitioned eval
        side = (F.col(f0) <= F.lit(t0)).cast("int")
        ch = (
            wdf.withColumn("__side", side)
            .select("*", cands)
            .withColumn("__x", feat_val)
            .groupBy("__side", "feature", "thr")
            .agg(*_d2_region_aggs())
            .withColumn("err", _d2_err())
        )
        wnd = Window.partitionBy("__side").orderBy(
            F.asc("err"), F.asc("feature"), F.asc("thr")
        )
        picks = {
            r["__side"]: r
            for r in ch.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") == 1)
            .collect()  # 2 rows
        }

        def leaf(r, pos: str, neg: str) -> int:
            return 1 if r[pos] >= r[neg] else -1

        # Degenerate-root guard: a root split can put EVERY row on one
        # side (e.g. a constant feature, mn == mx, wins the argmin
        # tie-break — all thresholds equal mn, so x <= thr everywhere).
        # The empty side then has no candidate rows; fall back to a
        # TRIVIAL child — the root threshold with +1/+1 leaf signs
        # (the 0 >= 0 majority convention) and zero region error. The
        # SQL twin emits the identical fallback row (pri-2 arm in
        # adaboost_depth2_ctes), so the engines agree instead of the
        # oracle silently dropping the round's model row.
        def _pick(side: int):
            if side in picks:
                return picks[side]
            return {
                "feature": f0,
                "thr": t0,
                "le_pos": 0,
                "le_neg": 0,
                "gt_pos": 0,
                "gt_neg": 0,
                "err": 0,
            }

        lt_, rt_ = _pick(1), _pick(0)
        fl, tl = lt_["feature"], float(lt_["thr"])
        fr, tr = rt_["feature"], float(rt_["thr"])
        sll, slr = leaf(lt_, "le_pos", "le_neg"), leaf(lt_, "gt_pos", "gt_neg")
        srl, srr = leaf(rt_, "le_pos", "le_neg"), leaf(rt_, "gt_pos", "gt_neg")
        # float(int) is one correctly-rounded cast per operand — the
        # exact shape the SQL twin's CAST(dec AS DOUBLE)/CAST(...) has
        err = float(int(lt_["err"]) + int(rt_["err"])) / float(w_tot)
        alpha, k_corr, k_wrong = _d2_factors(err)
        model_rows.append(
            (t, f0, t0, fl, tl, sll, slr, fr, tr, srl, srr, err, alpha)
        )

        h = _walk(
            {1: (f0, t0), 2: (fl, tl), 3: (fr, tr)},
            {4: sll, 5: slr, 6: srl, 7: srr},
        )
        w = w * F.when(h == F.col("__y"), F.lit(k_corr)).otherwise(
            F.lit(k_wrong)
        ).cast("decimal(20,0)")
    df.unpersist()
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
#   digits; score update f ← round(f + η·w_leaf, 9).
#
# Determinism is the logreg-GD discipline, not the depth-2 integer one:
# the per-row sigmoid is inherently transcendental, so instead of
# banning it we quantize every cross-round carrier — leaf weights and
# the updated score round to 9 digits each round, squashing last-ulp
# libm exp() disagreements before they compound. The gain expression is
# built ONCE as a SQL string and evaluated by BOTH engines (F.expr in
# Spark, verbatim in DuckDB), so the float contraction order is
# identical by construction. Identical row partitions yield identical
# decimal region sums within an engine, so grid ties break on the
# lexical key the same way on both sides.
#
# Per round: one pass over the persisted frame (the per-row g/h
# projection, the 45-candidate generator and one aggregate) and one
# 1-row argmax collect (the BPE-argmax budget); the raw score is a
# carried Column. K rounds = K passes — the stump fit's schedule.

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


def _loss_gh(f: Column, loss: str = "logistic") -> tuple[Column, Column]:
    """Per-row (g, h) of ``loss`` at raw score ``f`` against ``__y``."""
    y = F.col("__y")
    if loss == "poisson":
        mu = F.exp(f)
        return mu - y, mu
    if loss == "squared":
        return f - y, F.lit(1.0)
    p = 1.0 / (1.0 + F.exp(-f))
    return p - y, p * (1.0 - p)


def _score_step(f: Column, eta: float, leaf: Column) -> Column:
    """f + η·leaf, rounded at scale 10, NOT 9: η·w (w 9-decimal, η 0.3)
    is an EXACT 10-decimal value, so a 9-scale round hits a .5 tie on
    ~10% of updates — where Spark (rounds the shortest decimal string)
    and DuckDB (rounds the binary value) can disagree. At scale 10 the
    value sits ON the grid and rounding is an identity in both engines
    while still quantizing away exp ulp drift."""
    return F.round(f + F.lit(eta) * leaf, 10)


def _region_sums() -> list[Column]:
    """GL/HL/GR/HR of one candidate: DECIMAL(38,18) sums of the
    per-row ``__g``/``__h`` on each side of ``__x <= thr``.

    SUM(CASE WHEN .. THEN g END) skips the other side's NULLs, halving
    the decimal additions; an empty side's NULL sum coalesces to the
    0.0 a sum of exact zeros would give, so the sums are bit-equal to
    summing g·[side] over every row."""
    le = F.col("__x") <= F.col("thr")
    dec = "decimal(38,18)"

    def s(cond: Column, term: str, name: str) -> Column:
        return F.coalesce(
            F.sum(F.when(cond, F.col(term)).cast(dec)).cast("double"),
            F.lit(0.0),
        ).alias(name)

    return [
        s(le, "__g", "gl"),
        s(le, "__h", "hl"),
        s(~le, "__g", "gr"),
        s(~le, "__h", "hr"),
    ]


GB_SCHEMA = (
    "round int, feature string, thr double, gain double,"
    " w_le double, w_gt double"
)


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
    _, grid_rows = _grid(pairs, features, grid)
    cands = _cands(grid_rows)
    feat_val = _feat_val(features)
    df = pairs.select(F.col(label).cast("double").alias("__y"), *features)
    df = df.persist()
    f = F.lit(0.0)

    gain_sql = _gb_gain_expr(lam, gamma)
    model_rows = []
    for t in range(1, rounds + 1):
        df, f = _settle(df, f, "__f", t)
        g, h = _loss_gh(f, loss)
        # (g, h) are per-ROW values: project them once per row BEFORE
        # the candidate generator, or the sigmoid/exp subtree would be
        # re-evaluated for every candidate.
        ev = (
            df.select(*features, g.alias("__g"), h.alias("__h"))
            .select("*", cands)
            .withColumn("__x", feat_val)
            .groupBy("feature", "thr")
            .agg(*_region_sums())
            .withColumn("gain", F.expr(gain_sql))
            .orderBy(F.desc("gain"), F.asc("feature"), F.asc("thr"))
            .limit(1)
        )
        [best] = ev.collect()  # 1 row — the BPE-argmax budget
        w_le = _gb_leaf(best["gl"], best["hl"], lam, alpha)
        w_gt = _gb_leaf(best["gr"], best["hr"], lam, alpha)
        model_rows.append(
            (
                t,
                best["feature"],
                float(best["thr"]),
                round(best["gain"], 9),
                w_le,
                w_gt,
            )
        )
        split = {1: (best["feature"], float(best["thr"]))}
        f = _score_step(f, eta, _walk(split, {2: w_le, 3: w_gt}))
    df.unpersist()
    return pairs.sparkSession.createDataFrame(model_rows, GB_SCHEMA)


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
    leaves computed from all-zero region sums (= −soft(0)/(0+λ),
    i.e. −0.0 in BOTH engines — no special-cased literal, so the
    float sign matches the SQL twin's computed expression). The SQL
    twin's pri-2 fallback arm emits the identical row."""
    _, grid_rows = _grid(pairs, features, grid)
    cands = _cands(grid_rows)
    feat_val = _feat_val(features)
    df = pairs.select(F.col(label).cast("double").alias("__y"), *features)
    df = df.persist()
    f = F.lit(0.0)

    gain_sql = _gb_gain_expr(lam, gamma)
    model_rows = []
    for t in range(1, rounds + 1):
        df, f = _settle(df, f, "__f", t)
        g, h = _loss_gh(f)
        ghdf = df.select(*features, g.alias("__g"), h.alias("__h"))
        root_ev = (
            ghdf.select("*", cands)
            .withColumn("__x", feat_val)
            .groupBy("feature", "thr")
            .agg(*_region_sums())
            .withColumn("gain", F.expr(gain_sql))
            .orderBy(F.desc("gain"), F.asc("feature"), F.asc("thr"))
            .limit(1)
        )
        [root] = root_ev.collect()  # 1 row — the argmax budget
        f0, t0 = root["feature"], float(root["thr"])
        evc = (
            ghdf.withColumn(
                "__side",
                F.when(F.col(f0) <= F.lit(t0), 1).otherwise(0),
            )
            .select("*", cands)
            .withColumn("__x", feat_val)
            .groupBy("__side", "feature", "thr")
            .agg(*_region_sums())
            .withColumn("gain", F.expr(gain_sql))
        )
        wnd = Window.partitionBy("__side").orderBy(
            F.desc("gain"), F.asc("feature"), F.asc("thr")
        )
        picks = {
            r["__side"]: r
            for r in evc.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") == 1)
            .collect()  # 2 rows
        }

        def _pick(side: int):
            if side in picks:
                return picks[side]
            return {
                "feature": f0,
                "thr": t0,
                "gl": 0.0,
                "hl": 0.0,
                "gr": 0.0,
                "hr": 0.0,
            }

        lt_, rt_ = _pick(1), _pick(0)
        fl, tl = lt_["feature"], float(lt_["thr"])
        fr, tr = rt_["feature"], float(rt_["thr"])
        w_ll = _gb_leaf(lt_["gl"], lt_["hl"], lam, alpha)
        w_lr = _gb_leaf(lt_["gr"], lt_["hr"], lam, alpha)
        w_rl = _gb_leaf(rt_["gl"], rt_["hl"], lam, alpha)
        w_rr = _gb_leaf(rt_["gr"], rt_["hr"], lam, alpha)
        model_rows.append(
            (
                t,
                f0,
                t0,
                round(root["gain"], 9),
                fl,
                tl,
                w_ll,
                w_lr,
                fr,
                tr,
                w_rl,
                w_rr,
            )
        )
        step = _walk(
            {1: (f0, t0), 2: (fl, tl), 3: (fr, tr)},
            {4: w_ll, 5: w_lr, 6: w_rl, 7: w_rr},
        )
        f = _score_step(f, eta, step)
    df.unpersist()
    return pairs.sparkSession.createDataFrame(model_rows, GB2_SCHEMA)


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
