"""DuckDB twins of operators/boosting.py: each fit unrolled one
MATERIALIZED CTE level per round (inlining re-expands the recursion
exponentially), and the scoring queries over it.

Every fit opens with the same CTEs (the training rows, per-feature
MIN/MAX and the fixed threshold grid) and reads a feature through one
CASE over its name; the gradient fits also share the region sums, the
regularized leaf and the score update. Those fragments are built once
here; oracles/gboost_deep.py builds its fits from them too.
"""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.boosting import (
    ERR_FLOOR,
    GB_ALPHA,
    GB_ETA,
    GB_GAMMA,
    GB_LAMBDA,
    GRID,
    W_QUANTUM,
    _gb_gain_expr,
)

SIG = "1.0 / (1.0 + exp(-f))"
# per-row (g, h) of each loss at the raw score f, as in boosting._grow
GH = {
    "logistic": (f"{SIG} - y", f"({SIG}) * (1.0 - {SIG})"),
    "poisson": ("exp(f) - y", "exp(f)"),
    "squared": ("f - y", "1.0"),
}
# the quantized AdaBoost alpha of boosting._alpha_factors
_E = f"LEAST(GREATEST(err, {ERR_FLOOR!r}), {1.0 - ERR_FLOOR!r})"
ALPHA = f"round(0.5 * ln((1.0 - {_E}) / {_E}), 9) AS alpha"
D2_SIGNS = ("sll", "slr", "srl", "srr")
D2_WEIGHTS = ("w_ll", "w_lr", "w_rl", "w_rr")


def fcase(features: list[str], src: str = "feature") -> str:
    """The value of the feature whose name is in column ``src``."""
    return (
        f"CASE {src} "
        + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
        + " END"
    )


def head(
    pairs_sql: str,
    features: list[str],
    grid: int,
    cols: str | None = None,
    state: str = "s0 AS MATERIALIZED (SELECT CAST(label AS DOUBLE) AS y, {cols},"
    " 0.0 AS f FROM pairs)",
    pol: bool = False,
    cands: bool = True,
) -> list[str]:
    """The CTEs every fit opens with: the training rows, per-feature
    MIN/MAX, the threshold grid mn + k·(mx − mn)/G for k = 1..G−1
    (each with both polarities when ``pol``; none for the histogram
    fit) and the round-0 row ``state`` over ``cols``."""
    mn_mx = ", ".join(
        f"MIN({f_}) AS mn_{f_}, MAX({f_}) AS mx_{f_}" for f_ in features
    )
    parts = [
        f"WITH pairs AS MATERIALIZED ({pairs_sql})",
        f"stats AS MATERIALIZED (SELECT {mn_mx} FROM pairs)",
    ]
    if cands:
        arms = [
            f"SELECT '{f_}' AS feature,"
            f" (mn_{f_} + {k} * (mx_{f_} - mn_{f_}) / {float(grid)!r}) AS thr{p}"
            " FROM stats"
            for f_ in features
            for k in range(1, grid)
            for p in ((", 1 AS pol", ", -1 AS pol") if pol else ("",))
        ]
        parts.append("cands AS MATERIALIZED (" + " UNION ALL ".join(arms) + ")")
    return parts + [state.format(cols=cols or ", ".join(features))]


def leaf(g: str, h: str, lam: float, alpha: float) -> str:
    """The regularized leaf weight −soft(G, α)/(H + λ) rounded to 9
    digits; + 0.0 normalizes a -0.0 empty-region leaf (see _gb_leaf)."""
    soft = (
        f"CASE WHEN {g} > {alpha!r} THEN {g} - {alpha!r}"
        f" WHEN {g} < -{alpha!r} THEN {g} + {alpha!r} ELSE 0.0 END"
    )
    return f"(round(-({soft}) / ({h} + {lam!r}), 9) + 0.0)"


def region_sums(le: str, sep: str = ", ") -> str:
    """gl, hl, gr, hr: the DECIMAL(38,18) sums of g and h on each side
    of the split ``le``."""

    def rsum(cond: str, term: str, name: str) -> str:
        return (
            f"CAST(SUM(CAST(CASE WHEN {cond} THEN {term} ELSE 0.0 END"
            f" AS DECIMAL(38,18))) AS DOUBLE) AS {name}"
        )

    gt = f"NOT ({le})"
    return sep.join(
        [rsum(le, "g", "gl"), rsum(le, "h", "hl"), rsum(gt, "g", "gr"), rsum(gt, "h", "hr")]
    )


def gh_cte(t: int, cols: str, g: str, h: str, sep: str = "\n             ") -> str:
    """Round t's per-row g and h at the score s{t-1} carries."""
    return f"""gh{t} AS MATERIALIZED (
      SELECT y, {cols},{sep}{g} AS g, {h} AS h
      FROM s{t - 1}
    )"""


def step_cte(t: int, cols: str, eta: float, w: str, froms: str) -> str:
    """Round t's score update f ← round(f + η·w_leaf, 10)."""
    return f"""s{t} AS MATERIALIZED (
      SELECT y, {cols},
             round(f + {eta!r} * {w}, 10) AS f
      FROM s{t - 1}, {froms}
    )"""


def d2_path(b: str, features: list[str], leaves: tuple[str, ...] = D2_SIGNS) -> str:
    """A row's leaf value down best-row ``b``'s depth-2 split path."""

    def side(col: str, thr: str, le: str, gt: str) -> str:
        return (
            f"(CASE WHEN ({fcase(features, f'{b}.{col}')}) <= {b}.{thr}"
            f" THEN {le} ELSE {gt} END)"
        )

    ll, lr, rl, rr = (f"{b}.{x}" for x in leaves)
    return side("f0", "t0", side("fl", "tl", ll, lr), side("fr", "tr", rl, rr))


def gb_score(features: list[str], rounds: int, eta: float = GB_ETA) -> str:
    """Σ_t η·w_leaf of a pair through the depth-1 ensemble's best-row
    CTEs, joined as b1..b{rounds}."""
    return " + ".join(
        f"({eta!r} * (CASE WHEN {fcase(features, f'b{t}.feature')} <= b{t}.thr"
        f" THEN b{t}.w_le ELSE b{t}.w_gt END))"
        for t in range(1, rounds + 1)
    )


def best_froms(rounds: int) -> str:
    """The pairs table joined with each round's best row as b{t}."""
    return ", ".join(["pairs"] + [f"best{t} b{t}" for t in range(1, rounds + 1)])


def _ranked(
    ctes: str, col: str, expr: str, rounds: int, id_cols: tuple[str, str], limit: int
) -> str:
    """The fit CTEs, then every pair's ``expr`` as ``col`` with its
    0/1 prediction, ranked by (col DESC, id ASC)."""
    ida, idb = id_cols
    return (
        ctes
        + f"""
    SELECT {ida}, {idb}, {col},
           CASE WHEN {col} > 0 THEN 1 ELSE 0 END AS pred
    FROM (
      SELECT {ida}, {idb}, {expr} AS {col}
      FROM {best_froms(rounds)}
    ) ORDER BY {col} DESC, {ida} ASC LIMIT {limit}"""
    )


def _model(ctes: tuple[str, str]) -> str:
    """The model table: the fit CTEs, then the per-round UNION."""
    return ctes[0] + "\n" + ctes[1]


def adaboost_ctes(
    pairs_sql: str, features: list[str], rounds: int = 5, grid: int = GRID
) -> tuple[str, str]:
    """The unrolled :func:`adaboost_stumps` fit as (WITH-clause body,
    model-table UNION tail): the weighted-error argmin, quantized alpha
    and weight recursion, one CTE level per round."""
    parts = head(
        pairs_sql, features, grid, pol=True,
        state="w0 AS MATERIALIZED (SELECT 2 * label - 1 AS y, {cols}, 1.0 AS w FROM pairs)",
    )
    x = fcase(features)
    arms = []
    for t in range(1, rounds + 1):
        parts.append(f"""ev{t} AS MATERIALIZED (
      SELECT feature, thr, pol,
             CAST(SUM(CAST(CASE WHEN (CASE WHEN (pol = 1 AND {x} <= thr)
                                          OR (pol = -1 AND {x} > thr)
                                     THEN 1 ELSE -1 END) != y
                            THEN w ELSE 0.0 END AS DECIMAL(38,18))) AS DOUBLE)
             / CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE) AS err
      FROM w{t - 1}, cands GROUP BY feature, thr, pol
    )""")
        parts.append(f"""best{t} AS MATERIALIZED (
      SELECT feature, thr, pol, err,
             {ALPHA}
      FROM ev{t} ORDER BY err ASC, feature ASC, thr ASC, pol ASC LIMIT 1
    )""")
        parts.append(f"""w{t} AS MATERIALIZED (
      SELECT y, {", ".join(features)},
             w * (CASE WHEN (CASE WHEN (b.pol = 1 AND {x} <= b.thr)
                                      OR (b.pol = -1 AND {x} > b.thr)
                                 THEN 1 ELSE -1 END) = y
                       THEN round(exp(-b.alpha), 9)
                       ELSE round(exp(b.alpha), 9) END) AS w
      FROM w{t - 1}, best{t} b
    )""")
        arms.append(
            f"SELECT {t} AS round, feature, thr, pol, err, alpha FROM best{t}"
        )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def adaboost_stumps_sql(pairs_sql: str, features: list[str], **kw) -> str:
    """DuckDB twin of :func:`adaboost_stumps`."""
    return _model(adaboost_ctes(pairs_sql, features, **kw))


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
    terms = []
    for t in range(1, rounds + 1):
        b = f"b{t}"
        x = "CASE " + " ".join(
            f"WHEN {b}.feature = '{f_}' THEN {f_}" for f_ in features
        ) + " END"
        terms.append(
            f"(CASE WHEN ({b}.pol = 1 AND {x} <= {b}.thr)"
            f" OR ({b}.pol = -1 AND {x} > {b}.thr)"
            f" THEN {b}.alpha ELSE -{b}.alpha END)"
        )
    return _ranked(ctes, "margin", " + ".join(terms), rounds, id_cols, limit)


def adaboost_depth2_ctes(
    pairs_sql: str, features: list[str], rounds: int = 3, grid: int = GRID
) -> tuple[str, str]:
    """The unrolled :func:`adaboost_depth2` fit as (WITH-clause body,
    model UNION tail): integer region weights, split objective, leaf
    signs and weight recursion, one CTE level per round."""
    x = fcase(features)
    # the integer weight of each (side, class) region of a candidate
    wsums = ", ".join(
        f"SUM(CASE WHEN {x} {op} thr AND y = {c} THEN w"
        f" ELSE CAST(0 AS DECIMAL(38,0)) END) AS {name}"
        for op, c, name in (
            ("<=", 1, "le_pos"), ("<=", -1, "le_neg"),
            (">", 1, "gt_pos"), (">", -1, "gt_neg"),
        )
    )

    # exact integer objective (see the operator's module header: weights
    # are products of the quantized integer factors, the Q^t denominator
    # cancels). DuckDB's LEAST on ANY decimal args returns DOUBLE, which
    # loses integer exactness at ~1e20 and mis-breaks argmin ties — a
    # CASE comparison keeps DECIMAL. The (37,0) casts bound the
    # addition's result type to (38,0) explicitly on both engines.
    def _dmin(a: str, b: str) -> str:
        return f"CASE WHEN {a} <= {b} THEN {a} ELSE {b} END"

    err_expr = (
        f"(CAST({_dmin('le_pos', 'le_neg')} AS DECIMAL(37,0))"
        f" + CAST({_dmin('gt_pos', 'gt_neg')} AS DECIMAL(37,0)))"
    )
    parts = head(
        pairs_sql, features, grid,
        state="w0 AS MATERIALIZED (SELECT 2 * label - 1 AS y, {cols},"
        " CAST(1 AS DECIMAL(38,0)) AS w FROM pairs)",
    )
    arms = []
    for t in range(1, rounds + 1):
        w_prev = f"w{t - 1}"
        parts.append(f"""root{t} AS MATERIALIZED (
      SELECT feature AS f0, thr AS t0, wtot AS w_tot
      FROM (
        SELECT feature, thr, {wsums},
               SUM(w) AS wtot
        FROM {w_prev}, cands GROUP BY feature, thr
      ) ORDER BY {err_expr} ASC, feature ASC, thr ASC LIMIT 1
    )""")
        parts.append(f"""evc{t} AS MATERIALIZED (
      SELECT CASE WHEN {fcase(features, "b.f0")} <= b.t0 THEN 1 ELSE 0 END AS side,
             feature, thr, {wsums}
      FROM {w_prev}, root{t} b, cands
      GROUP BY 1, feature, thr
    )""")
        # pri-2 arm = the degenerate-root fallback (adaboost_depth2's
        # trivial child): when the root puts every row on one side, the
        # other side's evc slice is empty, and without it best{t} would
        # drop the round's model row. The trivial child (root threshold,
        # +1/+1 signs, zero error) only wins when no pri-1 row exists.
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
             {ALPHA}
      FROM root{t} r, bl{t} l, br{t} g
    )""")
        parts.append(f"""w{t} AS MATERIALIZED (
      SELECT y, {", ".join(features)},
             w * (CASE WHEN {d2_path("b", features)} = y
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


def adaboost_depth2_sql(pairs_sql: str, features: list[str], **kw) -> str:
    """DuckDB twin of :func:`adaboost_depth2`."""
    return _model(adaboost_depth2_ctes(pairs_sql, features, **kw))


def adaboost_depth2_score_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 3,
    grid: int = GRID,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    limit: int = 20,
) -> str:
    """DuckDB twin of scoring through the fitted depth-2 ensemble:
    margin = Σ_t alpha_t·h_t(x) per pair through each round's nested
    split path, ranked by (margin DESC, id ASC). ``pairs_sql`` must
    also expose ``id_cols``."""
    ctes, _ = adaboost_depth2_ctes(pairs_sql, features, rounds, grid)
    margin = " + ".join(
        f"(b{t}.alpha * {d2_path(f'b{t}', features)})" for t in range(1, rounds + 1)
    )
    return _ranked(ctes, "margin", margin, rounds, id_cols, limit)


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
    """The unrolled :func:`gboost_fit` as (WITH-clause body, model UNION
    tail): the g/h terms of ``loss``, DECIMAL region sums, the shared
    gain expression, regularized leaves and quantized score updates."""
    if loss not in GH:
        raise ValueError(f"gboost_ctes: unknown loss {loss!r}")
    gain_sql = _gb_gain_expr(lam, gamma)
    cols = ", ".join(features)
    sums = region_sums(f"{fcase(features)} <= thr", ",\n             ")
    parts = head(pairs_sql, features, grid)
    arms = []
    for t in range(1, rounds + 1):
        parts.append(gh_cte(t, cols, *GH[loss]))
        parts.append(f"""ev{t} AS MATERIALIZED (
      SELECT feature, thr,
             {sums}
      FROM gh{t}, cands GROUP BY feature, thr
    )""")
        parts.append(f"""best{t} AS MATERIALIZED (
      SELECT feature, thr, round({gain_sql}, 9) AS gain,
             {leaf("gl", "hl", lam, alpha)} AS w_le, {leaf("gr", "hr", lam, alpha)} AS w_gt
      FROM ev{t} ORDER BY {gain_sql} DESC, feature ASC, thr ASC LIMIT 1
    )""")
        w = (
            f"(CASE WHEN {fcase(features, 'b.feature')} <= b.thr\n"
            "                                  THEN b.w_le ELSE b.w_gt END)"
        )
        parts.append(step_cte(t, cols, eta, w, f"best{t} b"))
        arms.append(
            f"SELECT {t} AS round, feature, thr, gain, w_le, w_gt"
            f" FROM best{t}"
        )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def gboost_sql(pairs_sql: str, features: list[str], **kw) -> str:
    """DuckDB twin of :func:`gboost_fit`."""
    return _model(gboost_ctes(pairs_sql, features, **kw))


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
    ensemble: the raw score f = Σ_t η·w_leaf per pair, ranked by
    (score DESC, id ASC). ``pairs_sql`` must also expose ``id_cols``."""
    ctes, _ = gboost_ctes(pairs_sql, features, rounds, grid)
    return _ranked(ctes, "score", gb_score(features, rounds, eta), rounds, id_cols, limit)


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
    """The unrolled :func:`gboost_depth2_fit` as (WITH body, model UNION
    tail): gboost_ctes' round plus adaboost_depth2_ctes' pri-2
    degenerate-root fallback arm."""
    gain_sql = _gb_gain_expr(lam, gamma)
    cols = ", ".join(features)
    sums = region_sums(f"{fcase(features)} <= thr")
    parts = head(pairs_sql, features, grid)
    arms = []
    for t in range(1, rounds + 1):
        parts.append(gh_cte(t, cols, *GH["logistic"]))
        parts.append(f"""root{t} AS MATERIALIZED (
      SELECT feature AS f0, thr AS t0, round({gain_sql}, 9) AS gain
      FROM (SELECT feature, thr, {sums}
            FROM gh{t}, cands GROUP BY feature, thr)
      ORDER BY {gain_sql} DESC, feature ASC, thr ASC LIMIT 1
    )""")
        parts.append(f"""evc{t} AS MATERIALIZED (
      SELECT CASE WHEN {fcase(features, "b.f0")} <= b.t0 THEN 1 ELSE 0 END AS side,
             feature, thr, {sums}
      FROM gh{t}, root{t} b, cands
      GROUP BY side, feature, thr
    )""")
        # pri-2 arm = the degenerate-root fallback: trivial child at
        # the root threshold with leaves COMPUTED from all-zero sums
        # (−soft(0)/(0+λ) → the same −0.0 the Spark fit produces) —
        # only wins when the side's evc slice is empty.
        w0 = leaf("0.0", "0.0", lam, alpha)
        for side, nm in ((1, "bl"), (0, "br")):
            parts.append(f"""{nm}{t} AS MATERIALIZED (
      SELECT feature, thr, w_le, w_gt FROM (
        SELECT 1 AS pri, feature, thr, {gain_sql} AS gc,
               {leaf("gl", "hl", lam, alpha)} AS w_le, {leaf("gr", "hr", lam, alpha)} AS w_gt
        FROM evc{t} WHERE side = {side}
        UNION ALL
        SELECT 2 AS pri, f0 AS feature, t0 AS thr, 0.0 AS gc,
               {w0} AS w_le, {w0} AS w_gt
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
        parts.append(step_cte(t, cols, eta, d2_path("b", features, D2_WEIGHTS), f"best{t} b"))
        arms.append(
            f"SELECT {t} AS round, f0, t0, gain, fl, tl, w_ll, w_lr,"
            f" fr, tr, w_rl, w_rr FROM best{t}"
        )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def gboost_depth2_sql(pairs_sql: str, features: list[str], **kw) -> str:
    """DuckDB twin of :func:`gboost_depth2_fit`."""
    return _model(gboost_depth2_ctes(pairs_sql, features, **kw))

