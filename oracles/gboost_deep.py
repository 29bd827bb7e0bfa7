"""DuckDB twins of operators/gboost_deep.py: the depth-d exact and
histogram fits unrolled one CTE chain per (round, level, node).

Both fits share one chain (:func:`_deep_ctes`) and differ only in a
level's candidate CTEs, as the operator's two fits differ only in how a
level's regions are summed. Each per-node best CTE is a 3-arm priority
UNION (split found / unsplittable leaf from node totals / empty node),
mirroring the fit's fallbacks bit for bit.
"""

from __future__ import annotations

from collections.abc import Callable

from fuzzy_item_matching_spark.operators.boosting import (
    GB_ALPHA,
    GB_ETA,
    GB_GAMMA,
    GB_LAMBDA,
    GRID,
    _gb_gain_expr,
    col_subset,
)
from oracles.boosting import GH, SIG, fcase, gh_cte, head, leaf, region_sums, step_cte


def keyed_uniform_sql(row_key: str, seed: int | str) -> str:
    """The DuckDB twin of functions/sampling.keyed_uniform: the first 8
    hex digits of md5('{seed}:{key}') over 2^32."""
    return (
        f"(CAST(CAST('0x' || substr(md5('{seed}:' ||"
        f" CAST({row_key} AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
        " / 4294967296.0)"
    )


def _le(features: list[str], b: str) -> str:
    """Whether a row goes left at split CTE ``b``."""
    return f"({fcase(features, f'{b}.feature')}) <= {b}.thr"


def _walk(
    features: list[str], pre: str, t: int, stop: int, at_stop: Callable,
    n: int = 1, lc: int = 0,
) -> str:
    """Nested CASE down round t's split CTEs ``{pre}{t}_{n}`` from node
    n at level lc; at level ``stop`` it yields ``at_stop(b, n)``."""
    b = f"{pre}{t}_{n}"
    if lc == stop:
        return at_stop(b, n)
    down = [_walk(features, pre, t, stop, at_stop, m, lc + 1) for m in (2 * n, 2 * n + 1)]
    return f"(CASE WHEN {_le(features, b)} THEN {down[0]} ELSE {down[1]} END)"


def _leaf_of(features: list[str]) -> Callable:
    """The leaf weight a row takes at a last-level split CTE."""
    return lambda b, _n: f"(CASE WHEN {_le(features, b)} THEN {b}.w_le ELSE {b}.w_gt END)"


def _deep_ctes(
    pre: str,
    level_ctes: Callable[..., list[str]],
    pairs_sql: str,
    features: list[str],
    rounds: int,
    depth: int,
    grid: int,
    lam: float,
    alpha: float,
    gamma: float,
    eta: float,
    subsample: float,
    colsample: float,
    colsample_bynode: float,
    min_child_weight: float,
    row_key: str | None,
    seed: int,
) -> tuple[str, str]:
    """The unrolled depth-d fit as (WITH body, model UNION tail), split
    CTEs named ``{pre}{t}_{node}``. ``level_ctes(t, level, nexpr,
    bfrom, subset)`` returns a level's candidate CTEs, which end in
    ev{t}_{level} (node, feature, thr, gl, hl, gr, hr) and
    nt{t}_{level} (node, gt_, ht_)."""
    if subsample < 1.0 and row_key is None:
        raise ValueError("subsample < 1 requires row_key")
    gain_sql = _gb_gain_expr(lam, gamma)
    mcw = float(min_child_weight)
    mcw_pred = f" AND hl >= {mcw!r} AND hr >= {mcw!r}" if mcw > 0.0 else ""
    cols = ", ".join(features) + (f", {row_key}" if row_key else "")
    parts = head(pairs_sql, features, grid, cols=cols, cands=pre == "b")
    arms = []
    for t in range(1, rounds + 1):
        g, h = GH["logistic"]
        if subsample < 1.0:
            ind = (
                f"(CASE WHEN {keyed_uniform_sql(row_key, seed * 1000 + t)}"
                f" < {subsample!r} THEN 1.0 ELSE 0.0 END)"
            )
            g, h = f"(({SIG}) - y) * {ind}", f"({h}) * {ind}"
        parts.append(gh_cte(t, cols, g, h, sep=" "))
        for level in range(depth):
            ancestors = [f"{pre}{t}_{m}" for m in range(1, 2**level)]
            bfrom = ("," + ", ".join(ancestors)) if ancestors else ""
            nexpr = _walk(features, pre, t, level, lambda b, n: str(n))
            subset = col_subset(features, t, level, colsample, seed)
            parts += level_ctes(t, level, nexpr, bfrom, subset)
            for n in range(2**level, 2 ** (level + 1)):
                # colsample_bynode: the node's own seeded draw FROM the
                # by-level survivors restricts its argmax arm — a
                # group-key filter, so post-agg here ≡ the fit's
                # pre-agg (node, feature) prune.
                node_pred = ""
                sub_n = subset
                if colsample_bynode < 1.0:
                    sub_n = col_subset(
                        subset, t, level, colsample_bynode, seed, node=n
                    )
                    node_in = ", ".join(f"'{f_}'" for f_ in sub_n)
                    node_pred = f" AND feature IN ({node_in})"
                if level == 0:
                    pf, pt = f"'{sub_n[0]}'", f"mn_{sub_n[0]}"
                    pj, p3 = ", stats", "stats"
                else:
                    par = f"{pre}{t}_{n // 2}"
                    pf, pt = f"{par}.feature", f"{par}.thr"
                    pj, p3 = f", {par}", par
                w_node, w_empty = leaf("gt_", "ht_", lam, alpha), leaf("0.0", "0.0", lam, alpha)
                parts.append(f"""{pre}{t}_{n} AS MATERIALIZED (
      SELECT feature, thr, gain, w_le, w_gt FROM (
        SELECT 1 AS pri, feature, thr, round({gain_sql}, 9) AS gain,
               {leaf("gl", "hl", lam, alpha)} AS w_le, {leaf("gr", "hr", lam, alpha)} AS w_gt,
               {gain_sql} AS gc
        FROM ev{t}_{level} WHERE node = {n}{node_pred}{mcw_pred}
        UNION ALL
        SELECT 2 AS pri, {pf} AS feature, {pt} AS thr, 0.0 AS gain,
               {w_node} AS w_le, {w_node} AS w_gt,
               0.0 AS gc
        FROM nt{t}_{level}{pj} WHERE node = {n}
        UNION ALL
        SELECT 3 AS pri, {pf} AS feature, {pt} AS thr, 0.0 AS gain,
               {w_empty} AS w_le, {w_empty} AS w_gt,
               0.0 AS gc
        FROM {p3}
      ) ORDER BY pri ASC, gc DESC, feature ASC, thr ASC LIMIT 1
    )""")
        w = _walk(features, pre, t, depth - 1, _leaf_of(features))
        all_bs = ", ".join(f"{pre}{t}_{m}" for m in range(1, 2**depth))
        parts.append(step_cte(t, cols, eta, w, all_bs))
        for n in range(1, 2**depth):
            arms.append(
                f"SELECT {t} AS round, {n} AS node, feature, thr, gain,"
                f" w_le, w_gt FROM {pre}{t}_{n}"
            )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def _node_totals(t: int, level: int, nexpr: str, bfrom: str) -> str:
    return f"""nt{t}_{level} AS MATERIALIZED (
      SELECT {nexpr} AS node,
             CAST(SUM(CAST(g AS DECIMAL(38,18))) AS DOUBLE) AS gt_,
             CAST(SUM(CAST(h AS DECIMAL(38,18))) AS DOUBLE) AS ht_
      FROM gh{t}{bfrom} GROUP BY node
    )"""


def gboost_deep_ctes(
    pairs_sql: str,
    features: list[str],
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
) -> tuple[str, str]:
    """The unrolled :func:`gboost_deep_fit`: per level, the exact
    region sums of every (node, candidate) over the threshold grid."""
    # candidate columns are qualified: levels ≥ 1 join ancestor b-CTEs
    # that also expose (feature, thr)
    le = f"({fcase(features, 'cands.feature')}) <= cands.thr"
    sums = region_sums(le, ",\n             ")

    def level_ctes(t, level, nexpr, bfrom, subset):
        in_list = ", ".join(f"'{f_}'" for f_ in subset)
        return [_node_totals(t, level, nexpr, bfrom), f"""ev{t}_{level} AS MATERIALIZED (
      SELECT {nexpr} AS node, cands.feature AS feature,
             cands.thr AS thr,
             {sums}
      FROM gh{t}, cands{bfrom}
      WHERE cands.feature IN ({in_list})
      GROUP BY 1, 2, 3
    )"""]

    return _deep_ctes(
        "b", level_ctes, pairs_sql, features, rounds, depth, grid, lam, alpha,
        gamma, eta, subsample, colsample, colsample_bynode, min_child_weight,
        row_key, seed,
    )


def gboost_deep_sql(pairs_sql: str, features: list[str], **kw) -> str:
    """DuckDB twin of :func:`gboost_deep_fit`."""
    ctes, model_union = gboost_deep_ctes(pairs_sql, features, **kw)
    return ctes + "\n" + model_union


def gboost_hist_ctes(
    pairs_sql: str,
    features: list[str],
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
) -> tuple[str, str]:
    """The unrolled :func:`gboost_hist_fit`: per level, per-feature
    bucket arms UNION into one histogram aggregate, DECIMAL prefix and
    total window sums, decimal-difference right regions and
    occupied-boundary candidates."""

    def level_ctes(t, level, nexpr, bfrom, subset):
        bucket_arms = []
        for f_ in subset:
            bexpr = (
                f"CASE WHEN mx_{f_} = mn_{f_} THEN 1 ELSE"
                f" CAST(GREATEST(1, LEAST({grid}, CEIL(({f_} - mn_{f_})"
                f" / ((mx_{f_} - mn_{f_}) / {float(grid)!r})))) AS INT)"
                " END"
            )
            bucket_arms.append(
                f"SELECT {nexpr} AS node, '{f_}' AS feature,"
                f" {bexpr} AS bucket, g, h"
                f" FROM gh{t}, stats{bfrom}"
            )
        thr_case = (
            "CASE feature "
            + " ".join(
                f"WHEN '{f_}' THEN mn_{f_} + bucket *"
                f" ((mx_{f_} - mn_{f_}) / {float(grid)!r})"
                for f_ in subset
            )
            + " END"
        )
        return [f"""hx{t}_{level} AS MATERIALIZED (
      SELECT node, feature, bucket,
             SUM(CAST(g AS DECIMAL(38,18))) AS gb,
             SUM(CAST(h AS DECIMAL(38,18))) AS hb
      FROM ({" UNION ALL ".join(bucket_arms)})
      GROUP BY node, feature, bucket
    )""", f"""ev{t}_{level} AS MATERIALIZED (
      SELECT node, feature, bucket, {thr_case} AS thr,
             CAST(glp AS DOUBLE) AS gl, CAST(hlp AS DOUBLE) AS hl,
             CAST(gtp - glp AS DOUBLE) AS gr,
             CAST(htp - hlp AS DOUBLE) AS hr
      FROM (
        SELECT node, feature, bucket,
               SUM(gb) OVER (PARTITION BY node, feature ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS glp,
               SUM(hb) OVER (PARTITION BY node, feature ORDER BY bucket
                             ROWS UNBOUNDED PRECEDING) AS hlp,
               SUM(gb) OVER (PARTITION BY node, feature) AS gtp,
               SUM(hb) OVER (PARTITION BY node, feature) AS htp
        FROM hx{t}_{level}
      ), stats WHERE bucket <= {grid - 1}
    )""", _node_totals(t, level, nexpr, bfrom)]

    return _deep_ctes(
        "hb", level_ctes, pairs_sql, features, rounds, depth, grid, lam, alpha,
        gamma, eta, subsample, colsample, colsample_bynode, min_child_weight,
        row_key, seed,
    )


def gboost_hist_sql(pairs_sql: str, features: list[str], **kw) -> str:
    """DuckDB twin of :func:`gboost_hist_fit`."""
    ctes, model_union = gboost_hist_ctes(pairs_sql, features, **kw)
    return ctes + "\n" + model_union


def gboost_deep_score_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 2,
    depth: int = 3,
    grid: int = GRID,
    eta: float = GB_ETA,
    lam: float = GB_LAMBDA,
    alpha: float = GB_ALPHA,
    gamma: float = GB_GAMMA,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
    limit: int = 20,
) -> str:
    """DuckDB twin of scoring through the fitted depth-d ensemble:
    f = Σ_t η·w_leaf down each round's split path per pair, ranked by
    (score DESC, id ASC). ``pairs_sql`` must expose ``id_cols``. Every
    hyperparameter of the scoring expression is forwarded to the
    embedded fit, so an override can never produce a fit/serve
    mismatch."""
    ctes, _ = gboost_deep_ctes(
        pairs_sql, features, rounds, depth, grid,
        lam=lam, alpha=alpha, gamma=gamma, eta=eta,
    )
    froms = ["pairs"] + [
        f"b{t}_{m}" for t in range(1, rounds + 1) for m in range(1, 2**depth)
    ]
    score = " + ".join(
        f"({eta!r} * {_walk(features, 'b', t, depth - 1, _leaf_of(features))})"
        for t in range(1, rounds + 1)
    )
    ida, idb = id_cols
    return (
        ctes
        + f""",
    scored AS (
      SELECT {ida}, {idb}, {score} AS score
      FROM {", ".join(froms)}
    )
    SELECT {ida}, {idb}, score,
           CASE WHEN score > 0 THEN 1 ELSE 0 END AS pred
    FROM scored ORDER BY score DESC, {ida} ASC LIMIT {limit}"""
    )
