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
    _gb_gain_expr,
    _grow,
    col_subset,
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


def _u_sql(row_key: str, seed_t: int) -> str:
    """The keyed_uniform DuckDB twin (functions/sampling.py:24-38)."""
    return (
        f"(CAST(CAST('0x' || substr(md5('{seed_t}:' ||"
        f" CAST({row_key} AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
        " / 4294967296.0)"
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
    unsplittable/empty nodes); a scorer walks the split path and adds
    η·w_leaf. One Spark job (the collect), at any rounds or depth."""
    if subsample < 1.0 and row_key is None:
        raise ValueError("gboost_deep_fit: subsample < 1 requires row_key")
    return _model(pairs, _grow(
        pairs, features, label, rounds, depth, grid, lam, alpha, gamma,
        eta, subsample=subsample, colsample=colsample,
        colsample_bynode=colsample_bynode,
        min_child_weight=min_child_weight, row_key=row_key, seed=seed,
    ))


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
    """The unrolled depth-d stochastic fit as (WITH body, model UNION
    tail) — gboost_ctes' conventions, one CTE chain per
    (round, level, node), each per-node best a 3-arm priority UNION
    (mcw-surviving split / unsplittable-leaf from node totals / empty
    node)."""
    if subsample < 1.0 and row_key is None:
        raise ValueError("subsample < 1 requires row_key")
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
    gain_sql = _gb_gain_expr(lam, gamma)
    sig = "1.0 / (1.0 + exp(-f))"
    mcw = float(min_child_weight)

    def fcase(qual: str = "") -> str:
        src = f"{qual}feature" if qual else "feature"
        return (
            f"CASE {src} "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END"
        )

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

    cols = ", ".join(features) + (f", {row_key}" if row_key else "")
    parts = [
        f"WITH pairs AS MATERIALIZED ({pairs_sql})",
        f"stats AS MATERIALIZED (SELECT {mn_mx} FROM pairs)",
        "cands AS MATERIALIZED (" + " UNION ALL ".join(cand_arms) + ")",
        f"s0 AS MATERIALIZED (SELECT CAST(label AS DOUBLE) AS y, {cols},"
        " 0.0 AS f FROM pairs)",
    ]
    arms = []
    # candidate columns are qualified: levels ≥ 1 join ancestor b-CTEs
    # that also expose (feature, thr)
    le = f"({fcase('cands.')}) <= cands.thr"
    for t in range(1, rounds + 1):
        if subsample < 1.0:
            ind = (
                f"(CASE WHEN {_u_sql(row_key, seed * 1000 + t)}"
                f" < {subsample!r} THEN 1.0 ELSE 0.0 END)"
            )
            g_expr = f"(({sig}) - y) * {ind}"
            h_expr = f"(({sig}) * (1.0 - {sig})) * {ind}"
        else:
            g_expr = f"{sig} - y"
            h_expr = f"({sig}) * (1.0 - {sig})"
        parts.append(f"""gh{t} AS MATERIALIZED (
      SELECT y, {cols}, {g_expr} AS g, {h_expr} AS h
      FROM s{t - 1}
    )""")

        def node_sql(n: int, lc: int, level: int) -> str:
            if lc == level:
                return str(n)
            b = f"b{t}_{n}"
            cond = f"({fcase(b + '.')}) <= {b}.thr"
            return (
                f"(CASE WHEN {cond} THEN {node_sql(2 * n, lc + 1, level)}"
                f" ELSE {node_sql(2 * n + 1, lc + 1, level)} END)"
            )

        for level in range(depth):
            ancestors = [f"b{t}_{m}" for m in range(1, 2**level)]
            bfrom = ("," + ", ".join(ancestors)) if ancestors else ""
            nexpr = node_sql(1, 0, level)
            parts.append(f"""nt{t}_{level} AS MATERIALIZED (
      SELECT {nexpr} AS node,
             CAST(SUM(CAST(g AS DECIMAL(38,18))) AS DOUBLE) AS gt_,
             CAST(SUM(CAST(h AS DECIMAL(38,18))) AS DOUBLE) AS ht_
      FROM gh{t}{bfrom} GROUP BY node
    )""")
            subset = col_subset(features, t, level, colsample, seed)
            in_list = ", ".join(f"'{f_}'" for f_ in subset)
            parts.append(f"""ev{t}_{level} AS MATERIALIZED (
      SELECT {nexpr} AS node, cands.feature AS feature,
             cands.thr AS thr,
             {rsum(le, "g", "gl")},
             {rsum(le, "h", "hl")},
             {rsum(f"NOT ({le})", "g", "gr")},
             {rsum(f"NOT ({le})", "h", "hr")}
      FROM gh{t}, cands{bfrom}
      WHERE cands.feature IN ({in_list})
      GROUP BY 1, 2, 3
    )""")
            mcw_pred = (
                f" AND hl >= {mcw!r} AND hr >= {mcw!r}" if mcw > 0.0 else ""
            )
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
                    par = f"b{t}_{n // 2}"
                    pf, pt = f"{par}.feature", f"{par}.thr"
                    pj, p3 = f", {par}", par
                parts.append(f"""b{t}_{n} AS MATERIALIZED (
      SELECT feature, thr, gain, w_le, w_gt FROM (
        SELECT 1 AS pri, feature, thr, round({gain_sql}, 9) AS gain,
               {leaf("gl", "hl")} AS w_le, {leaf("gr", "hr")} AS w_gt,
               {gain_sql} AS gc
        FROM ev{t}_{level} WHERE node = {n}{node_pred}{mcw_pred}
        UNION ALL
        SELECT 2 AS pri, {pf} AS feature, {pt} AS thr, 0.0 AS gain,
               {leaf("gt_", "ht_")} AS w_le, {leaf("gt_", "ht_")} AS w_gt,
               0.0 AS gc
        FROM nt{t}_{level}{pj} WHERE node = {n}
        UNION ALL
        SELECT 3 AS pri, {pf} AS feature, {pt} AS thr, 0.0 AS gain,
               {leaf("0.0", "0.0")} AS w_le, {leaf("0.0", "0.0")} AS w_gt,
               0.0 AS gc
        FROM {p3}
      ) ORDER BY pri ASC, gc DESC, feature ASC, thr ASC LIMIT 1
    )""")

        def walk(n: int, lc: int) -> str:
            b = f"b{t}_{n}"
            cond = f"({fcase(b + '.')}) <= {b}.thr"
            if lc == depth - 1:
                return (
                    f"(CASE WHEN {cond} THEN {b}.w_le ELSE {b}.w_gt END)"
                )
            return (
                f"(CASE WHEN {cond} THEN {walk(2 * n, lc + 1)}"
                f" ELSE {walk(2 * n + 1, lc + 1)} END)"
            )

        all_bs = ", ".join(f"b{t}_{m}" for m in range(1, 2**depth))
        parts.append(f"""s{t} AS MATERIALIZED (
      SELECT y, {cols},
             round(f + {eta!r} * {walk(1, 0)}, 10) AS f
      FROM s{t - 1}, {all_bs}
    )""")
        for n in range(1, 2**depth):
            arms.append(
                f"SELECT {t} AS round, {n} AS node, feature, thr, gain,"
                f" w_le, w_gt FROM b{t}_{n}"
            )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def gboost_deep_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 2,
    depth: int = 3,
    grid: int = GRID,
    subsample: float = 1.0,
    colsample: float = 1.0,
    colsample_bynode: float = 1.0,
    min_child_weight: float = 0.0,
    row_key: str | None = None,
    seed: int = 7,
) -> str:
    """DuckDB twin of :func:`gboost_deep_fit`."""
    ctes, model_union = gboost_deep_ctes(
        pairs_sql,
        features,
        rounds,
        depth,
        grid,
        subsample=subsample,
        colsample=colsample,
        colsample_bynode=colsample_bynode,
        min_child_weight=min_child_weight,
        row_key=row_key,
        seed=seed,
    )
    return ctes + "\n" + model_union


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
    """The unrolled histogram fit as (WITH body, model UNION tail) —
    per level: per-feature bucket arms UNION into one histogram
    aggregate, DECIMAL prefix/total window sums, decimal-difference
    right regions, occupied-boundary candidates, the same 3-arm
    per-node fallback as gboost_deep_ctes."""
    mn_mx = ", ".join(
        f"MIN({f_}) AS mn_{f_}, MAX({f_}) AS mx_{f_}" for f_ in features
    )
    gain_sql = _gb_gain_expr(lam, gamma)
    sig = "1.0 / (1.0 + exp(-f))"
    mcw = float(min_child_weight)

    def fcase(qual: str = "") -> str:
        src = f"{qual}feature" if qual else "feature"
        return (
            f"CASE {src} "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END"
        )

    def leaf(G: str, H: str) -> str:
        soft = (
            f"CASE WHEN {G} > {alpha!r} THEN {G} - {alpha!r}"
            f" WHEN {G} < -{alpha!r} THEN {G} + {alpha!r} ELSE 0.0 END"
        )
        return f"(round(-({soft}) / ({H} + {lam!r}), 9) + 0.0)"

    if subsample < 1.0 and row_key is None:
        raise ValueError("subsample < 1 requires row_key")
    cols = ", ".join(features) + (f", {row_key}" if row_key else "")
    parts = [
        f"WITH pairs AS MATERIALIZED ({pairs_sql})",
        f"stats AS MATERIALIZED (SELECT {mn_mx} FROM pairs)",
        f"s0 AS MATERIALIZED (SELECT CAST(label AS DOUBLE) AS y, {cols},"
        " 0.0 AS f FROM pairs)",
    ]
    arms = []
    for t in range(1, rounds + 1):
        if subsample < 1.0:
            ind = (
                f"(CASE WHEN {_u_sql(row_key, seed * 1000 + t)}"
                f" < {subsample!r} THEN 1.0 ELSE 0.0 END)"
            )
            g_expr = f"(({sig}) - y) * {ind}"
            h_expr = f"(({sig}) * (1.0 - {sig})) * {ind}"
        else:
            g_expr = f"{sig} - y"
            h_expr = f"({sig}) * (1.0 - {sig})"
        parts.append(f"""gh{t} AS MATERIALIZED (
      SELECT y, {cols}, {g_expr} AS g, {h_expr} AS h
      FROM s{t - 1}
    )""")

        def node_sql(n: int, lc: int, level: int) -> str:
            if lc == level:
                return str(n)
            b = f"hb{t}_{n}"
            cond = f"({fcase(b + '.')}) <= {b}.thr"
            return (
                f"(CASE WHEN {cond} THEN {node_sql(2 * n, lc + 1, level)}"
                f" ELSE {node_sql(2 * n + 1, lc + 1, level)} END)"
            )

        for level in range(depth):
            ancestors = [f"hb{t}_{m}" for m in range(1, 2**level)]
            bfrom = ("," + ", ".join(ancestors)) if ancestors else ""
            nexpr = node_sql(1, 0, level)
            subset = col_subset(features, t, level, colsample, seed)
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
            parts.append(f"""hx{t}_{level} AS MATERIALIZED (
      SELECT node, feature, bucket,
             SUM(CAST(g AS DECIMAL(38,18))) AS gb,
             SUM(CAST(h AS DECIMAL(38,18))) AS hb
      FROM ({" UNION ALL ".join(bucket_arms)})
      GROUP BY node, feature, bucket
    )""")
            thr_case = (
                "CASE feature "
                + " ".join(
                    f"WHEN '{f_}' THEN mn_{f_} + bucket *"
                    f" ((mx_{f_} - mn_{f_}) / {float(grid)!r})"
                    for f_ in subset
                )
                + " END"
            )
            parts.append(f"""ev{t}_{level} AS MATERIALIZED (
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
    )""")
            parts.append(f"""nt{t}_{level} AS MATERIALIZED (
      SELECT {nexpr} AS node,
             CAST(SUM(CAST(g AS DECIMAL(38,18))) AS DOUBLE) AS gt_,
             CAST(SUM(CAST(h AS DECIMAL(38,18))) AS DOUBLE) AS ht_
      FROM gh{t}{bfrom} GROUP BY node
    )""")
            mcw_pred = (
                f" AND hl >= {mcw!r} AND hr >= {mcw!r}" if mcw > 0.0 else ""
            )
            for n in range(2**level, 2 ** (level + 1)):
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
                    par = f"hb{t}_{n // 2}"
                    pf, pt = f"{par}.feature", f"{par}.thr"
                    pj, p3 = f", {par}", par
                parts.append(f"""hb{t}_{n} AS MATERIALIZED (
      SELECT feature, thr, gain, w_le, w_gt FROM (
        SELECT 1 AS pri, feature, thr, round({gain_sql}, 9) AS gain,
               {leaf("gl", "hl")} AS w_le, {leaf("gr", "hr")} AS w_gt,
               {gain_sql} AS gc
        FROM ev{t}_{level} WHERE node = {n}{node_pred}{mcw_pred}
        UNION ALL
        SELECT 2 AS pri, {pf} AS feature, {pt} AS thr, 0.0 AS gain,
               {leaf("gt_", "ht_")} AS w_le, {leaf("gt_", "ht_")} AS w_gt,
               0.0 AS gc
        FROM nt{t}_{level}{pj} WHERE node = {n}
        UNION ALL
        SELECT 3 AS pri, {pf} AS feature, {pt} AS thr, 0.0 AS gain,
               {leaf("0.0", "0.0")} AS w_le, {leaf("0.0", "0.0")} AS w_gt,
               0.0 AS gc
        FROM {p3}
      ) ORDER BY pri ASC, gc DESC, feature ASC, thr ASC LIMIT 1
    )""")

        def walk(n: int, lc: int) -> str:
            b = f"hb{t}_{n}"
            cond = f"({fcase(b + '.')}) <= {b}.thr"
            if lc == depth - 1:
                return (
                    f"(CASE WHEN {cond} THEN {b}.w_le ELSE {b}.w_gt END)"
                )
            return (
                f"(CASE WHEN {cond} THEN {walk(2 * n, lc + 1)}"
                f" ELSE {walk(2 * n + 1, lc + 1)} END)"
            )

        all_bs = ", ".join(f"hb{t}_{m}" for m in range(1, 2**depth))
        parts.append(f"""s{t} AS MATERIALIZED (
      SELECT y, {cols},
             round(f + {eta!r} * {walk(1, 0)}, 10) AS f
      FROM s{t - 1}, {all_bs}
    )""")
        for n in range(1, 2**depth):
            arms.append(
                f"SELECT {t} AS round, {n} AS node, feature, thr, gain,"
                f" w_le, w_gt FROM hb{t}_{n}"
            )
    return ",\n".join(parts), "\nUNION ALL\n".join(arms)


def gboost_hist_sql(
    pairs_sql: str,
    features: list[str],
    rounds: int = 2,
    depth: int = 3,
    grid: int = GRID,
    subsample: float = 1.0,
    colsample: float = 1.0,
    colsample_bynode: float = 1.0,
    min_child_weight: float = 0.0,
    row_key: str | None = None,
    seed: int = 7,
) -> str:
    """DuckDB twin of :func:`gboost_hist_fit`."""
    ctes, model_union = gboost_hist_ctes(
        pairs_sql,
        features,
        rounds,
        depth,
        grid,
        subsample=subsample,
        colsample=colsample,
        colsample_bynode=colsample_bynode,
        min_child_weight=min_child_weight,
        row_key=row_key,
        seed=seed,
    )
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
    the unrolled fit CTEs, then f = Σ_t η·w_leaf down each round's
    split path per pair, ranked by (score DESC, id ASC).
    ``pairs_sql`` must expose ``id_cols`` (the gboost_score_sql
    convention at tree depth d). Every hyperparameter used in the
    scoring expression is forwarded to the embedded fit so an
    override can never produce a fit/serve mismatch."""
    ctes, _ = gboost_deep_ctes(
        pairs_sql, features, rounds, depth, grid,
        lam=lam, alpha=alpha, gamma=gamma, eta=eta,
    )

    def fcase(qual: str) -> str:
        return (
            f"CASE {qual}feature "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in features)
            + " END"
        )

    terms = []
    froms = ["pairs"]
    for t in range(1, rounds + 1):
        froms.extend(f"b{t}_{m}" for m in range(1, 2**depth))

        def walk(n: int, lc: int) -> str:
            b = f"b{t}_{n}"
            cond = f"({fcase(b + '.')}) <= {b}.thr"
            if lc == depth - 1:
                return f"(CASE WHEN {cond} THEN {b}.w_le ELSE {b}.w_gt END)"
            return (
                f"(CASE WHEN {cond} THEN {walk(2 * n, lc + 1)}"
                f" ELSE {walk(2 * n + 1, lc + 1)} END)"
            )

        terms.append(f"({eta!r} * {walk(1, 0)})")
    score = " + ".join(terms)
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
