"""Generic depth-d second-order gradient boosting with stochastic
row/column subsampling and a min-hessian split floor.

The reference's hyperopt space searches ``max_depth`` 1-30,
``subsample``, ``colsample_bytree/bylevel/bynode``, and
``min_child_weight`` (`03_Train & Deploy Model.py:163-174`); the
hand-unrolled depth-1/2 fits (operators/boosting.py gboost_fit /
gboost_depth2_fit) pin the gain and leaf math, and this module
generalizes the recursion to a parameterized depth plus the three
stochastic dimensions — completing the XGBoost capability shape:

- trees are COMPLETE binary trees of ``depth`` levels, nodes numbered
  heap-style (root 1; children of n are 2n and 2n+1). Per level, ONE
  grouped aggregate evaluates every (node, feature, threshold)
  candidate's second-order regions, and a per-node window argmax
  picks the split — so depth d costs d passes per round, never 2^d;
- ``subsample``: a per-round content-keyed Bernoulli draw
  (functions/sampling.keyed_uniform on ``row_key``, seed varied by
  round) masks each row's g/h contribution to 0 — the selected set is
  identical on any partitioning and replays exactly in DuckDB via the
  documented md5 twin. ALL rows still receive the score update;
- ``colsample`` (by-level): the candidate grid is restricted to a
  seeded md5-ranked feature subset per (round, level) — computed on
  the driver, so both engines receive it as literals;
- ``colsample_bynode``: each heap node additionally draws its own
  md5-ranked subset FROM the by-level survivors (keyed by node id),
  completing the reference's searched colsample_by{tree,level,node}
  triple — the fit prunes disallowed (node, feature) combos before
  the candidate aggregate, the oracle filters each node's argmax arm
  (identical survivors: the filter is on group keys);
- ``min_child_weight``: candidates whose left or right hessian sum
  falls below the floor are excluded from the argmax. A node with no
  surviving candidate becomes a LEAF: both children inherit the
  node's own regularized weight −soft(G, α)/(H + λ) (XGBoost's
  unsplittable-node semantics), routed under the parent's threshold;
  a node with no rows at all contributes weight 0.

Replayability follows gboost_fit's discipline verbatim: DECIMAL(38,18)
region sums, the ONE shared gain SQL string, round-to-9 leaves, and
the round-to-10 score update, carried as a Column as in gboost_fit.
Both fits share one round loop (:func:`_fit_trees`) and differ only in
how a level's candidate regions are summed. The DuckDB twin unrolls
one CTE chain per (round, level, node): per-node best CTEs carry a
3-arm priority UNION (split found / unsplittable leaf from node totals
/ empty node), mirroring the Spark fallbacks bit-for-bit.
"""

from __future__ import annotations

import hashlib
from functools import reduce
from operator import or_
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.operators.boosting import (
    GB_ALPHA,
    GB_ETA,
    GB_GAMMA,
    GB_LAMBDA,
    GRID,
    _cands,
    _feat_val,
    _gb_gain_expr,
    _gb_leaf,
    _grid,
    _loss_gh,
    _region_sums,
    _score_step,
    _settle,
    _walk,
)

GBD_SCHEMA = (
    "round int, node int, feature string, thr double,"
    " gain double, w_le double, w_gt double"
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


def _u_sql(row_key: str, seed_t: int) -> str:
    """The keyed_uniform DuckDB twin (functions/sampling.py:24-38)."""
    return (
        f"(CAST(CAST('0x' || substr(md5('{seed_t}:' ||"
        f" CAST({row_key} AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
        " / 4294967296.0)"
    )


def _fit_trees(
    name: str,
    level_ev: Callable[..., DataFrame],
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
    subsample: float,
    colsample: float,
    colsample_bynode: float,
    min_child_weight: float,
    row_key: str | None,
    seed: int,
) -> DataFrame:
    """The round loop of :func:`gboost_deep_fit` and
    :func:`gboost_hist_fit` (``name``), which pass their own arguments
    through in signature order. ``level_ev(base, subset, ranges,
    grid_rows, grid)`` sums one level's candidate regions
    (__node, feature, thr, gl, hl, gr, hr) over ``subset``'s features
    from ``base``'s per-row (features, __g, __h, __node)."""
    from fuzzy_item_matching_spark.functions.sampling import keyed_uniform

    if subsample < 1.0 and row_key is None:
        raise ValueError(f"{name}: subsample < 1 requires row_key")
    ranges, grid_rows = _grid(pairs, features, grid)
    keep = [F.col(label).cast("double").alias("__y"), *features]
    if row_key is not None:
        keep.append(F.col(row_key).cast("string").alias("__k"))
    df = pairs.select(*keep).persist()
    f = F.lit(0.0)

    gain_sql = _gb_gain_expr(lam, gamma)
    dec = "decimal(38,18)"
    mcw = float(min_child_weight)
    model_rows = []
    for t in range(1, rounds + 1):
        df, f = _settle(df, f, "__f", t)
        g, h = _loss_gh(f)
        if subsample < 1.0:
            ind = (
                F.when(
                    keyed_uniform(F.col("__k"), seed=seed * 1000 + t)
                    < F.lit(subsample),
                    1.0,
                )
                .otherwise(0.0)
            )
            g, h = g * ind, h * ind
        # every level reads g/h (the oracle's gh CTE), so they are
        # materialized once per round rather than re-derived from the
        # carried score and its sigmoid at each of the depth passes.
        ghdf = df.select(
            *features, g.alias("__g"), h.alias("__h")
        ).localCheckpoint(eager=True)

        picks: dict[int, dict] = {}
        for level in range(depth):
            nodes = range(2**level, 2 ** (level + 1))
            splits = {n: (p["feature"], p["thr"]) for n, p in picks.items()}
            node = _walk(splits, {n: n for n in nodes})
            base = ghdf.withColumn("__node", node)
            subset = col_subset(features, t, level, colsample, seed)
            ev = level_ev(base, subset, ranges, grid_rows, grid)
            ev = ev.withColumn("gain", F.expr(gain_sql))
            # colsample_bynode: each heap node draws its own subset
            # FROM the by-level survivors. The (node, feature) filter is
            # on group keys, so Spark pushes it below the aggregate
            # (disallowed combos never aggregate) and it keeps exactly
            # the candidates the oracle's per-node IN-list keeps.
            node_subsets: dict[int, list[str]] | None = None
            if colsample_bynode < 1.0:
                node_subsets = {
                    n: col_subset(
                        subset, t, level, colsample_bynode, seed, node=n
                    )
                    for n in nodes
                }
                allow = [
                    (F.col("__node") == n) & F.col("feature").isin(sub)
                    for n, sub in node_subsets.items()
                ]
                ev = ev.filter(reduce(or_, allow))
            if mcw > 0.0:
                ev = ev.filter(
                    (F.col("hl") >= F.lit(mcw)) & (F.col("hr") >= F.lit(mcw))
                )
            wnd = Window.partitionBy("__node").orderBy(
                F.desc("gain"), F.asc("feature"), F.asc("thr")
            )
            best = {
                r["__node"]: r
                for r in ev.withColumn("rn", F.row_number().over(wnd))
                .filter(F.col("rn") == 1)
                .collect()  # ≤ 2^level rows
            }
            # Node totals feed ONLY the unsplittable-node fallback, so
            # the extra full-data aggregate runs lazily — levels where
            # every node found a surviving split (the common case) cost
            # one candidate aggregate, not two. The oracle's nt CTEs
            # always exist but are likewise only read by fallback arms.
            tot: dict[int, dict] = {}
            if any(n not in best for n in nodes):
                tot = {
                    r["__node"]: r
                    for r in base.groupBy("__node")
                    .agg(
                        F.sum(F.col("__g").cast(dec)).cast("double")
                        .alias("gt_"),
                        F.sum(F.col("__h").cast(dec)).cast("double")
                        .alias("ht_"),
                    )
                    .collect()  # ≤ 2^level rows
                }
            for n in nodes:
                if n in best:
                    b = best[n]
                    picks[n] = {
                        "feature": b["feature"],
                        "thr": float(b["thr"]),
                        "gain": round(b["gain"], 9),
                        "w_le": _gb_leaf(b["gl"], b["hl"], lam, alpha),
                        "w_gt": _gb_leaf(b["gr"], b["hr"], lam, alpha),
                    }
                    continue
                if level == 0:
                    sub0 = node_subsets[n] if node_subsets else subset
                    pf, pt = sub0[0], ranges[sub0[0]][0]
                else:
                    pf, pt = picks[n // 2]["feature"], picks[n // 2]["thr"]
                if n in tot:
                    w = _gb_leaf(tot[n]["gt_"], tot[n]["ht_"], lam, alpha)
                else:
                    w = _gb_leaf(0.0, 0.0, lam, alpha)
                picks[n] = {
                    "feature": pf,
                    "thr": pt,
                    "gain": 0.0,
                    "w_le": w,
                    "w_gt": w,
                }

        for n in sorted(picks):
            pk = picks[n]
            model_rows.append(
                (t, n, pk["feature"], pk["thr"], pk["gain"], pk["w_le"], pk["w_gt"])
            )
        splits = {n: (p["feature"], p["thr"]) for n, p in picks.items()}
        leaves = {
            m: picks[m // 2]["w_gt" if m % 2 else "w_le"]
            for m in range(2**depth, 2 ** (depth + 1))
        }
        f = _score_step(f, eta, _walk(splits, leaves))
    df.unpersist()
    return pairs.sparkSession.createDataFrame(model_rows, GBD_SCHEMA)


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
    η·w_leaf. Plan per round: one g/h checkpoint, then depth × (one
    candidate-grid aggregate + a ≤2^level-row collect, plus a
    node-totals aggregate only on levels with an unsplittable node) —
    the argmax collect budget grows with the TREE, never the data."""
    return _fit_trees(
        "gboost_deep_fit", _exact_level, pairs, features, label, rounds,
        depth, grid, lam, alpha, gamma, eta, subsample, colsample,
        colsample_bynode, min_child_weight, row_key, seed,
    )


def _exact_level(
    base: DataFrame,
    subset: list[str],
    ranges: dict[str, tuple[float, float]],
    grid_rows: list[tuple[str, float]],
    grid: int,
) -> DataFrame:
    """gboost_deep_fit's level: every (row, candidate) pair of the
    subset's grid, region sums per (node, feature, thr)."""
    return (
        base.select("*", _cands([c for c in grid_rows if c[0] in subset]))
        .withColumn("__x", _feat_val(subset))
        .groupBy("__node", "feature", "thr")
        .agg(*_region_sums())
    )


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
# Histogram split finding — tree_method='hist', the 100 TB scale path
# ---------------------------------------------------------------------------


def _bucket_expr_spark(x, mn: float, step: float, grid: int):
    """Bucket id 1..grid: the smallest threshold index covering x
    (ceil((x−mn)/step), clamped). Rows in bucket `grid` lie above the
    last threshold. The identical expression tree evaluates in SQL, so
    bucket boundaries agree bit-for-bit across engines even where
    ceil((x−mn)/step) and a direct x <= thr_k comparison would differ
    by one ulp. A constant feature (step 0) maps everything to bucket
    1 — the SQL twin branches on mx = mn at runtime, this branch on
    the same collected stats."""
    if step == 0.0:
        return F.lit(1).cast("int")
    c = F.ceil((x - F.lit(mn)) / F.lit(step))
    return F.greatest(F.lit(1), F.least(F.lit(grid), c)).cast("int")


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
    (`03_Train & Deploy Model.py:172`) and the booster's true 100 TB
    shape: instead of a rows × features × grid candidate expansion
    (exact comparisons, O(n·f·G) DECIMAL terms per level), each row
    lands in ONE bucket per feature (ceil on the fixed grid), the
    per-(node, feature, bucket) g/h histogram aggregates in one
    O(n·f) pass, and split sums come from DECIMAL prefix sums over
    the ≤G-bucket histogram — exact and order-insensitive, so the
    whole fit still replays bit-for-bit in SQL. Candidate thresholds
    are the OCCUPIED bucket boundaries (XGBoost-hist semantics; an
    empty bin is never a distinct split). Right-region sums are
    decimal differences (total − prefix) — exact, no second pass.
    Same model contract as gboost_deep_fit (round, node, feature,
    thr, gain, w_le, w_gt); unsplittable/empty nodes fall back
    identically."""
    return _fit_trees(
        "gboost_hist_fit", _hist_level, pairs, features, label, rounds,
        depth, grid, lam, alpha, gamma, eta, subsample, colsample,
        colsample_bynode, min_child_weight, row_key, seed,
    )


def _hist_level(
    base: DataFrame,
    subset: list[str],
    ranges: dict[str, tuple[float, float]],
    grid_rows: list[tuple[str, float]],
    grid: int,
) -> DataFrame:
    """gboost_hist_fit's level: per-(node, feature, bucket) g/h
    histograms, DECIMAL prefix sums, occupied-boundary thresholds."""
    step = {f_: (mx - mn) / float(grid) for f_, (mn, mx) in ranges.items()}
    dec = "decimal(38,18)"
    fb = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(f_).alias("feature"),
                    _bucket_expr_spark(
                        F.col(f_), ranges[f_][0], step[f_], grid
                    ).alias("bucket"),
                )
                for f_ in subset
            ]
        )
    )
    hist = (
        base.select("__node", "__g", "__h", fb)
        .groupBy("__node", "feature", "bucket")
        .agg(
            F.sum(F.col("__g").cast(dec)).alias("gb"),
            F.sum(F.col("__h").cast(dec)).alias("hb"),
        )
    )
    wpre = (
        Window.partitionBy("__node", "feature")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # same partition AND order as wpre so both frames share one
    # sort (decimal sums are order-insensitive either way)
    wall = (
        Window.partitionBy("__node", "feature")
        .orderBy("bucket")
        .rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    cum = hist.select(
        "__node",
        "feature",
        "bucket",
        F.sum("gb").over(wpre).alias("glp"),
        F.sum("hb").over(wpre).alias("hlp"),
        F.sum("gb").over(wall).alias("gtp"),
        F.sum("hb").over(wall).alias("htp"),
    )
    thr_col = None
    for f_ in subset:
        cond = F.col("feature") == f_
        val = F.lit(ranges[f_][0]) + F.col("bucket") * F.lit(step[f_])
        thr_col = (
            F.when(cond, val)
            if thr_col is None
            else thr_col.when(cond, val)
        )
    return cum.filter(F.col("bucket") <= grid - 1).select(
        "__node",
        "feature",
        "bucket",
        F.col("glp").cast("double").alias("gl"),
        F.col("hlp").cast("double").alias("hl"),
        (F.col("gtp") - F.col("glp")).cast("double").alias("gr"),
        (F.col("htp") - F.col("hlp")).cast("double").alias("hr"),
        thr_col.alias("thr"),
    )


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
