"""Oracles of queries/training.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.boosting import GB_ETA
from fuzzy_item_matching_spark.queries.text import _D_TOKENS
from fuzzy_item_matching_spark.queries.training import (
    _ADA_D2_ROUNDS,
    _ADA_ROUNDS,
    _ALS_ITERS,
    _ALS_PANEL,
    _ALS_QUSER_MOD,
    _ALS_REG,
    _ALS_TOPK,
    _AL_BATCH,
    _AUC_NUM_SQL,
    _BRIER_BINS,
    _CT_C_FN,
    _CT_C_FP,
    _FM_ITERS,
    _FM_K,
    _FM_LR,
    _FOLD_MOD,
    _FOLD_PANEL,
    _FOLD_TOPK,
    _GB2_ROUNDS,
    _GBD_DEPTH,
    _GBD_ROUNDS,
    _GBES_Q,
    _GBES_ROUNDS,
    _GBES_SPLIT,
    _GBN,
    _GBS,
    _GBS_ROUNDS,
    _GB_ROUNDS,
    _LIFT_BUCKETS,
    _LN_HI,
    _LR_ITERS,
    _LR_RATE,
    _PERM_SEED,
    _PLATT_ITERS,
    _PLATT_LR,
    _POIS_ROUNDS,
    _PR_STEPS,
    _QD_DIM,
    _QD_ITERS,
    _QD_LR,
    _QR_ITERS,
    _QR_TAU,
    _RF_COMBOS,
    _RF_FRAC,
    _RF_SEED0,
    _RF_TREES,
    _TS_ITERS,
    _TS_LR,
    _qd_docs_sql,
)
from oracles import oracle
from oracles.als import als_rank2_sql
from oracles.boosting import (
    D2_WEIGHTS,
    adaboost_depth2_score_sql,
    adaboost_depth2_sql,
    adaboost_score_sql,
    adaboost_stumps_sql,
    best_froms,
    d2_path,
    fcase,
    gb_score,
    gboost_ctes,
    gboost_depth2_ctes,
    gboost_depth2_sql,
    gboost_score_sql,
    gboost_sql,
)
from oracles.fm import fm_gd_sql
from oracles.gboost_deep import (
    gboost_deep_score_sql,
    gboost_deep_sql,
    gboost_hist_sql,
    keyed_uniform_sql,
)
from oracles.logreg import logistic_gd_sql, quantile_gd_sql, sparse_logistic_gd_sql


# The three squared-distance features of serve_match_score, as the
# training frame for the match classifier — consecutive embedding pairs
# labeled by cluster agreement (the golden-mapping join shape, J2).
_LR_PAIRS_SQL = """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS label,
           list_sum(list_transform(
             list_zip((a.embedding::DOUBLE[])[1:64], (b.embedding::DOUBLE[])[1:64]),
             s -> (s[1]-s[2])*(s[1]-s[2]))) AS x1,
           list_sum(list_transform(
             list_zip((a.embedding::DOUBLE[])[1:32], (b.embedding::DOUBLE[])[1:32]),
             s -> (s[1]-s[2])*(s[1]-s[2]))) AS x2,
           list_sum(list_transform(
             list_zip((a.embedding::DOUBLE[])[33:64], (b.embedding::DOUBLE[])[33:64]),
             s -> (s[1]-s[2])*(s[1]-s[2]))) AS x3
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
"""


def _qd_pairs_sql() -> str:
    feats = ", ".join(f"x{j + 1}" for j in range(_QD_DIM))
    return f"SELECT label, {feats} FROM ({_qd_docs_sql()})"


def _gb_score_cte() -> str:
    """A `sc` CTE (id_a, id_b, y, score) scoring every pair through
    the fitted ensemble — gboost_score_sql's expression, unranked."""
    return (
        "sc AS MATERIALIZED (SELECT id_a, id_b,"
        " CAST(label AS DOUBLE) AS y, "
        + gb_score(["x1", "x2", "x3"], _GB_ROUNDS)
        + " AS score FROM "
        + best_froms(_GB_ROUNDS)
        + ")"
    )


_ALS_RATINGS_SQL = """
    SELECT o_custkey AS u, l_partkey AS i,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS r
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_partkey % 4 = 0
    GROUP BY 1, 2
"""


_POIS_PAIRS_SQL = """
    SELECT CAST(COUNT(o.o_orderkey) AS BIGINT) AS label,
           CAST(c.c_nationkey AS DOUBLE) AS x1,
           c.c_acctbal AS x2
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_nationkey, c.c_acctbal
"""


_QR_PAIRS_SQL = """
    SELECT CAST(o.o_totalprice AS DOUBLE) / 100000.0 AS label,
           CAST(c.c_acctbal AS DOUBLE) / 10000.0 AS x1,
           CAST(c.c_nationkey AS DOUBLE) / 25.0 AS x2
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


@oracle("train_logreg_gd")
def _logreg_oracle() -> str:
    return logistic_gd_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], iters=_LR_ITERS, lr=_LR_RATE
    )


@oracle("train_quality_distill")
def _qd_oracle() -> str:
    return logistic_gd_sql(
        _qd_pairs_sql(),
        [f"x{j + 1}" for j in range(_QD_DIM)],
        iters=_QD_ITERS,
        lr=_QD_LR,
    )


@oracle("serve_canary_compare")
def _qd_canary_oracle() -> str:
    def z_of(w: str) -> str:
        return " + ".join(
            [f"{w}.w0"]
            + [f"{w}.w{j + 1} * d.x{j + 1}" for j in range(_QD_DIM)]
        )

    final = f"""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN (p_new >= 0.5) <> (p_old >= 0.5)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped,
           CAST(SUM(CAST(p_new - p_old AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(*) AS mean_delta
    FROM (SELECT d.source,
                 1.0 / (1.0 + exp(-({z_of("v1")}))) AS p_old,
                 1.0 / (1.0 + exp(-({z_of("v2")}))) AS p_new
          FROM ({_qd_docs_sql()}) AS d, it{_QD_ITERS // 2} AS v1,
               it{_QD_ITERS} AS v2)
    GROUP BY source
    """
    return logistic_gd_sql(
        _qd_pairs_sql(),
        [f"x{j + 1}" for j in range(_QD_DIM)],
        iters=_QD_ITERS,
        lr=_QD_LR,
        final_select=final,
    )


@oracle("train_quality_score")
def _qd_score_oracle() -> str:
    z = " + ".join(
        ["w.w0"] + [f"w.w{j + 1} * d.x{j + 1}" for j in range(_QD_DIM)]
    )
    final = f"""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
             AS mean_prob
    FROM (SELECT d.source, 1.0 / (1.0 + exp(-({z}))) AS p
          FROM ({_qd_docs_sql()}) AS d, it{_QD_ITERS} AS w)
    GROUP BY source
    """
    return logistic_gd_sql(
        _qd_pairs_sql(),
        [f"x{j + 1}" for j in range(_QD_DIM)],
        iters=_QD_ITERS,
        lr=_QD_LR,
        final_select=final,
    )


@oracle("train_sparse_logreg")
def _sparse_lr_oracle() -> str:
    rows_sql = f"SELECT doc_id AS row_id, label FROM ({_qd_docs_sql()})"
    postings_sql = f"""
    SELECT doc_id AS row_id, 0 AS j, 1.0 AS x FROM ({_qd_docs_sql()})
    UNION ALL
    SELECT doc_id AS row_id, CAST(b + 1 AS INT) AS j,
           COUNT(*) / 8.0 AS x
    FROM (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_QD_DIM} AS b
      FROM (
        SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS tok
        FROM documents
      )
    )
    GROUP BY doc_id, b
    """
    return sparse_logistic_gd_sql(
        rows_sql, postings_sql, n_features=_QD_DIM, iters=_QD_ITERS, lr=_QD_LR
    )


@oracle("train_fit_score_model")
def _fit_score_oracle() -> str:
    z = "w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3"
    final = f"""
    SELECT id_a, id_b,
           round(1.0 / (1.0 + exp(-({z}))), 9) AS score,
           CAST(1 AS INT) AS prod_version,
           CAST(3 AS INT) AS n_coefs
    FROM pairs, it{_LR_ITERS} w
    ORDER BY score DESC, id_a ASC
    LIMIT 20
    """
    return logistic_gd_sql(
        _LR_PAIRS_SQL,
        ["x1", "x2", "x3"],
        iters=_LR_ITERS,
        lr=_LR_RATE,
        final_select=final,
    )


@oracle("train_adaboost_stumps")
def _ada_oracle() -> str:
    return adaboost_stumps_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_ADA_ROUNDS
    )


@oracle("train_adaboost_score")
def _ada_score_oracle() -> str:
    return adaboost_score_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_ADA_ROUNDS
    )


@oracle("train_adaboost_depth2")
def _ada_d2_oracle() -> str:
    return adaboost_depth2_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_ADA_D2_ROUNDS
    )


@oracle("train_adaboost_d2_score")
def _ada_d2_score_oracle() -> str:
    return adaboost_depth2_score_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_ADA_D2_ROUNDS
    )


@oracle("train_gboost_fit")
def _gb_oracle() -> str:
    return gboost_sql(_LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_GB_ROUNDS)


@oracle("train_gboost_score")
def _gb_score_oracle() -> str:
    return gboost_score_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_GB_ROUNDS
    )


def _gb_model_ctes() -> tuple[str, str]:
    """(WITH body, model-union tail) of the shared gboost fit."""
    return gboost_ctes(_LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_GB_ROUNDS)


@oracle("train_gboost_importance")
def _gb_importance_oracle() -> str:
    ctes, model_union = _gb_model_ctes()
    dsum = "CAST(SUM(CAST(gain AS DECIMAL(38,18))) AS DOUBLE)"
    return f"""{ctes},
    model AS ({model_union}),
    tot AS (SELECT {dsum} AS tg FROM model)
    SELECT feature,
           CAST(COUNT(*) AS BIGINT) AS n_splits,
           round({dsum}, 9) AS total_gain,
           round({dsum} / tot.tg, 9) AS gain_share
    FROM model, tot GROUP BY feature, tot.tg
    """


@oracle("train_platt_scaling")
def _platt_oracle() -> str:
    ctes, _ = _gb_model_ctes()
    parts = [
        ctes + ",\n    " + _gb_score_cte(),
        "p0 AS (SELECT 1.0 AS a, 0.0 AS b)",
    ]
    arms = []
    dsum = "CAST(SUM(CAST({x} AS DECIMAL(38,18))) AS DOUBLE)"
    for t in range(1, _PLATT_ITERS + 1):
        sig = "1.0 / (1.0 + exp(-(a * score + b)))"
        ga = dsum.format(x=f"(({sig}) - y) * score")
        gb = dsum.format(x=f"({sig}) - y")
        parts.append(f"""p{t} AS (
      SELECT round(a - {_PLATT_LR!r} * ({ga} / COUNT(*)), 9) AS a,
             round(b - {_PLATT_LR!r} * ({gb} / COUNT(*)), 9) AS b
      FROM sc, p{t - 1} GROUP BY a, b
    )""")
        arms.append(f"SELECT {t} AS iter, a, b FROM p{t}")
    return ",\n".join(parts) + "\n" + " UNION ALL ".join(arms)


@oracle("train_pr_curve")
def _pr_curve_oracle() -> str:
    ctes, _ = _gb_model_ctes()
    return f"""{ctes},
    {_gb_score_cte()},
    pr AS (
      SELECT y, round(1.0 / (1.0 + exp(-score)), 9) AS p FROM sc
    ),
    thr AS (SELECT unnest(generate_series(1, {_PR_STEPS})) * 0.05 AS thr)
    SELECT thr,
           CAST(SUM(CASE WHEN p >= thr AND y = 1.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN p >= thr AND y = 0.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN p < thr AND y = 1.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CASE WHEN SUM(CASE WHEN p >= thr THEN 1 ELSE 0 END) = 0
                THEN 1.0
                ELSE CAST(SUM(CASE WHEN p >= thr AND y = 1.0
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / SUM(CASE WHEN p >= thr THEN 1 ELSE 0 END)
           END AS precision,
           CASE WHEN SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) = 0
                THEN 0.0
                ELSE CAST(SUM(CASE WHEN p >= thr AND y = 1.0
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
           END AS recall
    FROM pr, thr GROUP BY thr
    """


@oracle("train_gboost_depth2")
def _gb2_oracle() -> str:
    return gboost_depth2_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_GB2_ROUNDS
    )


@oracle("train_gboost_d2_score")
def _gb2_score_oracle() -> str:
    ctes, _ = gboost_depth2_ctes(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_GB2_ROUNDS
    )
    score = " + ".join(
        f"({GB_ETA!r} * {d2_path(f'b{t}', ['x1', 'x2', 'x3'], D2_WEIGHTS)})"
        for t in range(1, _GB2_ROUNDS + 1)
    )
    return f"""{ctes}
    SELECT id_a, id_b, score,
           CASE WHEN score > 0 THEN 1 ELSE 0 END AS pred
    FROM (SELECT id_a, id_b, {score} AS score
          FROM {best_froms(_GB2_ROUNDS)})
    ORDER BY score DESC, id_a ASC LIMIT 20
    """


@oracle("train_gboost_depth3")
def _gbd_oracle() -> str:
    return gboost_deep_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_GBD_ROUNDS, depth=_GBD_DEPTH
    )


@oracle("train_gboost_stochastic")
def _gbs_oracle() -> str:
    return gboost_deep_sql(
        _LR_PAIRS_SQL,
        ["x1", "x2", "x3"],
        rounds=_GBS_ROUNDS,
        depth=2,
        **_GBS,
    )


@oracle("train_gboost_colsample_node")
def _gbn_oracle() -> str:
    return gboost_deep_sql(
        _LR_PAIRS_SQL,
        ["x1", "x2", "x3"],
        rounds=_GBD_ROUNDS,
        depth=_GBD_DEPTH,
        **_GBN,
    )


@oracle("train_gboost_hist")
def _gbh_oracle() -> str:
    return gboost_hist_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_GBD_ROUNDS, depth=_GBD_DEPTH
    )


@oracle("train_gboost_d3_score")
def _gbd3_score_oracle() -> str:
    return gboost_deep_score_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], rounds=_GBD_ROUNDS, depth=_GBD_DEPTH
    )


@oracle("train_gboost_hist_stochastic")
def _gbhs_oracle() -> str:
    return gboost_hist_sql(
        _LR_PAIRS_SQL,
        ["x1", "x2", "x3"],
        rounds=_GBS_ROUNDS,
        depth=2,
        **_GBS,
    )


@oracle("train_split_finder_bakeoff")
def _bakeoff_oracle() -> str:
    feats = ["x1", "x2", "x3"]
    kw = dict(rounds=_GBD_ROUNDS, depth=_GBD_DEPTH)
    models = {
        "exact_d3": gboost_deep_sql(_LR_PAIRS_SQL, feats, **kw),
        "hist_d3": gboost_hist_sql(_LR_PAIRS_SQL, feats, **kw),
    }
    # pivot each model table into one wide row of per-(round, node)
    # split literals, then walk the tree as nested CASE over them
    nodes = list(range(1, 2**_GBD_DEPTH))
    ctes = [
        f"""pairs0 AS MATERIALIZED ({_LR_PAIRS_SQL})"""
    ]
    arms = []
    for name, stmt in models.items():
        ctes.append(
            f"m_{name} AS MATERIALIZED (SELECT * FROM ({stmt}) t)"
        )
        cols = []
        for t in range(1, _GBD_ROUNDS + 1):
            for n in nodes:
                for c, a in (
                    ("feature", "f"),
                    ("thr", "t"),
                    ("w_le", "w"),
                    ("w_gt", "g"),
                ):
                    cols.append(
                        f"MAX(CASE WHEN round = {t} AND node = {n}"
                        f" THEN {c} END) AS {a}{t}_{n}"
                    )
        ctes.append(
            f"p_{name} AS MATERIALIZED (SELECT {', '.join(cols)}"
            f" FROM m_{name})"
        )

        def walk(t: int, n: int, lc: int) -> str:
            cond = f"({fcase(feats, f'f{t}_{n}')}) <= t{t}_{n}"
            if lc == _GBD_DEPTH - 1:
                return f"(CASE WHEN {cond} THEN w{t}_{n} ELSE g{t}_{n} END)"
            return (
                f"(CASE WHEN {cond} THEN {walk(t, 2 * n, lc + 1)}"
                f" ELSE {walk(t, 2 * n + 1, lc + 1)} END)"
            )

        score = " + ".join(
            f"({GB_ETA!r} * {walk(t, 1, 0)})"
            for t in range(1, _GBD_ROUNDS + 1)
        )
        arms.append(
            f"SELECT '{name}' AS model, label, {score} AS score"
            f" FROM pairs0, p_{name}"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
    sc AS MATERIALIZED ({" UNION ALL ".join(arms)}),
    g AS (
      SELECT model, score, CAST(SUM(label) AS BIGINT) AS pos_g,
             COUNT(*) - CAST(SUM(label) AS BIGINT) AS neg_g
      FROM sc GROUP BY model, score
    ),
    c AS (
      SELECT model, pos_g, neg_g,
             COALESCE(SUM(neg_g) OVER (PARTITION BY model ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS neg_below
      FROM g
    )
    SELECT model,
           CAST(SUM({_AUC_NUM_SQL}) AS DOUBLE)
           / (2.0 * CAST(SUM(pos_g) AS DOUBLE)
              * CAST(SUM(neg_g) AS DOUBLE)) AS auc,
           CAST(SUM(pos_g) AS BIGINT) AS n_pos,
           CAST(SUM(neg_g) AS BIGINT) AS n_neg
    FROM c GROUP BY model ORDER BY model
    """
    )


@oracle("train_permutation_importance")
def _perm_importance_oracle() -> str:
    feats = ["x1", "x2", "x3"]
    ctes, _ = gboost_ctes(_LR_PAIRS_SQL, feats, rounds=_GB_ROUNDS)
    terms = []
    bs = []
    for t in range(1, _GB_ROUNDS + 1):
        b = f"best{t}"
        bs.append(b)
        fc = (
            f"CASE {b}.feature "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in feats)
            + " END"
        )
        terms.append(
            f"({GB_ETA!r} * (CASE WHEN ({fc}) <= {b}.thr"
            f" THEN {b}.w_le ELSE {b}.w_gt END))"
        )
    score = " + ".join(terms)
    arms = ["SELECT 'base' AS variant, label, x1, x2, x3 FROM j"]
    for f_ in feats:
        cols = ", ".join(
            f"d{g[1:]} AS {g}" if g == f_ else g for g in feats
        )
        arms.append(
            f"SELECT 'perm_{f_}' AS variant, label, {cols} FROM j"
        )
    return f"""{ctes},
    ids AS MATERIALIZED (
      SELECT id_a, label, x1, x2, x3,
             ROW_NUMBER() OVER (ORDER BY id_a) AS rn
      FROM pairs
    ),
    shuf AS MATERIALIZED (
      SELECT x1 AS d1, x2 AS d2, x3 AS d3,
             ROW_NUMBER() OVER (
               ORDER BY md5('{_PERM_SEED}:' || CAST(id_a AS VARCHAR)),
                        id_a) AS rn
      FROM pairs
    ),
    j AS MATERIALIZED (
      SELECT i.label, i.x1, i.x2, i.x3, s.d1, s.d2, s.d3
      FROM ids i JOIN shuf s USING (rn)
    ),
    sc AS MATERIALIZED (
      SELECT variant, label, {score} AS score
      FROM ({" UNION ALL ".join(arms)}) arms, {", ".join(bs)}
    ),
    g AS (
      SELECT variant, score, CAST(SUM(label) AS BIGINT) AS pos_g,
             COUNT(*) - CAST(SUM(label) AS BIGINT) AS neg_g
      FROM sc GROUP BY variant, score
    ),
    c AS (
      SELECT variant, pos_g, neg_g,
             COALESCE(SUM(neg_g) OVER (PARTITION BY variant ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS neg_below
      FROM g
    ),
    auc AS (
      SELECT variant,
             CAST(SUM({_AUC_NUM_SQL}) AS DOUBLE)
             / (2.0 * CAST(SUM(pos_g) AS DOUBLE)
                * CAST(SUM(neg_g) AS DOUBLE)) AS auc
      FROM c GROUP BY variant
    )
    SELECT a.variant, round(a.auc, 9) AS auc,
           round(b.auc - a.auc, 9) AS auc_drop
    FROM auc a CROSS JOIN (SELECT auc FROM auc WHERE variant = 'base') b
    ORDER BY a.variant
    """


@oracle("train_gboost_early_stop")
def _gbes_oracle() -> str:
    feats = ["x1", "x2", "x3"]
    u = keyed_uniform_sql("id_a", 42)
    train_sql = (
        f"SELECT * FROM ({_LR_PAIRS_SQL}) WHERE {u} < {_GBES_SPLIT}"
    )
    ctes, _ = gboost_ctes(train_sql, feats, rounds=_GBES_ROUNDS)
    # per-round raw score over the VALIDATION slice
    f_exprs = {0: "0.0"}
    froms = []
    for t in range(1, _GBES_ROUNDS + 1):
        b = f"b{t}"
        froms.append(f"best{t} {b}")
        case = (
            f"({GB_ETA!r} * (CASE WHEN (CASE {b}.feature "
            + " ".join(f"WHEN '{f_}' THEN {f_}" for f_ in feats)
            + f" END) <= {b}.thr THEN {b}.w_le ELSE {b}.w_gt END))"
        )
        f_exprs[t] = f"{f_exprs[t - 1]} + {case}"
    loss_cols = []
    for t in range(0, _GBES_ROUNDS + 1):
        f = f"({f_exprs[t]})"
        lp1 = f"(-ln(1.0 + exp(-{f})))"
        lp0 = f"(-{f} - ln(1.0 + exp(-{f})))"
        term = f"-(y * {lp1} + (1.0 - y) * {lp0})"
        loss_cols.append(
            f"CAST(SUM(CAST(floor(({term}) * {_GBES_Q!r}) AS BIGINT))"
            f" AS DOUBLE) / {_GBES_Q!r} / COUNT(*) AS l{t}"
        )
    arms = []
    best = "CASE " + " ".join(
        f"WHEN {' AND '.join(f'l{t} <= l{t2}' for t2 in range(_GBES_ROUNDS + 1) if t2 > t)} THEN {t}"
        for t in range(_GBES_ROUNDS)
    ) + f" ELSE {_GBES_ROUNDS} END"
    for t in range(0, _GBES_ROUNDS + 1):
        arms.append(
            f"SELECT {t} AS round, round(l{t}, 9) AS val_loss,"
            f" CASE WHEN ({best}) = {t} THEN 1 ELSE 0 END AS is_best"
            " FROM losses"
        )
    return f"""{ctes},
    val AS MATERIALIZED (
      SELECT CAST(label AS DOUBLE) AS y, {", ".join(feats)}
      FROM ({_LR_PAIRS_SQL}) WHERE NOT ({u} < {_GBES_SPLIT})
    ),
    losses AS MATERIALIZED (
      SELECT {", ".join(loss_cols)} FROM val, {", ".join(froms)}
    )
    {" UNION ALL ".join(arms)}
    """


@oracle("train_label_noise")
def _label_noise_oracle() -> str:
    ctes, _ = _gb_model_ctes()
    return f"""{ctes},
    {_gb_score_cte()},
    pr AS (
      SELECT id_a, id_b, y, round(1.0 / (1.0 + exp(-score)), 9) AS p
      FROM sc
    ),
    flagged AS (
      SELECT id_a, id_b, CAST(y AS INT) AS label, p,
             CASE WHEN p >= {_LN_HI!r} AND y = 0.0 THEN 'suspect_neg'
                  WHEN p <= {1.0 - _LN_HI!r} AND y = 1.0
                    THEN 'suspect_pos'
             END AS kind
      FROM pr
    )
    SELECT id_a, id_b, label, p, kind FROM flagged
    WHERE kind IS NOT NULL
    ORDER BY p DESC, id_a ASC LIMIT 50
    """


@oracle("train_als_implicit")
def _als_oracle() -> str:
    return als_rank2_sql(_ALS_RATINGS_SQL, iters=_ALS_ITERS, reg=_ALS_REG)


@oracle("train_gboost_poisson")
def _pois_oracle() -> str:
    return gboost_sql(
        _POIS_PAIRS_SQL, ["x1", "x2"], rounds=_POIS_ROUNDS, loss="poisson"
    )


@oracle("serve_als_topk")
def _als_topk_oracle() -> str:
    it = _ALS_ITERS
    final = f"""
    SELECT u, i, score, rnk FROM (
      SELECT q.u, v.i, round(q.f1 * v.f1 + q.f2 * v.f2, 9) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY q.u
               ORDER BY round(q.f1 * v.f1 + q.f2 * v.f2, 9) DESC, v.i
             ) AS rnk
      FROM (SELECT * FROM u{it} WHERE u % {_ALS_QUSER_MOD} = 0
            ORDER BY u LIMIT {_ALS_PANEL}) q
      CROSS JOIN v{it} v
      WHERE NOT EXISTS (
        SELECT 1 FROM ratings r WHERE r.u = q.u AND r.i = v.i
      )
    ) WHERE rnk <= {_ALS_TOPK}"""
    return als_rank2_sql(
        _ALS_RATINGS_SQL, iters=_ALS_ITERS, reg=_ALS_REG, final_select=final
    )


@oracle("train_quantile_gd")
def _qr_oracle() -> str:
    return quantile_gd_sql(
        _QR_PAIRS_SQL, ["x1", "x2"], tau=_QR_TAU, iters=_QR_ITERS
    )


@oracle("serve_als_foldin")
def _als_foldin_oracle() -> str:
    it = _ALS_ITERS
    r = _ALS_REG
    dsum = "CAST(SUM(CAST({e} AS DECIMAL(38,18))) AS DOUBLE)"
    sums = ", ".join(
        dsum.format(e=e) + f" AS {a}"
        for a, e in [
            ("a11", "f.f1 * f.f1"),
            ("a12", "f.f1 * f.f2"),
            ("a22", "f.f2 * f.f2"),
            ("b1", "f.f1 * r.r"),
            ("b2", "f.f2 * r.r"),
        ]
    )
    det = f"((a11 + {r!r}) * (a22 + {r!r}) - a12 * a12)"
    final = f"""
    , panel AS (SELECT DISTINCT u FROM ratings WHERE u % {_FOLD_MOD} = 1
                ORDER BY u LIMIT {_FOLD_PANEL}),
    foldsums AS (
      SELECT r.u, {sums}
      FROM ratings r
      JOIN v{it} f USING (i)
      JOIN panel p ON p.u = r.u
      GROUP BY r.u
    ),
    foldf AS (
      SELECT u,
             round(((a22 + {r!r}) * b1 - a12 * b2) / {det}, 9) AS f1,
             round(((a11 + {r!r}) * b2 - a12 * b1) / {det}, 9) AS f2
      FROM foldsums
    )
    SELECT u, i, score, rnk FROM (
      SELECT q.u, v.i, round(q.f1 * v.f1 + q.f2 * v.f2, 9) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY q.u
               ORDER BY round(q.f1 * v.f1 + q.f2 * v.f2, 9) DESC, v.i
             ) AS rnk
      FROM foldf q
      CROSS JOIN v{it} v
      WHERE NOT EXISTS (
        SELECT 1 FROM ratings r WHERE r.u = q.u AND r.i = v.i
      )
    ) WHERE rnk <= {_FOLD_TOPK}"""
    return als_rank2_sql(
        _ALS_RATINGS_SQL, iters=_ALS_ITERS, reg=_ALS_REG, final_select=final
    )


def _rf_tree_sql(b: int) -> str:
    """Tree b's fit, replayed as a self-contained derived table (the
    gboost CTE program over tree b's keyed subsample, wrapped so five
    trees can sit in one oracle without CTE-name collisions)."""
    sub_sql = (
        f"SELECT * FROM ({_LR_PAIRS_SQL}) s "
        f"WHERE {keyed_uniform_sql('id_a', _RF_SEED0 + b)} < {_RF_FRAC!r}"
    )
    ctes, _ = gboost_ctes(
        sub_sql,
        list(_RF_COMBOS[b % len(_RF_COMBOS)]),
        rounds=1,
        lam=1.0,
        alpha=0.0,
        gamma=0.0,
        loss="squared",
    )
    return (
        f"({ctes}\nSELECT {b} AS tree, feature, thr, gain, w_le, w_gt"
        " FROM best1)"
    )


@oracle("train_rf_stumps")
def _rf_model_oracle() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT * FROM {_rf_tree_sql(b)} t{b}" for b in range(_RF_TREES)
    )
    return arms


@oracle("train_rf_oob_eval")
def _rf_oob_oracle() -> str:
    u = keyed_uniform_sql("id_a", "' || CAST(100 + tree AS VARCHAR) || '")
    stump = fcase(["x1", "x2", "x3"], "m.feature")
    return f"""
    WITH m AS ({_rf_model_oracle()}),
    p AS (SELECT * FROM ({_LR_PAIRS_SQL}) s),
    pt AS (
      SELECT p.id_a, p.label,
             CASE WHEN {u} >= {_RF_FRAC!r}
                  THEN CASE WHEN {stump} <= m.thr
                       THEN m.w_le ELSE m.w_gt END END AS oob_vote
      FROM p CROSS JOIN m
    ),
    agg AS (
      SELECT id_a, label,
             CAST(SUM(CAST(oob_vote AS DECIMAL(38,18))) AS DOUBLE)
               AS num,
             CAST(COUNT(oob_vote) AS BIGINT) AS den
      FROM pt GROUP BY id_a, label
    ),
    pred AS (
      SELECT label, num / den AS yhat FROM agg WHERE den > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_oob_rows,
           CAST(SUM(CAST((yhat - label) * (yhat - label)
                         AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
             AS mse_oob,
           CAST(SUM(CASE WHEN (yhat > 0.5) = (label = 1) THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS acc_oob
    FROM pred
    """


@oracle("train_fm_gd")
def _fm_oracle() -> str:
    return fm_gd_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], iters=_FM_ITERS, lr=_FM_LR,
        k=_FM_K,
    )


@oracle("train_uncertainty_batch")
def _uncertainty_oracle() -> str:
    z = "w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3"
    final = f"""
    SELECT id_a, id_b, score, uncertainty, rnk FROM (
      SELECT id_a, id_b, score,
             abs(score - 0.5) AS uncertainty,
             CAST(row_number() OVER (
               ORDER BY abs(score - 0.5) ASC, id_a ASC, id_b ASC)
               AS INT) AS rnk
      FROM (
        SELECT id_a, id_b,
               round(1.0 / (1.0 + exp(-({z}))), 9) AS score
        FROM pairs, it{_LR_ITERS} w
      )
    ) WHERE rnk <= {_AL_BATCH}
    """
    return logistic_gd_sql(
        _LR_PAIRS_SQL,
        ["x1", "x2", "x3"],
        iters=_LR_ITERS,
        lr=_LR_RATE,
        final_select=final,
    )


@oracle("train_cost_threshold")
def _cost_threshold_oracle() -> str:
    z = "w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3"
    final = f"""
    , scored AS (
      SELECT label, round(1.0 / (1.0 + exp(-({z}))), 9) AS score
      FROM pairs, it{_LR_ITERS} w
    ),
    tot AS (SELECT CAST(SUM(label) AS BIGINT) AS n_pos FROM scored),
    sweep AS (
      SELECT score AS thr,
             CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END)
                  OVER (ORDER BY score DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_fp,
             CAST(SUM(label)
                  OVER (ORDER BY score DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS tp
      FROM scored
    ),
    c AS (
      SELECT DISTINCT thr, n_fp, tot.n_pos - tp AS n_fn,
             {_CT_C_FP} * n_fp + {_CT_C_FN} * (tot.n_pos - tp)
               AS expected_cost
      FROM sweep, tot
    )
    SELECT thr AS threshold, n_fp, n_fn,
           CAST(expected_cost AS BIGINT) AS expected_cost
    FROM c ORDER BY expected_cost ASC, thr ASC LIMIT 1
    """
    # final begins with "," so it extends the WITH list before its
    # SELECT — the final_select hook splices it verbatim after it{K}
    return logistic_gd_sql(
        _LR_PAIRS_SQL,
        ["x1", "x2", "x3"],
        iters=_LR_ITERS,
        lr=_LR_RATE,
        final_select=final,
    )


@oracle("train_decile_lift")
def _lift_oracle() -> str:
    z = "w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3"
    final = f"""
    , scored AS (
      SELECT label, round(1.0 / (1.0 + exp(-({z}))), 9) AS score,
             id_a, id_b
      FROM pairs, it{_LR_ITERS} w
    ),
    bucketed AS (
      SELECT label,
             ntile({_LIFT_BUCKETS}) OVER (
               ORDER BY score DESC, id_a ASC, id_b ASC) AS decile
      FROM scored
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(label) AS BIGINT) AS pos_all
      FROM bucketed
    ),
    per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(label) AS BIGINT) AS n_pos
      FROM bucketed GROUP BY decile
    ),
    cum AS (
      SELECT decile, n, n_pos,
             CAST(SUM(n_pos) OVER (ORDER BY decile
                                   ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_pos,
             CAST(SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_n
      FROM per
    )
    SELECT decile, n, n_pos,
           CAST(cum_pos AS DOUBLE) / pos_all AS cum_capture,
           (CAST(cum_pos AS DOUBLE) / cum_n)
             / (CAST(pos_all AS DOUBLE) / n_all) AS cum_lift
    FROM cum CROSS JOIN base
    """
    return logistic_gd_sql(
        _LR_PAIRS_SQL,
        ["x1", "x2", "x3"],
        iters=_LR_ITERS,
        lr=_LR_RATE,
        final_select=final,
    )


@oracle("train_linear_shap")
def _linear_shap_oracle() -> str:
    feats = ["x1", "x2", "x3"]
    means = ", ".join(
        f"CAST(SUM(CAST(round({f}, 12) AS DECIMAL(38,18))) AS DOUBLE)"
        f" / COUNT(*) AS m{j + 1}"
        for j, f in enumerate(feats)
    )
    arms = "\nUNION ALL\n".join(
        f"""
      SELECT 'w{j + 1}' AS coef, round(w.w{j + 1}, 9) AS weight,
             round(m.m{j + 1}, 9) AS mean_x,
             round(CAST(SUM(CAST(round(abs(w.w{j + 1} * ({f} - m.m{j + 1})), 12)
                        AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 9)
               AS mean_abs_shap
      FROM pairs, it{_LR_ITERS} w, means m
      GROUP BY w.w{j + 1}, m.m{j + 1}"""
        for j, f in enumerate(feats)
    )
    final = f"""
    , means AS (SELECT {means} FROM pairs)
    {arms}
    """
    return logistic_gd_sql(
        _LR_PAIRS_SQL, feats, iters=_LR_ITERS, lr=_LR_RATE,
        final_select=final,
    )


@oracle("train_mcnemar")
def _mcnemar_oracle() -> str:
    z_full = "wf.w0 + wf.w1 * x1 + wf.w2 * x2 + wf.w3 * x3"
    z_one = "w1_.w0 + w1_.w1 * x1 + w1_.w2 * x2 + w1_.w3 * x3"
    final = f"""
    , preds AS (
      SELECT label,
             CASE WHEN round(1.0 / (1.0 + exp(-({z_full}))), 9) >= 0.5
                  THEN 1 ELSE 0 END AS pf,
             CASE WHEN round(1.0 / (1.0 + exp(-({z_one}))), 9) >= 0.5
                  THEN 1 ELSE 0 END AS p1
      FROM pairs, it{_LR_ITERS} wf, it1 w1_
    ),
    cells AS (
      SELECT
        CAST(SUM(CASE WHEN pf = label AND p1 <> label THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(SUM(CASE WHEN p1 = label AND pf <> label THEN 1 ELSE 0 END)
             AS BIGINT) AS c
      FROM preds
    )
    SELECT b AS full_only_correct, c AS early_only_correct,
           b + c AS n_discordant,
           CASE WHEN b + c = 0 THEN 0.0
                ELSE round(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 9)
           END AS mcnemar_chi2
    FROM cells
    """
    return logistic_gd_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], iters=_LR_ITERS, lr=_LR_RATE,
        final_select=final,
    )


@oracle("train_brier_decomposition")
def _brier_oracle() -> str:
    z = "w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3"
    final = f"""
    , scored AS (
      SELECT label, round(1.0 / (1.0 + exp(-({z}))), 9) AS s
      FROM pairs, it{_LR_ITERS} w
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(label) AS BIGINT) AS pos,
             CAST(SUM(CAST(round((s - label) * (s - label), 12)
                  AS DECIMAL(38,18))) AS DOUBLE) AS sq
      FROM scored
    ),
    bins AS (
      SELECT LEAST(CAST(floor(s * {_BRIER_BINS}) AS INT),
                   {_BRIER_BINS - 1}) AS bin,
             CAST(COUNT(*) AS BIGINT) AS nk,
             CAST(SUM(label) AS BIGINT) AS posk,
             CAST(SUM(CAST(s AS DECIMAL(38,18))) AS DOUBLE) AS ssum
      FROM scored GROUP BY 1
    ),
    parts AS (
      SELECT
        CAST(SUM(CAST(round(
          nk * (ssum / nk - CAST(posk AS DOUBLE) / nk)
             * (ssum / nk - CAST(posk AS DOUBLE) / nk), 12)
          AS DECIMAL(38,18))) AS DOUBLE) AS rel_num,
        CAST(SUM(CAST(round(
          nk * (CAST(posk AS DOUBLE) / nk - CAST(t.pos AS DOUBLE) / t.n)
             * (CAST(posk AS DOUBLE) / nk - CAST(t.pos AS DOUBLE) / t.n), 12)
          AS DECIMAL(38,18))) AS DOUBLE) AS res_num
      FROM bins, tot t GROUP BY t.pos, t.n
    )
    SELECT t.n, round(t.sq / t.n, 9) AS brier,
           round(p.rel_num / t.n, 9) AS reliability,
           round(p.res_num / t.n, 9) AS resolution,
           round(CAST(t.pos AS DOUBLE) / t.n
                 * (1.0 - CAST(t.pos AS DOUBLE) / t.n), 9) AS uncertainty
    FROM tot t, parts p
    """
    return logistic_gd_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], iters=_LR_ITERS, lr=_LR_RATE,
        final_select=final,
    )


@oracle("train_temperature_scaling")
def _temp_scaling_oracle() -> str:
    z = "w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3"
    ctes = [f"""
    , zs AS (
      SELECT label, {z} AS z FROM pairs, it{_LR_ITERS} w
    ),
    t0 AS (SELECT 1.0 AS T)"""]
    for t in range(1, _TS_ITERS + 1):
        p = "(1.0 / (1.0 + exp(-(z / tp.T))))"
        grad = f"({p} - label) * (-z / (tp.T * tp.T))"
        ctes.append(f""",
    t{t} AS (
      SELECT round(tp.T - {_TS_LR!r} *
               (CAST(SUM(CAST(round({grad}, 12) AS DECIMAL(38,18)))
                     AS DOUBLE) / COUNT(*)), 9) AS T
      FROM zs, t{t - 1} tp GROUP BY tp.T
    )""")
    arms = "\nUNION ALL\n".join(
        f"SELECT {t} AS iter, T AS temperature FROM t{t}"
        for t in range(1, _TS_ITERS + 1)
    )
    return logistic_gd_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], iters=_LR_ITERS, lr=_LR_RATE,
        final_select="".join(ctes) + "\n" + arms,
    )
