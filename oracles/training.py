"""Oracles of queries/training.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.boosting import GB_ETA
from fuzzy_item_matching_spark.queries.training import (
    _ADA_D2_ROUNDS,
    _ADA_ROUNDS,
    _ALS_ITERS,
    _ALS_PANEL,
    _ALS_QUSER_MOD,
    _ALS_REG,
    _ALS_TOPK,
    _AL_BATCH,
    _BOOT_B,
    _BOOT_CDF,
    _BRIER_BINS,
    _BT_ITERS,
    _BT_LR,
    _CAL_BINS,
    _CP_ALPHA,
    _CP_CAL_FRAC,
    _CP_SEED,
    _CT_C_FN,
    _CT_C_FP,
    _CV_FOLDS,
    _DIV_CELLS,
    _DIV_QUOTA,
    _DP_EPS,
    _DP_SEED,
    _DW_SPLIT,
    _EDRIFT_BINS,
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
    _HUBER_DELTA,
    _HUBER_ITERS,
    _HUBER_LR,
    _IPW_SEGMENT,
    _ISO_BINS,
    _KAPPA_MIN_TOKENS,
    _KAPPA_MIN_TTR,
    _KM_DAYS_SQL,
    _KM_REC_SQL,
    _KT_BUCKET,
    _LC_FRACS,
    _LIFT_BUCKETS,
    _LN_HI,
    _LR_ITERS,
    _LR_RATE,
    _MIX_BUDGET,
    _NDCG_DISC,
    _NDCG_K,
    _PERM_SEED,
    _PIRLS_ITERS,
    _PIT_LABEL_THR,
    _PLATT_ITERS,
    _PLATT_LR,
    _POIS_ROUNDS,
    _PR_STEPS,
    _PSI_BINS,
    _QD_DIM,
    _QD_ITERS,
    _QD_LR,
    _QR_ITERS,
    _QR_TAU,
    _RBO_K,
    _RBO_P,
    _RBO_SPLIT,
    _RF_COMBOS,
    _RF_FRAC,
    _RF_SEED0,
    _RF_TREES,
    _RIDGE_LAMBDA,
    _SH_HI,
    _SH_LO,
    _SH_RUNGS,
    _SH_SEED,
    _SH_TRIALS,
    _SH_U_SEED,
    _TE_SMOOTH,
    _TPE_CANDS,
    _TPE_GAMMA,
    _TPE_HI,
    _TPE_INIT,
    _TPE_K,
    _TPE_LO,
    _TPE_ROUNDS,
    _TPE_SEED,
    _TS_ITERS,
    _TS_LR,
    _W2V_DIM,
    _W2V_LR,
    _W2V_MIN_COUNT,
    _W2V_SEED,
    _WS_K,
)
from oracles import ORACLES, oracle
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
from oracles.text import _D_TOKENS


@oracle("train_class_weights")
def _train_class_weights_oracle() -> str:
    return """
    WITH counts AS (
      SELECT o_orderstatus AS label, COUNT(*) AS n FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS k FROM counts)
    SELECT label, n,
           total::DOUBLE / (k * n) AS weight
    FROM counts, tot
    """


@oracle("train_avg_precision")
def _train_avg_precision_oracle() -> str:
    return """
    WITH scored AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
             CAST(o_totalprice AS DECIMAL(18,2)) AS score
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    ranked AS (
      SELECT label,
             ROW_NUMBER() OVER (ORDER BY score DESC, o_orderkey) AS rnk,
             SUM(label) OVER (ORDER BY score DESC, o_orderkey
                              ROWS UNBOUNDED PRECEDING) AS tp
      FROM scored
    )
    SELECT CAST(SUM(CAST(CASE WHEN label = 1 THEN tp::DOUBLE / rnk ELSE 0.0 END
                         AS DECIMAL(38,18))) AS DOUBLE)
           / CAST(SUM(label) AS BIGINT) AS average_precision,
           CAST(SUM(label) AS BIGINT) AS n_pos, COUNT(*) AS n
    FROM ranked
    """


_D_SQD_PAIR = (
    "list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),"
    " s -> (s[1]-s[2])*(s[1]-s[2])))"
)


@oracle("train_grid_search")
def _train_grid_search_oracle() -> str:
    return f"""
    WITH pairs AS (
      SELECT CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS label,
             1.0 / (1.0 + {_D_SQD_PAIR}) AS score
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ),
    grid AS (SELECT unnest([0.3, 0.35, 0.4, 0.45, 0.5]) AS param),
    evals AS (
      SELECT param,
             SUM(CASE WHEN score >= param AND label = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN score >= param AND label = 0 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN score <  param AND label = 1 THEN 1 ELSE 0 END) AS fn,
             COUNT(*) AS n
      FROM pairs, grid GROUP BY param
    )
    SELECT param,
           CASE WHEN 2*tp + fp + fn = 0 THEN 0.0
                ELSE 2.0 * tp / (2*tp + fp + fn) END AS score,
           n
    FROM evals
    """


def _space_sql(n_trials: int, seed: int) -> str:
    """DuckDB replica of the sampled search space: same md5 draw, same
    arithmetic op sequence per kind (see operators/tuning.py —
    loguniform endpoints are embedded as the identical Python float
    literals, so only exp() differs and it agrees to the driver's
    9-digit rounding)."""
    import math

    def u(name: str) -> str:
        return (
            f"(CAST(CAST('0x' || substr(md5('{seed}:' || CAST(trial_id AS VARCHAR)"
            f" || ':{name}'), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0)"
        )

    def quniform(name: str, lo: float, hi: float, q: float) -> str:
        return (
            f"CAST(floor(({lo!r} + {u(name)} * ({hi!r} - {lo!r})) / {q!r} + 0.5)"
            f" * {q!r} AS BIGINT)"
        )

    def uniform(name: str, lo: float, hi: float) -> str:
        return f"({lo!r} + {u(name)} * ({hi!r} - {lo!r}))"

    def loguniform(name: str, lo: float, hi: float) -> str:
        llo, lhi = math.log(lo), math.log(hi)
        return f"exp({llo!r} + {u(name)} * ({lhi!r} - {llo!r}))"

    return f"""
    SELECT CAST(trial_id AS BIGINT) AS trial_id,
           {quniform("max_depth", 3.0, 18.0, 1.0)} AS max_depth,
           {uniform("gamma", 1.0, 9.0)} AS gamma,
           {quniform("reg_alpha", 40.0, 180.0, 1.0)} AS reg_alpha,
           {uniform("reg_lambda", 0.0, 1.0)} AS reg_lambda,
           {uniform("colsample_bytree", 0.5, 1.0)} AS colsample_bytree,
           {quniform("min_child_weight", 0.0, 10.0, 1.0)} AS min_child_weight,
           {loguniform("learning_rate", 0.005, 0.5)} AS learning_rate,
           {uniform("subsample", 0.5, 1.0)} AS subsample,
           'hist' AS tree_method
    FROM range({n_trials}) t(trial_id)
    """


@oracle("train_search_space")
def _train_search_space_oracle() -> str:
    return _space_sql(n_trials=64, seed=42)


_D_SPLIT_U = (
    "(CAST(CAST('0x' || substr(md5('42:' || CAST(o_orderkey AS VARCHAR)), 1, 8)"
    " AS BIGINT) AS DOUBLE) / 4294967296.0)"
)


@oracle("train_keyed_split_sizes")
def _train_keyed_split_sizes_oracle() -> str:
    return f"""
    SELECT CASE WHEN {_D_SPLIT_U} < 0.7 THEN 'train'
                WHEN {_D_SPLIT_U} < 0.85 THEN 'validate'
                ELSE 'test' END AS split,
           o_orderstatus AS label, COUNT(*) AS n
    FROM orders GROUP BY split, label
    """


@oracle("train_stratified_sample")
def _train_stratified_sample_oracle() -> str:
    return """
    WITH c AS (
      SELECT o_orderstatus AS label, COUNT(*) AS n_orig FROM orders GROUP BY 1
    ),
    m AS (SELECT MIN(n_orig) AS n_min FROM c),
    r AS (SELECT label, n_orig, n_min::DOUBLE / n_orig AS rate FROM c, m),
    s AS (
      SELECT o.o_orderkey, r.label, r.n_orig
      FROM orders o JOIN r ON o.o_orderstatus = r.label
      WHERE (CAST(CAST('0x' || substr(md5('42:' || CAST(o_orderkey AS VARCHAR)),
                       1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0) < r.rate
    )
    SELECT label, n_orig, COUNT(*) AS n_sampled
    FROM s GROUP BY label, n_orig
    """


@oracle("train_source_mixture")
def _train_source_mixture_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                 '[^\\w\\d]'), x -> length(x) >= 1)) AS n_tok
      FROM documents
    ),
    s AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM t GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS wgt
      FROM s
    ),
    tot AS (SELECT CAST(SUM(wgt) AS BIGINT) AS total_w FROM w),
    r AS (
      SELECT w.source, w.n_docs, w.n_tokens, w.wgt,
             least(1.0, CAST({_MIX_BUDGET} * wgt AS DOUBLE)
                        / CAST(total_w * n_docs AS DOUBLE)) AS rate
      FROM w, tot
    ),
    k AS (
      SELECT t.source, COUNT(*) AS n_sampled
      FROM t JOIN r USING (source)
      WHERE (CAST(CAST('0x' || substr(md5('42:' || CAST(t.doc_id AS VARCHAR)),
                       1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0) < r.rate
      GROUP BY t.source
    )
    SELECT r.source, r.n_docs, r.n_tokens, r.wgt, r.rate,
           coalesce(k.n_sampled, 0) AS n_sampled
    FROM r LEFT JOIN k USING (source)
    """


@oracle("train_diverse_sample")
def _train_diverse_sample_oracle() -> str:
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {_DIV_CELLS})
    ),
    c0 AS (
      SELECT cell,
             CASE WHEN sqrt(list_sum(list_transform(v, x -> x*x))) = 0 THEN v
                  ELSE list_transform(v, x ->
                       x / sqrt(list_sum(list_transform(v, y -> y*y))))
             END AS c
      FROM init
    ),
    sc AS (
      SELECT e.vec_id,  c0.cell,
             list_sum(list_transform(list_zip(e.v, c0.c), s -> s[1]*s[2]))
               AS score
      FROM emb e CROSS JOIN c0
    ),
    asg AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (
          PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
        FROM sc
      ) WHERE rn = 1
    ),
    ranked AS (
      SELECT a.vec_id, a.cell, row_number() OVER (
        PARTITION BY a.cell
        ORDER BY (CAST(CAST('0x' || substr(md5('42:' ||
                  CAST(a.vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
                  / 4294967296.0), a.vec_id) AS rk
      FROM asg a
    )
    SELECT cell, COUNT(*) AS n_in_cell,
           CAST(SUM(CASE WHEN rk <= {_DIV_QUOTA} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk <= {_DIV_QUOTA} THEN vec_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM ranked GROUP BY cell
    """


# keyed uniform's DuckDB twin, shifted to (0,1] so ln(u) is finite:
# u = (h + 0.5) / 2^32 where h is the first 8 md5 hex digits.
_D_U01 = (
    "((CAST(CAST('0x' || substr(md5('42:' || CAST({key} AS VARCHAR)), 1, 8)"
    " AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)"
)


@oracle("train_weighted_sample")
def _train_weighted_sample_oracle() -> str:
    return f"""
    WITH scored AS (
      SELECT doc_id, n_chars,
             ln({_D_U01.format(key="doc_id")}) / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, es_key, rnk FROM (
      SELECT doc_id, n_chars, es_key,
             CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS INT)
               AS rnk
      FROM scored
    ) WHERE rnk <= {_WS_K}
    """


@oracle("train_calibration_bins")
def _train_calibration_bins_oracle() -> str:
    return f"""
    WITH mx AS (
      SELECT MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS m
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    scored AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               / CAST(mx.m AS DOUBLE) AS p
      FROM orders, mx WHERE o_orderkey % 10 = 0
    )
    SELECT bin, n, avg_pred, obs_rate FROM (
      SELECT CAST(least({_CAL_BINS - 1}, floor(p * {_CAL_BINS})) AS INT) AS bin,
             COUNT(*) AS n,
             CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)
               AS avg_pred,
             CAST(SUM(label) AS DOUBLE) / COUNT(*) AS obs_rate
      FROM scored GROUP BY bin
    )
    """


# Tie-aware Mann-Whitney AUC numerator term, formed entirely in DECIMAL
# so no 64-bit-integer intermediate can wrap: operands are cast to
# DECIMAL(18,0) BEFORE multiplying. Width bookkeeping on both engines:
# 2[DEC(1,0)] * nb[DEC(18,0)] -> (20,0), * pg[DEC(18,0)] -> (37,0)
# (DuckDB w1+w2; Spark p1+p2+1 capped at 38, scale 0 so lossless);
# pg*ng -> (36,0); the sum fits (38,0). Exact while cumulative
# per-group counts fit 10^18 rows — previously the products were
# computed in BIGINT first, so ANSI-off Spark would wrap silently at
# extreme scale while DuckDB errored.
_AUC_NUM_SQL = (
    "CAST(CAST(2 AS DECIMAL(1,0))"
    " * CAST(neg_below AS DECIMAL(18,0)) * CAST(pos_g AS DECIMAL(18,0))"
    " + CAST(pos_g AS DECIMAL(18,0)) * CAST(neg_g AS DECIMAL(18,0))"
    " AS DECIMAL(38,0))"
)


@oracle("train_roc_auc")
def _train_roc_auc_oracle() -> str:
    return f"""
    WITH scored AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
             CAST(o_totalprice AS DECIMAL(18,2)) AS score
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    g AS (
      SELECT score, CAST(SUM(label) AS BIGINT) AS pos_g,
             COUNT(*) - CAST(SUM(label) AS BIGINT) AS neg_g
      FROM scored GROUP BY score
    ),
    c AS (
      SELECT pos_g, neg_g,
             COALESCE(SUM(neg_g) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS neg_below
      FROM g
    )
    SELECT CAST(SUM({_AUC_NUM_SQL}) AS DOUBLE)
           / (2.0 * CAST(SUM(pos_g) AS DOUBLE) * CAST(SUM(neg_g) AS DOUBLE))
             AS auc,
           CAST(SUM(pos_g) AS BIGINT) AS n_pos,
           CAST(SUM(neg_g) AS BIGINT) AS n_neg
    FROM c
    """


_D_DISC_CASE = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_NDCG_DISC)
) + " END"


@oracle("train_ndcg")
def _train_ndcg_oracle() -> str:
    return f"""
    WITH graded AS (
      SELECT o_custkey,
             o_orderkey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS score,
             CAST(power(2, 5 - CAST(substr(o_orderpriority, 1, 1) AS INT))
                  AS BIGINT) - 1 AS gain
      FROM orders
    ),
    ranked AS (
      SELECT o_custkey, gain,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY score DESC, o_orderkey) AS rnk,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY gain DESC, o_orderkey) AS irnk
      FROM graded
    ),
    percust AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN rnk <= {_NDCG_K} THEN
                    CAST(gain * ({_D_DISC_CASE}) AS DECIMAL(38,18))
                  ELSE 0 END) AS DOUBLE) AS dcg,
             CAST(SUM(CASE WHEN irnk <= {_NDCG_K} THEN
                    CAST(gain * (CASE irnk {" ".join(
                        f"WHEN {r + 1} THEN {d}"
                        for r, d in enumerate(_NDCG_DISC))} END)
                         AS DECIMAL(38,18))
                  ELSE 0 END) AS DOUBLE) AS idcg
      FROM ranked GROUP BY o_custkey
    )
    SELECT CAST(SUM(CAST(dcg / idcg AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(*) AS mean_ndcg,
           COUNT(*) AS n_groups
    FROM percust WHERE idcg > 0
    """


@oracle("train_target_encoding")
def _train_target_encoding_oracle() -> str:
    return f"""
    WITH labeled AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      FROM orders
    ),
    stats AS (
      SELECT cat, CAST(SUM(label) AS BIGINT) AS s, COUNT(*) AS n
      FROM labeled GROUP BY cat
    ),
    prior AS (
      SELECT CAST(SUM(label) AS BIGINT) AS gs, COUNT(*) AS gn FROM labeled
    )
    SELECT l.o_orderkey, l.cat,
           CAST(s - l.label AS DOUBLE) / (n - 1) AS enc_loo,
           (CAST(s - l.label AS DOUBLE)
              + {_TE_SMOOTH} * (CAST(gs AS DOUBLE) / gn))
             / (n - 1 + {_TE_SMOOTH}) AS enc_smooth
    FROM labeled l JOIN stats USING (cat), prior
    """


@oracle("train_standard_scaler")
def _train_standard_scaler_oracle() -> str:
    return """
    WITH x AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DECIMAL(18,2)) AS q,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             CAST(l_discount AS DECIMAL(18,2)) AS d
      FROM lineitem WHERE l_orderkey % 10 = 0
    ),
    fit AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mq,
             CAST(SUM(q * q) AS DOUBLE) / COUNT(*) AS sq,
             CAST(SUM(p) AS DOUBLE) / COUNT(*) AS mp,
             CAST(SUM(p * p) AS DOUBLE) / COUNT(*) AS sp,
             CAST(SUM(d) AS DOUBLE) / COUNT(*) AS md,
             CAST(SUM(d * d) AS DOUBLE) / COUNT(*) AS sd
      FROM x
    )
    SELECT l_orderkey, l_linenumber,
           (CAST(q AS DOUBLE) - mq) / sqrt(sq - mq * mq) AS z_qty,
           (CAST(p AS DOUBLE) - mp) / sqrt(sp - mp * mp) AS z_price,
           (CAST(d AS DOUBLE) - md) / sqrt(sd - md * md) AS z_disc
    FROM x, fit
    """


_D_BOOT_U = (
    "(CAST(CAST('0x' || substr(md5('42:' || CAST(b AS VARCHAR) || ':'"
    " || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
    " / 4294967296.0)"
)

_D_BOOT_W = "CASE " + " ".join(
    f"WHEN u < {c} THEN {k}" for k, c in enumerate(_BOOT_CDF)
) + " ELSE 10 END"


@oracle("train_bootstrap_means")
def _train_bootstrap_means_oracle() -> str:
    return f"""
    WITH fanned AS (
      SELECT b, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders, generate_series(0, {_BOOT_B - 1}) AS t(b)
      WHERE o_orderkey % 10 = 0
    ),
    weighted AS (
      SELECT b, x, {_D_BOOT_W} AS w
      FROM (SELECT b, o_orderkey, x, {_D_BOOT_U} AS u FROM fanned)
    )
    SELECT b, CAST(SUM(w * x) AS DOUBLE) / CAST(SUM(w) AS BIGINT)
                AS boot_mean,
           CAST(SUM(w) AS BIGINT) AS n_resampled
    FROM weighted GROUP BY b
    """


@oracle("train_isotonic_calibration")
def _train_isotonic_calibration_oracle() -> str:
    return f"""
    WITH mx AS (
      SELECT MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS m
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    scored AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               / CAST(mx.m AS DOUBLE) AS p
      FROM orders, mx WHERE o_orderkey % 10 = 0
    ),
    bins AS (
      SELECT CAST(least({_ISO_BINS - 1}, floor(p * {_ISO_BINS})) AS INT)
               AS bin,
             CAST(SUM(label) AS BIGINT) AS s, COUNT(*) AS n
      FROM scored GROUP BY bin
    ),
    pref AS (
      SELECT bin, s, n,
             CAST(SUM(s) OVER (ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
             CAST(SUM(n) OVER (ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
      FROM bins
    ),
    triple AS (
      SELECT i.bin AS i, j.bin AS j, k.bin AS k,
             CAST(k.cs - j.cs + j.s AS DOUBLE)
               / (k.cn - j.cn + j.n) AS seg_avg
      FROM pref i, pref j, pref k
      WHERE j.bin <= i.bin AND i.bin <= k.bin
    ),
    stage1 AS (
      SELECT i, j, MIN(seg_avg) AS min_over_k
      FROM triple GROUP BY i, j
    )
    SELECT p.bin, p.n,
           CAST(p.s AS DOUBLE) / p.n AS obs_rate,
           s1.iso_rate
    FROM pref p JOIN (
      SELECT i AS bin, MAX(min_over_k) AS iso_rate
      FROM stage1 GROUP BY i
    ) s1 USING (bin)
    """


# DuckDB twin of functions.sampling.keyed_uniform(seed=42) — same
# fragment as queries/sources.py::_D_U, inlined for the fold draw.
_D_CV_U = (
    "(CAST(CAST('0x' || substr(md5('42:' || CAST(o_orderkey AS VARCHAR)), 1, 8)"
    " AS BIGINT) AS DOUBLE) / 4294967296.0)"
)


@oracle("train_cv_auc")
def _train_cv_auc_oracle() -> str:
    return f"""
    WITH scored AS (
      SELECT CAST(floor({_D_CV_U} * {_CV_FOLDS}) AS INT) AS fold,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
             CAST(o_totalprice AS DECIMAL(18,2)) AS score
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    g AS (
      SELECT fold, score, CAST(SUM(label) AS BIGINT) AS pos_g,
             COUNT(*) - CAST(SUM(label) AS BIGINT) AS neg_g
      FROM scored GROUP BY fold, score
    ),
    c AS (
      SELECT fold, pos_g, neg_g,
             COALESCE(SUM(neg_g) OVER (PARTITION BY fold ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS neg_below
      FROM g
    )
    SELECT fold,
           CAST(SUM({_AUC_NUM_SQL}) AS DOUBLE)
           / (2.0 * CAST(SUM(pos_g) AS DOUBLE) * CAST(SUM(neg_g) AS DOUBLE))
             AS auc,
           CAST(SUM(pos_g) AS BIGINT) AS n_pos,
           CAST(SUM(neg_g) AS BIGINT) AS n_neg
    FROM c GROUP BY fold
    """


@oracle("train_drift_stats")
def _train_drift_stats_oracle() -> str:
    return f"""
    WITH mx AS (
      SELECT MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS m FROM orders
    ),
    scored AS (
      SELECT o_orderkey % 2 AS grp,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               / CAST(mx.m AS DOUBLE) AS p,
             CAST(o_totalprice AS DECIMAL(18,2)) AS score
      FROM orders, mx
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM scored
    ),
    binned AS (
      SELECT CAST(least({_PSI_BINS - 1}, floor(p * {_PSI_BINS})) AS INT)
               AS bin,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM scored GROUP BY bin
    ),
    psi AS (
      SELECT CAST(SUM(CAST(
               ((c0 + 0.5) / (n0 + 0.5 * {_PSI_BINS})
                - (c1 + 0.5) / (n1 + 0.5 * {_PSI_BINS}))
               * ln(((c0 + 0.5) / (n0 + 0.5 * {_PSI_BINS}))
                    / ((c1 + 0.5) / (n1 + 0.5 * {_PSI_BINS})))
               AS DECIMAL(38,18))) AS DOUBLE) AS psi
      FROM binned, tot
    ),
    cum AS (
      SELECT score,
             CAST(SUM(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END))
                  OVER (ORDER BY score) AS BIGINT) AS a0,
             CAST(SUM(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END))
                  OVER (ORDER BY score) AS BIGINT) AS a1
      FROM scored GROUP BY score
    ),
    ks AS (
      SELECT MAX(abs(CAST(a0 AS DOUBLE) / n0 - CAST(a1 AS DOUBLE) / n1))
               AS ks
      FROM cum, tot
    )
    SELECT psi.psi, ks.ks, tot.n0 AS n_ref, tot.n1 AS n_cur
    FROM psi, ks, tot
    """


@oracle("train_embedding_drift")
def _train_embedding_drift_oracle() -> str:
    return f"""
    WITH x AS (
      SELECT vec_id % 2 AS grp, i - 1 AS dim,
             CAST(least({_EDRIFT_BINS - 1}, greatest(0,
               CAST(floor(((embedding::DOUBLE[])[i] + 1.0) / 2.0
                          * {_EDRIFT_BINS}.0) AS BIGINT))) AS INT) AS bin
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS u(i)
    ),
    tot AS (
      SELECT SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n1
      FROM embeddings
    ),
    b AS (
      SELECT dim, bin,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
      FROM x GROUP BY dim, bin
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(SUM(CAST(
             (((c0 + 0.5) / (n0 + {_EDRIFT_BINS / 2.0!r})
               - (c1 + 0.5) / (n1 + {_EDRIFT_BINS / 2.0!r}))
              * ln(((c0 + 0.5) / (n0 + {_EDRIFT_BINS / 2.0!r}))
                   / ((c1 + 0.5) / (n1 + {_EDRIFT_BINS / 2.0!r}))))
             AS DECIMAL(38,18))) AS DOUBLE) AS psi
    FROM b, tot GROUP BY dim
    """


@oracle("train_learning_curve")
def _train_learning_curve_oracle() -> str:
    return f"""
    WITH scored AS (
      SELECT {_D_CV_U} AS u,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
             CAST(o_totalprice AS DECIMAL(18,2)) AS score
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    fanned AS (
      SELECT f.frac, label, score
      FROM scored, (VALUES {", ".join(f"({f})" for f in _LC_FRACS)}) AS f(frac)
      WHERE u < f.frac
    ),
    g AS (
      SELECT frac, score, CAST(SUM(label) AS BIGINT) AS pos_g,
             COUNT(*) - CAST(SUM(label) AS BIGINT) AS neg_g
      FROM fanned GROUP BY frac, score
    ),
    c AS (
      SELECT frac, pos_g, neg_g,
             COALESCE(SUM(neg_g) OVER (PARTITION BY frac ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS neg_below
      FROM g
    )
    SELECT frac,
           CAST(SUM({_AUC_NUM_SQL}) AS DOUBLE)
           / (2.0 * CAST(SUM(pos_g) AS DOUBLE) * CAST(SUM(neg_g) AS DOUBLE))
             AS auc,
           CAST(SUM(pos_g) + SUM(neg_g) AS BIGINT) AS n_rows
    FROM c GROUP BY frac
    """


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


def _qd_docs_sql() -> str:
    """Per-doc frame (doc_id, source, label, x1..x16) — fit and score
    oracles share it."""
    from oracles.text import _D_TOKENS

    xcols = ", ".join(
        f"SUM(CASE WHEN b = {j} THEN 1 ELSE 0 END) / 8.0 AS x{j + 1}"
        for j in range(_QD_DIM)
    )
    return f"""
    SELECT doc_id, source,
           CASE WHEN COUNT(*) >= 30
                     AND 2 * COUNT(DISTINCT tok) >= COUNT(*)
                THEN 1 ELSE 0 END AS label,
           {xcols}
    FROM (
      SELECT doc_id, source, tok,
             CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % {_QD_DIM} AS b
      FROM (
        SELECT doc_id, source, unnest({_D_TOKENS.format(c="text")}) AS tok
        FROM documents
      )
    )
    GROUP BY doc_id, source
    """


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


@oracle("train_successive_halving")
def _halving_sql() -> str:
    u_cfg = (
        f"(CAST(CAST('0x' || substr(md5('{_SH_SEED}:' ||"
        " CAST(trial_id AS VARCHAR) || ':param'), 1, 8) AS BIGINT)"
        " AS DOUBLE) / 4294967296.0)"
    )
    u_row = (
        f"(CAST(CAST('0x' || substr(md5('{_SH_U_SEED}:' ||"
        " CAST(a.vec_id AS VARCHAR)), 1, 8) AS BIGINT)"
        " AS DOUBLE) / 4294967296.0)"
    )
    sqd = (
        "list_sum(list_transform(list_zip(a.embedding::DOUBLE[],"
        " b.embedding::DOUBLE[]), s -> (s[1]-s[2])*(s[1]-s[2])))"
    )
    ctes = [
        f"""pairs AS (
      SELECT CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS label,
             1.0 / (1.0 + {sqd}) AS score,
             {u_row} AS u
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    )""",
        f"""cfg0 AS (
      SELECT CAST(trial_id AS BIGINT) AS trial_id,
             ({_SH_LO!r} + {u_cfg} * ({_SH_HI!r} - {_SH_LO!r})) AS param
      FROM range({_SH_TRIALS}) t(trial_id)
    )""",
    ]
    arms = []
    for r, (frac, keep) in enumerate(_SH_RUNGS):
        last = r == len(_SH_RUNGS) - 1
        ctes.append(
            f"""ev{r} AS (
      SELECT c.trial_id, c.param,
             SUM(CASE WHEN score >= c.param AND label = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN score >= c.param AND label = 0 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN score <  c.param AND label = 1 THEN 1 ELSE 0 END) AS fn,
             COUNT(*) AS n
      FROM pairs, cfg{r} c WHERE u < {frac!r} GROUP BY c.trial_id, c.param
    )""",
        )
        ctes.append(
            f"""sc{r} AS (
      SELECT trial_id, param,
             CASE WHEN 2*tp + fp + fn = 0 THEN 0.0
                  ELSE 2.0 * tp / (2*tp + fp + fn) END AS score, n
      FROM ev{r}
    )""",
        )
        ctes.append(
            f"""rk{r} AS (
      SELECT trial_id, param, score, n,
             ROW_NUMBER() OVER (ORDER BY score DESC, trial_id) AS rnk
      FROM sc{r}
    )""",
        )
        if not last:
            ctes.append(
                f"cfg{r + 1} AS (SELECT trial_id, param FROM rk{r}"
                f" WHERE rnk <= {keep})"
            )
        arms.append(
            f"SELECT {r} AS rung, trial_id, param, score, n, rnk,"
            f" CASE WHEN rnk <= {1 if last else keep} THEN 1 ELSE 0 END AS kept"
            f" FROM rk{r}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(arms)


@oracle("train_tpe_search")
def _tpe_sql() -> str:
    import math

    lo, hi = _TPE_LO, _TPE_HI
    h_prop = (hi - lo) / 8.0
    h_dens = (hi - lo) / 4.0
    sqd = (
        "list_sum(list_transform(list_zip(a.embedding::DOUBLE[],"
        " b.embedding::DOUBLE[]), s -> (s[1]-s[2])*(s[1]-s[2])))"
    )

    def u(trial: str, name: str) -> str:
        return (
            f"(CAST(CAST('0x' || substr(md5('{_TPE_SEED}:' ||"
            f" CAST({trial} AS VARCHAR) || ':{name}'), 1, 8) AS BIGINT)"
            " AS DOUBLE) / 4294967296.0)"
        )

    def ev(cfg: str, rnd: int) -> str:
        return f"""(
      SELECT CAST({rnd} AS INT) AS round, trial_id, param,
             CASE WHEN 2*tp + fp + fn = 0 THEN 0.0
                  ELSE 2.0 * tp / (2*tp + fp + fn) END AS score, n
      FROM (
        SELECT c.trial_id, c.param,
               SUM(CASE WHEN score >= c.param AND label = 1 THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN score >= c.param AND label = 0 THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN score <  c.param AND label = 1 THEN 1 ELSE 0 END) AS fn,
               COUNT(*) AS n
        FROM pairs, {cfg} c GROUP BY c.trial_id, c.param
      )
    )"""

    ctes = [
        f"""pairs AS (
      SELECT CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS label,
             1.0 / (1.0 + {sqd}) AS score
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    )""",
        f"""cfg0 AS (
      SELECT CAST(trial_id AS BIGINT) AS trial_id,
             ({lo!r} + {u("trial_id", "param")} * ({hi!r} - {lo!r})) AS param
      FROM range({_TPE_INIT}) t(trial_id)
    )""",
        f"ob0 AS {ev('cfg0', 0)}",
        "obs0 AS (SELECT * FROM ob0)",
    ]
    n_obs = _TPE_INIT
    for r in range(1, _TPE_ROUNDS + 1):
        good_n = max(1, math.ceil(_TPE_GAMMA * n_obs))
        bad_n = n_obs - good_n
        ctes.append(f"""rk{r} AS (
      SELECT trial_id, param,
             ROW_NUMBER() OVER (ORDER BY score DESC, trial_id) AS rnk
      FROM obs{r - 1}
    )""")
        ctes.append(f"""prop{r} AS (
      SELECT c.cand_id,
             LEAST(GREATEST(g.param + (((2.0 * {u("c.cand_id", f"off{r}")})
                 - 1.0) * {h_prop!r}), {lo!r}), {hi!r}) AS x
      FROM (SELECT CAST(cand_id AS BIGINT) AS cand_id,
                   CAST(floor({u("cand_id", f"pick{r}")} * {good_n}) + 1
                        AS INT) AS pick_rnk
            FROM range({_TPE_CANDS}) t(cand_id)) c
      JOIN rk{r} g ON g.rnk = c.pick_rnk
    )""")
        term = (
            f"round(GREATEST(0.0, 1.0 - abs(p.x - o.param) / {h_dens!r}), 9)"
        )
        ctes.append(f"""dens{r} AS (
      SELECT p.cand_id, p.x,
             CAST(SUM(CAST(CASE WHEN o.rnk <= {good_n} THEN {term}
                           ELSE 0.0 END AS DECIMAL(38,18))) AS DOUBLE)
               AS l_sum,
             CAST(SUM(CAST(CASE WHEN o.rnk > {good_n} THEN {term}
                           ELSE 0.0 END AS DECIMAL(38,18))) AS DOUBLE)
               AS g_sum
      FROM prop{r} p, rk{r} o GROUP BY p.cand_id, p.x
    )""")
        ctes.append(f"""top{r} AS (
      SELECT CAST({n_obs} + prnk - 1 AS BIGINT) AS trial_id, x AS param
      FROM (
        SELECT cand_id, x,
               ROW_NUMBER() OVER (
                 ORDER BY round((l_sum / {float(good_n)!r} + {1e-9!r})
                          / (g_sum / {float(bad_n)!r} + {1e-9!r}), 9) DESC,
                 cand_id) AS prnk
        FROM dens{r}
      ) WHERE prnk <= {_TPE_K}
    )""")
        ctes.append(f"ob{r} AS {ev(f'top{r}', r)}")
        ctes.append(
            f"obs{r} AS (SELECT * FROM obs{r - 1}"
            f" UNION ALL SELECT * FROM ob{r})"
        )
        n_obs += _TPE_K
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT round, trial_id, param, score, n FROM obs{_TPE_ROUNDS}"
    )


_D_W2V_TOKENS = (
    "list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[^\\w\\d]'),"
    " x -> length(x) >= 1)"
)

# seeded init: u(word, dim) from the repo's md5-uniform discipline
_D_W2V_U = (
    f"(CAST(CAST('0x' || substr(md5('{_W2V_SEED}:' || w || '|' ||"
    " CAST(d AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0)"
)


@oracle("train_word2vec_lite")
def _train_word2vec_lite_oracle() -> str:
    return f"""
    WITH toksl AS MATERIALIZED (
      SELECT doc_id, {_D_W2V_TOKENS} AS t FROM documents
    ),
    tok AS MATERIALIZED (SELECT doc_id, unnest(t) AS w FROM toksl),
    vocab AS MATERIALIZED (
      SELECT w FROM tok GROUP BY w HAVING COUNT(*) >= {_W2V_MIN_COUNT}
    ),
    v0 AS MATERIALIZED (
      SELECT w, d, {_D_W2V_U} - 0.5 AS v
      FROM vocab, (SELECT unnest(generate_series(0, {_W2V_DIM - 1})) AS d)
    ),
    adj AS MATERIALIZED (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                    i -> t[i])) AS w,
             unnest(list_transform(generate_series(1, len(t) - 1),
                    i -> t[i + 1])) AS c
      FROM toksl
    ),
    pair_counts AS MATERIALIZED (
      SELECT w, c, COUNT(*) AS cnt FROM (
        SELECT w, c FROM adj
        UNION ALL
        SELECT c AS w, w AS c FROM adj
      ) GROUP BY w, c
    ),
    ctx AS MATERIALIZED (
      SELECT p.w, v.d,
             CAST(SUM(CAST(v.v AS DECIMAL(20,18)) * CAST(p.cnt AS DECIMAL(12,0)))
                  AS DOUBLE) AS sum_c,
             SUM(p.cnt) AS deg
      FROM pair_counts p JOIN v0 v ON v.w = p.c
      GROUP BY p.w, v.d
    ),
    v1 AS MATERIALIZED (
      SELECT v0.w, v0.d,
             CASE WHEN ctx.deg IS NULL THEN v0.v
                  ELSE v0.v + {_W2V_LR!r} * (ctx.sum_c / ctx.deg - v0.v)
             END AS v
      FROM v0 LEFT JOIN ctx ON ctx.w = v0.w AND ctx.d = v0.d
    ),
    ctx2 AS MATERIALIZED (
      SELECT p.w, v.d,
             CAST(SUM(CAST(v.v AS DECIMAL(20,18)) * CAST(p.cnt AS DECIMAL(12,0)))
                  AS DOUBLE) AS sum_c,
             SUM(p.cnt) AS deg
      FROM pair_counts p JOIN v1 v ON v.w = p.c
      GROUP BY p.w, v.d
    ),
    v2 AS MATERIALIZED (
      SELECT v1.w, v1.d,
             CASE WHEN ctx2.deg IS NULL THEN v1.v
                  ELSE v1.v + {_W2V_LR!r} * (ctx2.sum_c / ctx2.deg - v1.v)
             END AS v
      FROM v1 LEFT JOIN ctx2 ON ctx2.w = v1.w AND ctx2.d = v1.d
    ),
    ctx3 AS MATERIALIZED (
      SELECT p.w, v.d,
             CAST(SUM(CAST(v.v AS DECIMAL(20,18)) * CAST(p.cnt AS DECIMAL(12,0)))
                  AS DOUBLE) AS sum_c,
             SUM(p.cnt) AS deg
      FROM pair_counts p JOIN v2 v ON v.w = p.c
      GROUP BY p.w, v.d
    ),
    v3 AS MATERIALIZED (
      SELECT v2.w, v2.d,
             CASE WHEN ctx3.deg IS NULL THEN v2.v
                  ELSE v2.v + {_W2V_LR!r} * (ctx3.sum_c / ctx3.deg - v2.v)
             END AS v
      FROM v2 LEFT JOIN ctx3 ON ctx3.w = v2.w AND ctx3.d = v2.d
    ),
    doc_counts AS MATERIALIZED (
      SELECT doc_id, w, COUNT(*) AS cnt FROM tok GROUP BY doc_id, w
    )
    SELECT t.doc_id, v3.d,
           CAST(SUM(CAST(v3.v AS DECIMAL(20,18)) * CAST(t.cnt AS DECIMAL(12,0)))
                AS DOUBLE) / SUM(t.cnt) AS value
    FROM doc_counts t JOIN v3 ON v3.w = t.w
    GROUP BY t.doc_id, v3.d
    """


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


_HN_DOT = """
    list_sum(list_transform(
      list_zip(a.embedding::DOUBLE[], c.embedding::DOUBLE[]),
      s -> s[1] * s[2]))
"""


@oracle("train_hard_negatives")
def _train_hard_negatives_oracle() -> str:
    return f"""
    WITH scored AS (
      SELECT a.vec_id AS anchor_id,
             CASE WHEN c.label = a.label THEN 'pos' ELSE 'neg' END AS kind,
             c.vec_id AS cand_id,
             {_HN_DOT} AS sim
      FROM embeddings a JOIN embeddings c ON c.vec_id != a.vec_id
      WHERE a.vec_id % 50 = 0
    )
    SELECT anchor_id, kind, cand_id, sim FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY anchor_id, kind ORDER BY sim DESC, cand_id ASC
      ) AS rn FROM scored
    ) WHERE rn = 1
    """


@oracle("train_robust_scaler")
def _train_robust_scaler_oracle() -> str:
    return """
    WITH v AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    fit AS (
      SELECT event_type,
             quantile_cont(v, 0.5) AS med,
             quantile_cont(v, 0.75) - quantile_cont(v, 0.25) AS iqr
      FROM v GROUP BY event_type
    )
    SELECT v.event_id, v.event_type, v.v AS value,
           CASE WHEN f.iqr = 0 THEN 0.0
                ELSE LEAST(3.0, GREATEST(-3.0, (v.v - f.med) / f.iqr))
           END AS robust_z
    FROM v JOIN fit f USING (event_type)
    """


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


@oracle("train_ece")
def _ece_oracle() -> str:
    bins_sql = ORACLES["train_calibration_bins"]()
    return f"""
    WITH bins AS ({bins_sql})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n) AS BIGINT) AS n_total,
           round(CAST(SUM(CAST(n * abs(avg_pred - obs_rate)
                               AS DECIMAL(38,18))) AS DOUBLE)
                 / SUM(n), 9) AS ece,
           round(MAX(abs(avg_pred - obs_rate)), 9) AS mce
    FROM bins
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


@oracle("train_conformal_ols")
def _train_conformal_ols_oracle() -> str:
    return f"""
    WITH pairs AS (
      SELECT p_partkey AS id,
             CAST(p_retailprice AS DOUBLE) AS y,
             CAST(p_size AS DOUBLE) AS x,
             (CAST(CAST('0x' || substr(md5('{_CP_SEED}:' || CAST(p_partkey AS VARCHAR)), 1, 8)
                AS BIGINT) AS DOUBLE) / 4294967296.0) AS u
      FROM part
    ),
    tr AS (SELECT * FROM pairs WHERE u >= {_CP_CAL_FRAC}),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy
      FROM tr
    ),
    coef AS (
      SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS intercept
      FROM fit
    ),
    cal AS (
      SELECT abs(p.y - (coef.intercept + coef.slope * p.x)) AS r
      FROM pairs p CROSS JOIN coef WHERE p.u < {_CP_CAL_FRAC}
    ),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, r) AS rk FROM cal
    ),
    q AS (
      SELECT ranked.r AS q_hat, nc.n_cal
      FROM ranked, nc
      WHERE ranked.rk = CAST(ceil((nc.n_cal + 1) * {1.0 - _CP_ALPHA}) AS BIGINT)
    ),
    cov AS (
      SELECT CAST(SUM(CASE WHEN abs(p.y - (coef.intercept + coef.slope * p.x))
                           <= q.q_hat THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
             CAST(COUNT(*) AS BIGINT) AS n_test
      FROM pairs p CROSS JOIN coef CROSS JOIN q
      WHERE p.u >= {_CP_CAL_FRAC}
    )
    SELECT q.n_cal, q.q_hat,
           coef.slope, coef.intercept,
           cov.n_in, cov.n_test,
           CAST(cov.n_in AS DOUBLE) / cov.n_test AS coverage
    FROM q CROSS JOIN coef CROSS JOIN cov
    """


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


# DuckDB's day difference (queries/training._KM_DD_SPARK takes the
# arguments in the other order)
_KM_DD_DUCK = "datediff('day', CAST({a} AS DATE), CAST({b} AS DATE))"


@oracle("train_km_survival")
def _train_km_survival_oracle() -> str:
    return _KM_REC_SQL.format(
        prefix=_KM_DAYS_SQL.format(
            events="events",
            dd_p=_KM_DD_DUCK.format(a="s_ts", b="p_ts"),
            dd_c=_KM_DD_DUCK.format(a="s_ts", b="end_ts"),
        )
        + ",",
        km="km",
    )


@oracle("train_fm_gd")
def _fm_oracle() -> str:
    return fm_gd_sql(
        _LR_PAIRS_SQL, ["x1", "x2", "x3"], iters=_FM_ITERS, lr=_FM_LR,
        k=_FM_K,
    )


@oracle("train_pit_features")
def _train_pit_features_oracle() -> str:
    return f"""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    feat AS (
      SELECT user_id, event_id, event_type, v,
             COUNT(*) OVER w AS n_prior_events,
             CAST(COALESCE(SUM(v) OVER w, 0.00) AS DECIMAL(38,2))
               AS prior_value_sum,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) OVER w
               AS n_prior_purchases
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id,
           CAST(n_prior_events AS BIGINT) AS n_prior_events,
           CAST(prior_value_sum AS DOUBLE) AS prior_value_sum,
           CAST(n_prior_purchases AS BIGINT) AS n_prior_purchases,
           CASE WHEN v > CAST({_PIT_LABEL_THR} AS DECIMAL(18,2))
                THEN 1 ELSE 0 END AS label
    FROM feat WHERE event_type = 'purchase'
    """


@oracle("train_dp_noisy_counts")
def _train_dp_noisy_counts_oracle() -> str:
    return f"""
    WITH c AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM part GROUP BY p_brand
    ),
    u AS (
      SELECT p_brand, true_count,
             ((CAST(CAST('0x' || substr(md5('{_DP_SEED}:' || p_brand), 1, 8)
                    AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0) - 0.5
               AS x
      FROM c
    ),
    nz AS (
      SELECT p_brand, true_count,
             -(1.0 / {_DP_EPS!r})
               * (CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END)
               * ln(1.0 - 2.0 * abs(x)) AS noise
      FROM u
    )
    SELECT p_brand, true_count,
           true_count + noise AS noisy_count,
           abs(noise) AS abs_noise
    FROM nz
    """


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


@oracle("train_woe_encoding")
def _train_woe_encoding_oracle() -> str:
    return """
    WITH labeled AS (
      SELECT p.p_brand,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    tot AS (
      SELECT CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(1 - y) AS BIGINT) AS neg
      FROM labeled
    ),
    g AS (
      SELECT p_brand, CAST(SUM(y) AS BIGINT) AS posk,
             CAST(SUM(1 - y) AS BIGINT) AS negk
      FROM labeled GROUP BY p_brand
    )
    SELECT g.p_brand, g.posk, g.negk,
           round(ln(((g.posk + 0.5) / (tot.pos + 0.5))
                    / ((g.negk + 0.5) / (tot.neg + 0.5))), 9) AS woe,
           round(((g.posk + 0.5) / (tot.pos + 0.5)
                  - (g.negk + 0.5) / (tot.neg + 0.5))
                 * ln(((g.posk + 0.5) / (tot.pos + 0.5))
                      / ((g.negk + 0.5) / (tot.neg + 0.5))), 9) AS iv_term
    FROM g CROSS JOIN tot
    """


@oracle("train_ridge_normal_eq")
def _ridge_oracle() -> str:
    lam = repr(_RIDGE_LAMBDA)
    return f"""
    WITH feat AS (
      SELECT CAST(o.o_totalprice AS DECIMAL(18,2)) AS y,
             CAST(COUNT(*) AS BIGINT) AS x1,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS x2
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ),
    gram AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS sx1,
             SUM(x2) AS sx2,
             CAST(SUM(x1 * x1) AS BIGINT) AS s11,
             SUM(x1 * x2) AS s12,
             SUM(x2 * x2) AS s22,
             SUM(y) AS sy,
             SUM(x1 * y) AS s1y,
             SUM(x2 * y) AS s2y
      FROM feat
    ),
    m AS (
      SELECT CAST(n AS DOUBLE) + {lam} AS a11,
             CAST(sx1 AS DOUBLE) AS a12, CAST(sx2 AS DOUBLE) AS a13,
             CAST(sx1 AS DOUBLE) AS a21,
             CAST(s11 AS DOUBLE) + {lam} AS a22, CAST(s12 AS DOUBLE) AS a23,
             CAST(sx2 AS DOUBLE) AS a31, CAST(s12 AS DOUBLE) AS a32,
             CAST(s22 AS DOUBLE) + {lam} AS a33,
             CAST(sy AS DOUBLE) AS b1, CAST(s1y AS DOUBLE) AS b2,
             CAST(s2y AS DOUBLE) AS b3, n
      FROM gram
    ),
    solved AS (
      SELECT n,
             a11 * (a22 * a33 - a23 * a32)
             - a12 * (a21 * a33 - a23 * a31)
             + a13 * (a21 * a32 - a22 * a31) AS det,
             b1 * (a22 * a33 - a23 * a32)
             - a12 * (b2 * a33 - a23 * b3)
             + a13 * (b2 * a32 - a22 * b3) AS det0,
             a11 * (b2 * a33 - b3 * a23)
             - b1 * (a21 * a33 - a23 * a31)
             + a13 * (a21 * b3 - b2 * a31) AS det1,
             a11 * (a22 * b3 - a32 * b2)
             - a12 * (a21 * b3 - b2 * a31)
             + b1 * (a21 * a32 - a22 * a31) AS det2
      FROM m
    )
    SELECT n, round(det0 / det, 9) AS w0, round(det1 / det, 9) AS w1,
           round(det2 / det, 9) AS w2
    FROM solved
    """


@oracle("train_huber_gd")
def _huber_oracle() -> str:
    d, lr = repr(_HUBER_DELTA), repr(_HUBER_LR)
    ctes = [
        """t AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS y
      FROM lineitem
    )""",
        "it0 AS (SELECT 0.0 AS w0, 0.0 AS w1)",
    ]
    for t in range(1, _HUBER_ITERS + 1):
        resid = "(w.w0 + w.w1 * x - y)"
        g = (
            f"CASE WHEN {resid} > {d} THEN {d}"
            f" WHEN {resid} < -{d} THEN -{d} ELSE {resid} END"
        )
        ctes.append(f"""it{t} AS (
      SELECT round(w.w0 - {lr} * (CAST(SUM(CAST(round({g}, 9)
                 AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)), 9) AS w0,
             round(w.w1 - {lr} * (CAST(SUM(CAST(round(({g}) * (x / 50.0), 9)
                 AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)) / 50.0, 9) AS w1
      FROM t, it{t - 1} w GROUP BY w.w0, w.w1
    )""")
    arms = "\nUNION ALL\n".join(
        f"SELECT {t} AS iter, round(w0, 9) AS w0, round(w1, 9) AS w1"
        f" FROM it{t}"
        for t in range(1, _HUBER_ITERS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + arms


_BT_PAIRS_SQL = """
      SELECT w.p_brand AS winner, l.p_brand AS loser
      FROM (
        SELECT l_orderkey,
               MIN(CASE WHEN rw = 1 THEN l_partkey END) AS wp,
               MIN(CASE WHEN rl = 1 THEN l_partkey END) AS lp
        FROM (
          SELECT l_orderkey, l_partkey,
                 ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY l_quantity DESC, l_partkey) AS rw,
                 ROW_NUMBER() OVER (PARTITION BY l_orderkey
                   ORDER BY l_quantity, l_partkey DESC) AS rl
          FROM lineitem
        ) GROUP BY l_orderkey
      ) o
      JOIN part w ON w.p_partkey = o.wp
      JOIN part l ON l.p_partkey = o.lp
      WHERE w.p_brand <> l.p_brand
"""


@oracle("train_bradley_terry_gd")
def _bt_oracle() -> str:
    lr = repr(_BT_LR)
    ctes = [
        f"pairs AS ({_BT_PAIRS_SQL})",
        "players AS (SELECT DISTINCT p_brand AS b FROM part)",
        "it0 AS (SELECT b, 0.0 AS th FROM players)",
    ]
    for t in range(1, _BT_ITERS + 1):
        # per-pair pull = 1 - sigmoid(th_w - th_l), rounded to 12;
        # winner gains +pull, loser gains -pull; theta rounds to 9
        ctes.append(f"""g{t} AS (
      SELECT b, CAST(SUM(CAST(v AS DECIMAL(38,18))) AS DOUBLE) AS g FROM (
        SELECT p.winner AS b,
               round(1.0 - 1.0 / (1.0 + exp(-(tw.th - tl.th))), 12) AS v
        FROM pairs p
        JOIN it{t - 1} tw ON tw.b = p.winner
        JOIN it{t - 1} tl ON tl.b = p.loser
        UNION ALL
        SELECT p.loser AS b,
               -round(1.0 - 1.0 / (1.0 + exp(-(tw.th - tl.th))), 12) AS v
        FROM pairs p
        JOIN it{t - 1} tw ON tw.b = p.winner
        JOIN it{t - 1} tl ON tl.b = p.loser
      ) GROUP BY b
    ),
    it{t} AS (
      SELECT i.b, round(i.th + {lr} * COALESCE(g.g, 0.0), 9) AS th
      FROM it{t - 1} i LEFT JOIN g{t} g ON g.b = i.b
    )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    , wins AS (SELECT winner AS b, CAST(COUNT(*) AS BIGINT) AS w
               FROM pairs GROUP BY winner),
    losses AS (SELECT loser AS b, CAST(COUNT(*) AS BIGINT) AS l
               FROM pairs GROUP BY loser)
    SELECT i.b AS p_brand, round(i.th, 9) AS theta,
           COALESCE(w.w, 0) AS wins, COALESCE(l.l, 0) AS losses
    FROM it{_BT_ITERS} i
    LEFT JOIN wins w ON w.b = i.b
    LEFT JOIN losses l ON l.b = i.b
    """
    )


@oracle("train_ipw_ate")
def _train_ipw_ate_oracle() -> str:
    return f"""
    WITH pop AS (
      SELECT c.c_custkey, c.c_nationkey AS s,
             CASE WHEN c.c_mktsegment = '{_IPW_SEGMENT}' THEN 1 ELSE 0 END AS t,
             COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))),
                      CAST(0 AS DECIMAL(18,2))) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey, c.c_mktsegment
    ),
    strata AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(t) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN t = 1 THEN y END) AS DOUBLE) AS y1,
             CAST(SUM(CASE WHEN t = 0 THEN y END) AS DOUBLE) AS y0
      FROM pop GROUP BY s
    ),
    kept AS (SELECT * FROM strata WHERE n1 > 0 AND n0 > 0),
    agg AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(n1) AS BIGINT) AS nt,
             CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM(CAST(round(y1 / n1 * n - y0 / n0 * n, 9)
                  AS DECIMAL(38,18))) AS DOUBLE) AS num,
             CAST(SUM(CAST(round(y1 / n1 - y0 / n0, 9)
                  AS DECIMAL(38,18))) AS DOUBLE) AS strat_sum
      FROM kept
    )
    SELECT n_strata, nn AS n_customers, nt AS n_treated,
           round(num / nn, 9) AS ate_ipw,
           round(strat_sum / n_strata, 9) AS ate_unweighted_strata
    FROM agg
    """


@oracle("train_xicor")
def _train_xicor_oracle() -> str:
    return """
    WITH r AS (
      SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS x,
             ROW_NUMBER() OVER (
               ORDER BY CAST(p_retailprice AS DECIMAL(18,2)), p_partkey)
               AS ry
      FROM part
    ),
    seq AS (
      SELECT ry,
             LEAD(ry) OVER (ORDER BY x, p_partkey) AS ry_next
      FROM r
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(abs(ry_next - ry) AS BIGINT)) AS BIGINT) AS s
      FROM seq
    )
    SELECT n,
           round(1.0 - 3.0 * CAST(s AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n - 1.0), 9) AS xi
    FROM agg
    """


@oracle("train_spearman_corr")
def _train_spearman_corr_oracle() -> str:
    return """
    WITH r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY p_size, p_partkey) AS rx,
             ROW_NUMBER() OVER (
               ORDER BY CAST(p_retailprice AS DECIMAL(18,2)), p_partkey)
               AS ry
      FROM part
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS d2
      FROM r
    )
    SELECT n,
           round(1.0 - 6.0 * CAST(d2 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0)), 9)
             AS rho
    FROM agg
    """


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


@oracle("train_cohen_kappa")
def _kappa_oracle() -> str:
    toks = "list_filter(regexp_split_to_array(lower(coalesce(text, ''))," \
           " '[^\\w\\d]'), x -> length(x) >= 1)"
    return f"""
    WITH flags AS (
      SELECT CASE WHEN len(t) >= {_KAPPA_MIN_TOKENS} THEN 1 ELSE 0 END AS a,
             CASE WHEN len(t) > 0 AND
                       CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
                         >= {_KAPPA_MIN_TTR!r}
                  THEN 1 ELSE 0 END AS b
      FROM (SELECT {toks} AS t FROM documents)
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM flags
    )
    SELECT n, n11, n10, n01, n00,
           round((CAST(n11 + n00 AS DOUBLE) / n
                  - (CAST(n11 + n10 AS DOUBLE) / n
                     * CAST(n11 + n01 AS DOUBLE) / n
                     + CAST(n01 + n00 AS DOUBLE) / n
                     * CAST(n10 + n00 AS DOUBLE) / n))
                 / (1.0 - (CAST(n11 + n10 AS DOUBLE) / n
                           * CAST(n11 + n01 AS DOUBLE) / n
                           + CAST(n01 + n00 AS DOUBLE) / n
                           * CAST(n10 + n00 AS DOUBLE) / n)), 9) AS kappa
    FROM cells
    """


@oracle("train_kendall_tau")
def _train_kendall_tau_oracle() -> str:
    return f"""
    WITH cells AS (
      SELECT CAST(p_size AS INT) AS x,
             CAST(floor(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE)
                        / {_KT_BUCKET!r}) AS INT) AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM part GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    tx AS (
      SELECT CAST(SUM(CAST(t * (t - 1) / 2 AS BIGINT)) AS BIGINT) AS n1
      FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY x)
    ),
    ty AS (
      SELECT CAST(SUM(CAST(t * (t - 1) / 2 AS BIGINT)) AS BIGINT) AS n2
      FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY y)
    ),
    cd AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN a.y < b.y THEN a.c * b.c END), 0)
             AS BIGINT) AS concordant,
        CAST(COALESCE(SUM(CASE WHEN a.y > b.y THEN a.c * b.c END), 0)
             AS BIGINT) AS discordant
      FROM cells a JOIN cells b ON a.x < b.x
    )
    SELECT n, concordant, discordant,
           round(CAST(concordant - discordant AS DOUBLE) /
                 sqrt((CAST(n AS DOUBLE) * (n - 1) / 2 - n1)
                      * (CAST(n AS DOUBLE) * (n - 1) / 2 - n2)), 9) AS tau_b
    FROM tot, tx, ty, cd
    """


@oracle("train_mann_whitney")
def _train_mann_whitney_oracle() -> str:
    return """
    WITH vals AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT c1, c2, c1 + c2 AS c,
             SUM(c1 + c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - (c1 + c2) AS before_
      FROM vals
    ),
    agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(SUM(CAST(c1 * (before_ + (c + 1) / 2.0)
                           AS DECIMAL(38,1))) AS DOUBLE) AS r1,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
      FROM ranked
    )
    SELECT n1, n2,
           round(r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0, 9) AS u1,
           round((r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0
                  - CAST(n1 AS DOUBLE) * n2 / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                        * ((n1 + n2 + 1)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
                 9) AS z
    FROM agg
    """


@oracle("train_wilcoxon_signed_rank")
def _train_wilcoxon_signed_rank_oracle() -> str:
    return """
    WITH paired AS (
      SELECT o_custkey,
             CAST(COALESCE(SUM(CASE WHEN o_orderkey % 2 = 0
                                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                               END), 0) AS DECIMAL(18,2))
             - CAST(COALESCE(SUM(CASE WHEN o_orderkey % 2 = 1
                                      THEN CAST(o_totalprice AS DECIMAL(18,2))
                                 END), 0) AS DECIMAL(18,2)) AS d
      FROM orders GROUP BY 1
    ),
    vals AS (
      SELECT abs(d) AS ad,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM paired WHERE d <> 0 GROUP BY 1
    ),
    ranked AS (
      SELECT cpos, c,
             SUM(c) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
               AS before_
      FROM vals
    ),
    agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(cpos * (before_ + (c + 1) / 2.0)
                           AS DECIMAL(38,1))) AS DOUBLE) AS w_plus,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie3
      FROM ranked
    )
    SELECT n, round(w_plus, 9) AS w_plus,
           round((w_plus - CAST(n AS DOUBLE) * (n + 1) / 4.0)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                        - CAST(tie3 AS DOUBLE) / 48.0), 9) AS z
    FROM agg
    """


@oracle("train_cramers_v")
def _train_cramers_v_oracle() -> str:
    return """
    WITH cells AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM customer GROUP BY 1, 2
    ),
    rowt AS (SELECT nk, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY 1),
    colt AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(obs) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT nk) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT seg) AS BIGINT) AS c
      FROM cells
    ),
    chi AS (
      SELECT CAST(SUM(CAST(round(
               (obs - CAST(rt AS DOUBLE) * ct / t.n)
               * (obs - CAST(rt AS DOUBLE) * ct / t.n)
               / (CAST(rt AS DOUBLE) * ct / t.n), 12)
               AS DECIMAL(38,18))) AS DOUBLE) AS chi2
      FROM cells
      JOIN rowt USING (nk) JOIN colt USING (seg) CROSS JOIN tot t
    )
    SELECT n, r, c, round(chi2, 9) AS chi2,
           round(sqrt(chi2 / (CAST(n AS DOUBLE)
                              * least(r - 1, c - 1))), 9) AS v
    FROM tot, chi
    """


_DAILY_SQL = """
    daily AS (
      SELECT o_orderdate AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS yd,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y,
             CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate) AS BIGINT) AS x
      FROM orders GROUP BY 1
    )"""


def _ols_ab_sql(src: str) -> str:
    """Closed-form simple-OLS (a, b) over ``src`` (needs x, y), both
    rounded to 12 so downstream residuals are identical doubles in
    both engines."""
    return f"""(
      SELECT round((sxy - sx * sy / n) / (sxx - sx * sx / n), 12) AS b,
             round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                   * sx / n, 12) AS a
      FROM (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(yd) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(18,0)) * yd) AS DOUBLE) AS sxy
        FROM {src}
      )
    )"""


@oracle("train_durbin_watson")
def _train_durbin_watson_oracle() -> str:
    return f"""
    WITH {_DAILY_SQL},
    fit AS {_ols_ab_sql("daily")},
    resid AS (
      SELECT x, round(y - (f.a + f.b * x), 9) AS e
      FROM daily, fit f
    ),
    lagged AS (
      SELECT e, lag(e) OVER (ORDER BY x) AS ep FROM resid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           round((SELECT b FROM fit), 9) AS slope,
           round((SELECT a FROM fit), 9) AS intercept,
           round(CAST(SUM(CASE WHEN ep IS NOT NULL THEN
                     CAST(round((e - ep) * (e - ep), 6) AS DECIMAL(38,6))
                   END) AS DOUBLE)
                 / CAST(SUM(CAST(round(e * e, 6) AS DECIMAL(38,6)))
                        AS DOUBLE), 9) AS dw
    FROM lagged
    """


@oracle("train_chow_test")
def _train_chow_test_oracle() -> str:
    return f"""
    WITH {_DAILY_SQL},
    seg AS (
      SELECT x, yd, y, CASE WHEN d < DATE '{_DW_SPLIT}' THEN 0 ELSE 1 END
        AS s
      FROM daily
    ),
    fitp AS {_ols_ab_sql("seg")},
    fits AS (
      SELECT s, round((sxy - sx * sy / n) / (sxx - sx * sx / n), 12) AS b,
             round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                   * sx / n, 12) AS a
      FROM (
        SELECT s, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(yd) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(18,0)) * yd) AS DOUBLE) AS sxy
        FROM seg GROUP BY s
      )
    ),
    ssr AS (
      SELECT
        CAST(SUM(CASE WHEN g.s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN g.s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CAST(round(g.y - (p.a + p.b * g.x), 6) AS DECIMAL(19,6))
               * CAST(round(g.y - (p.a + p.b * g.x), 6) AS DECIMAL(18,6)))
          AS DOUBLE) AS ssr_pooled,
        CAST(SUM(CAST(round(g.y - (f.a + f.b * g.x), 6) AS DECIMAL(19,6))
               * CAST(round(g.y - (f.a + f.b * g.x), 6) AS DECIMAL(18,6)))
          AS DOUBLE) AS ssr_split
      FROM seg g JOIN fits f ON f.s = g.s CROSS JOIN fitp p
    )
    SELECT n1, n2, ssr_pooled, ssr_split,
           round(((ssr_pooled - ssr_split) / 2.0)
                 / (ssr_split / (n1 + n2 - 4.0)), 9) AS f_stat
    FROM ssr
    """


@oracle("train_poisson_irls")
def _poisson_irls_oracle() -> str:
    base = """
    base AS (
      SELECT CAST(COALESCE(o.cnt, 0) AS DOUBLE) AS y,
             CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) / 1000.0 AS x
      FROM customer c
      LEFT JOIN (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
      ) o ON o.o_custkey = c.c_custkey
    ),
    it0 AS (
      SELECT round(ln(SUM(y) / COUNT(*)), 9) AS b0, 0.0 AS b1 FROM base
    )"""
    ctes = [base]
    for t in range(1, _PIRLS_ITERS + 1):
        mu = "exp(p.b0 + p.b1 * x)"
        z = f"(p.b0 + p.b1 * x) + (y - {mu}) / {mu}"
        ctes.append(f"""
    it{t} AS (
      SELECT round((sw * swxz - swx * swz) / (sw * swxx - swx * swx), 9)
               AS b1,
             round((swz - ((sw * swxz - swx * swz)
                           / (sw * swxx - swx * swx)) * swx) / sw, 9) AS b0
      FROM (
        SELECT
          CAST(SUM(CAST(round({mu}, 12) AS DECIMAL(38,18))) AS DOUBLE) AS sw,
          CAST(SUM(CAST(round({mu} * x, 12) AS DECIMAL(38,18))) AS DOUBLE)
            AS swx,
          CAST(SUM(CAST(round({mu} * x * x, 12) AS DECIMAL(38,18)))
               AS DOUBLE) AS swxx,
          CAST(SUM(CAST(round({mu} * ({z}), 12) AS DECIMAL(38,18)))
               AS DOUBLE) AS swz,
          CAST(SUM(CAST(round({mu} * x * ({z}), 12) AS DECIMAL(38,18)))
               AS DOUBLE) AS swxz
        FROM base, it{t - 1} p
      )
    )""")
    arms = "\nUNION ALL\n".join(
        f"SELECT {t} AS iter, b0, b1 FROM it{t}"
        for t in range(1, _PIRLS_ITERS + 1)
    )
    return "WITH " + ",".join(ctes) + "\n" + arms


@oracle("train_rbo")
def _train_rbo_oracle() -> str:
    return f"""
    WITH revs AS (
      SELECT l_partkey AS pk,
             CASE WHEN l_shipdate < DATE '{_RBO_SPLIT}' THEN 0 ELSE 1 END
               AS half,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT pk, half,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY half ORDER BY rev DESC, pk) AS BIGINT) AS r
      FROM revs
    ),
    topa AS (SELECT pk, r AS ra FROM ranked WHERE half = 0 AND r <= {_RBO_K}),
    topb AS (SELECT pk, r AS rb FROM ranked WHERE half = 1 AND r <= {_RBO_K}),
    terms AS (
      SELECT d, CAST(round(pow({_RBO_P!r}, d - 1) / d, 12)
                     AS DECIMAL(38,18)) AS term
      FROM (SELECT unnest(range(1, {_RBO_K} + 1)) AS d)
    ),
    wtab AS (
      SELECT d, SUM(term) OVER (ORDER BY d
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tail
      FROM terms
    ),
    hits AS (
      SELECT greatest(a.ra, b.rb) AS m
      FROM topa a JOIN topb b USING (pk)
    )
    SELECT CAST({_RBO_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS overlap,
           round({1.0 - _RBO_P!r}
                 * CAST(COALESCE(SUM(w.tail), 0) AS DOUBLE), 9) AS rbo
    FROM hits h JOIN wtab w ON w.d = h.m
    """
