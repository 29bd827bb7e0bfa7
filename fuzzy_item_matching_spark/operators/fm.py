"""Engine-native factorization machine (Rendle 2010), rank-k, fit by
deterministic full-batch gradient descent — the feature-interaction
model family the repo's linear (logreg), boosted-tree, bagged-tree and
ALS fits don't cover: pairwise interactions are factorized as
ŷ = w₀ + Σ wⱼxⱼ + ½ Σ_f [(Σⱼ v_{jf}xⱼ)² − Σⱼ v_{jf}²xⱼ²],
so interaction weights cost O(nk) parameters instead of O(n²) and the
per-row forward/backward pass is the O(nk) sum-of-squares trick from
the paper — no pairwise expansion anywhere.

Fit discipline is the logreg/gboost house pattern (operators/logreg.py):
every iteration is ONE pass over the cached pair frame producing the
full gradient as DECIMAL(38,18) map-side-combinable sums; the weight
state is a 1-row broadcast frame; parameters round to 9 decimals at
every iteration boundary so libm last-ulp drift can't compound. Both
engines evaluate the SAME generated expression strings (built once by
`_fm_exprs`), so the IEEE trees are identical by construction and the
whole fit trace is exact-oracle-checkable.

Reference scope: the reference's interaction modeling is XGBoost's
implicit tree crossings (`03_Train & Deploy Model.py:119-305`); the FM
is the factorized-interaction counterpart recommendation/CTR stacks
pair with it.

The DuckDB twin lives in ``oracles/fm.py``, outside the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_DIGITS = 9


def fm_param_names(n_feat: int, k: int) -> list[str]:
    """w0, w1..wn, then v{j}{f} for feature j=1..n, factor f=1..k."""
    names = ["w0"] + [f"w{j}" for j in range(1, n_feat + 1)]
    for j in range(1, n_feat + 1):
        for f in range(1, k + 1):
            names.append(f"v{j}{f}")
    return names


def fm_init(n_feat: int, k: int) -> dict[str, float]:
    """Deterministic non-zero factor init (v ≡ 0 is a saddle: the
    factor gradient is identically zero there). Literal grid — no
    RNG, identical in both engines by construction."""
    init = {n: 0.0 for n in fm_param_names(n_feat, k)}
    for j in range(1, n_feat + 1):
        for f in range(1, k + 1):
            init[f"v{j}{f}"] = round(0.05 * j - 0.02 * (f - 1), 9)
    return init


def _fm_exprs(
    features: list[str], k: int
) -> tuple[str, dict[str, str]]:
    """(ŷ expression, per-parameter gradient-term expression) as SQL
    strings over bare feature names and `w.`-prefixed parameters —
    evaluated verbatim by BOTH engines."""
    n = len(features)
    s_f = {
        f: "("
        + " + ".join(f"w.v{j}{f} * {features[j - 1]}" for j in range(1, n + 1))
        + ")"
        for f in range(1, k + 1)
    }
    q_f = {
        f: "("
        + " + ".join(
            f"w.v{j}{f} * w.v{j}{f} * {features[j - 1]} * {features[j - 1]}"
            for j in range(1, n + 1)
        )
        + ")"
        for f in range(1, k + 1)
    }
    inter = " + ".join(
        f"({s_f[f]} * {s_f[f]} - {q_f[f]})" for f in range(1, k + 1)
    )
    linear = " + ".join(
        f"w.w{j} * {features[j - 1]}" for j in range(1, n + 1)
    )
    yhat = f"(w.w0 + {linear} + 0.5 * ({inter}))"
    g = f"({yhat} - label)"
    grads = {"w0": g}
    for j in range(1, n + 1):
        grads[f"w{j}"] = f"{g} * {features[j - 1]}"
    for j in range(1, n + 1):
        x = features[j - 1]
        for f in range(1, k + 1):
            grads[f"v{j}{f}"] = (
                f"{g} * ({x} * {s_f[f]} - w.v{j}{f} * {x} * {x})"
            )
    return yhat, grads


def fm_gd_fit(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    iters: int = 6,
    lr: float = 0.01,
    k: int = 2,
) -> DataFrame:
    """Fit the rank-``k`` FM by full-batch GD on squared loss; return
    the full fit trace (iter, coef, weight) — the oracle replays every
    iteration, so drift is caught where it appears (the logreg
    convention)."""
    names = fm_param_names(len(features), k)
    yhat, grads = _fm_exprs(features, k)
    pw = pairs.select(
        F.col(label).cast("double").alias("label"), *features
    ).persist()
    if not pw.take(1):
        # the gboost guard's convention: an all-NULL weight trace from
        # empty-sum gradients would be a silent degenerate
        pw.unpersist()
        raise ValueError(
            "fm fit: empty training frame — no gradient exists"
        )
    init = fm_init(len(features), k)
    w = pairs.sparkSession.createDataFrame(
        [tuple(init[n] for n in names)],
        ", ".join(f"{n} double" for n in names),
    )
    den = "CAST(COUNT(*) AS DOUBLE)"
    traces = []
    for t in range(1, iters + 1):
        joined = pw.crossJoin(F.broadcast(w.alias("w")))
        updates = [
            F.expr(
                f"round(min(w.{n}) - {lr!r} * "
                f"(CAST(SUM(CAST({grads[n]} AS DECIMAL(38,18)))"
                f" AS DOUBLE) / {den}), {ROUND_DIGITS})"
            ).alias(n)
            for n in names
        ]
        # eager 1-row materialization — see logistic_gd_fit's note on
        # the O(K²) re-derivation without it
        w = joined.agg(*updates).localCheckpoint(eager=True)
        traces.append(
            w.select(
                F.lit(t).alias("iter"),
                F.expr(
                    "stack({}, {})".format(
                        len(names),
                        ", ".join(f"'{n}', {n}" for n in names),
                    )
                ).alias("coef", "weight"),
            )
        )
    # the trace reads only the eager checkpoints
    pw.unpersist()
    out = traces[0]
    for tr in traces[1:]:
        out = out.unionByName(tr)
    return out
