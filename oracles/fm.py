"""DuckDB twin of operators/fm.py: the factorization-machine
gradient-descent fit.
"""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.fm import (
    ROUND_DIGITS,
    _fm_exprs,
    fm_init,
    fm_param_names,
)


def fm_gd_sql(
    pairs_sql: str,
    features: list[str],
    iters: int = 6,
    lr: float = 0.01,
    k: int = 2,
    final_select: str | None = None,
) -> str:
    """DuckDB twin of :func:`fm_gd_fit` — the same `_fm_exprs`
    strings, DECIMAL(38,18) sums, per-iteration round-to-9, unrolled
    one CTE per iteration (the logistic_gd_sql convention)."""
    names = fm_param_names(len(features), k)
    yhat, grads = _fm_exprs(features, k)
    init = fm_init(len(features), k)
    den = "CAST(COUNT(*) AS DOUBLE)"
    ctes = [
        "pw AS (SELECT CAST(label AS DOUBLE) AS label, "
        + ", ".join(features)
        + " FROM pairs)",
        "it0 AS (SELECT "
        + ", ".join(f"{init[n]!r} AS {n}" for n in names)
        + ")",
    ]
    for t in range(1, iters + 1):
        cols = [
            f"round(w.{n} - {lr!r} * "
            f"(CAST(SUM(CAST({grads[n]} AS DECIMAL(38,18)))"
            f" AS DOUBLE) / {den}), {ROUND_DIGITS}) AS {n}"
            for n in names
        ]
        ctes.append(
            f"it{t} AS (SELECT "
            + ", ".join(cols)
            + f" FROM pw, it{t - 1} w GROUP BY "
            + ", ".join(f"w.{n}" for n in names)
            + ")"
        )
    arms = [
        f"SELECT {t} AS iter, '{n}' AS coef, {n} AS weight FROM it{t}"
        for t in range(1, iters + 1)
        for n in names
    ]
    tail = final_select if final_select else "\nUNION ALL\n".join(arms)
    return (
        "WITH pairs AS (" + pairs_sql + "),\n" + ",\n".join(ctes) + "\n" + tail
    )
