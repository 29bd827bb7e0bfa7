"""DuckDB twins of operators/logreg.py: the unrolled gradient-descent
fits.
"""

from __future__ import annotations


def logistic_gd_sql(
    pairs_sql: str,
    features: list[str],
    iters: int = 8,
    lr: float = 0.5,
    final_select: str | None = None,
) -> str:
    """DuckDB twin of :func:`logistic_gd_fit` — identical expression
    trees, DECIMAL(38,18) accumulation, per-iteration round-to-9.
    ``pairs_sql`` must yield columns ``label`` + ``features`` (named
    x1..xk in the emitted SQL is NOT required — the caller's names are
    used verbatim). ``final_select`` swaps the default fit-trace arms
    for a caller-provided SELECT that may reference any CTE —
    serving oracles score through ``it{iters}`` (the final weights)
    while replaying the fit in the same statement (the
    adaboost_score discipline: fit + serve verified together)."""
    names = ["w0"] + [f"w{j + 1}" for j in range(len(features))]
    z = " + ".join(
        ["w.w0"] + [f"w.w{j + 1} * {f}" for j, f in enumerate(features)]
    )
    p = f"(1.0 / (1.0 + exp(-({z}))))"
    resid = f"sw * ({p} - label)"
    den = "CAST(SUM(CAST(sw AS DECIMAL(38,18))) AS DOUBLE)"
    ctes = [
        "cw AS (SELECT"
        " CAST(COUNT(*) AS DOUBLE) / (2.0 * CAST(SUM(label) AS DOUBLE))"
        " AS wpos,"
        " CAST(COUNT(*) AS DOUBLE)"
        " / (2.0 * CAST(COUNT(*) - SUM(label) AS DOUBLE)) AS wneg"
        " FROM pairs)",
        "pw AS (SELECT label,"
        " CASE WHEN label = 1 THEN wpos ELSE wneg END AS sw, "
        + ", ".join(features)
        + " FROM pairs, cw)",
        "it0 AS (SELECT " + ", ".join(f"0.0 AS {n}" for n in names) + ")",
    ]
    for t in range(1, iters + 1):
        cols = []
        for j, n in enumerate(names):
            term = resid if j == 0 else f"{resid} * {features[j - 1]}"
            num = f"CAST(SUM(CAST({term} AS DECIMAL(38,18))) AS DOUBLE)"
            cols.append(
                f"round(w.{n} - {lr!r} * ({num} / {den}), 9) AS {n}"
            )
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
        "WITH pairs AS (" + pairs_sql + "),\n"
        + ",\n".join(ctes)
        + "\n"
        + tail
    )


def sparse_logistic_gd_sql(
    rows_sql: str,
    postings_sql: str,
    n_features: int,
    iters: int = 4,
    lr: float = 0.5,
) -> str:
    """DuckDB twin of :func:`sparse_logistic_gd_fit`: identical sparse
    aggregation structure, DECIMAL accumulation, round-to-9. A feature
    with no postings keeps w = 0 via the LEFT join + COALESCE, exactly
    as the Spark side does."""
    ctes = [
        "rows_in AS (" + rows_sql + ")",
        "post AS (" + postings_sql + ")",
        "cw AS (SELECT"
        " CAST(COUNT(*) AS DOUBLE) / (2.0 * CAST(SUM(label) AS DOUBLE))"
        " AS wpos,"
        " CAST(COUNT(*) AS DOUBLE)"
        " / (2.0 * CAST(COUNT(*) - SUM(label) AS DOUBLE)) AS wneg"
        " FROM rows_in)",
        "pw AS (SELECT row_id, label,"
        " CASE WHEN label = 1 THEN wpos ELSE wneg END AS sw"
        " FROM rows_in, cw)",
        "den AS (SELECT CAST(SUM(CAST(sw AS DECIMAL(38,18))) AS DOUBLE)"
        " AS d FROM pw)",
        "w0 AS (SELECT unnest(generate_series(0, "
        f"{n_features})) AS j, 0.0 AS w)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"z{t} AS (SELECT p.row_id,"
            " CAST(SUM(CAST(w.w * p.x AS DECIMAL(38,18))) AS DOUBLE) AS z"
            f" FROM post p JOIN w{t - 1} w USING (j) GROUP BY p.row_id)"
        )
        ctes.append(
            f"r{t} AS (SELECT pw.row_id,"
            " sw * (1.0 / (1.0 + exp(-(z.z))) - label) AS resid"
            f" FROM pw JOIN z{t} z USING (row_id))"
        )
        ctes.append(
            f"g{t} AS (SELECT p.j,"
            " CAST(SUM(CAST(r.resid * p.x AS DECIMAL(38,18))) AS DOUBLE)"
            f" AS g FROM post p JOIN r{t} r USING (row_id) GROUP BY p.j)"
        )
        ctes.append(
            f"w{t} AS (SELECT w.j,"
            f" round(w.w - {lr!r} * (COALESCE(g.g, 0.0) / den.d), 9) AS w"
            f" FROM w{t - 1} w LEFT JOIN g{t} g USING (j), den)"
        )
    arms = [
        f"SELECT {t} AS iter, CAST(j AS INT) AS j, w FROM w{t}"
        for t in range(1, iters + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(arms)


def quantile_gd_sql(
    pairs_sql: str,
    features: list[str],
    tau: float = 0.9,
    iters: int = 6,
    lr: float = 0.5,
) -> str:
    """DuckDB twin of :func:`quantile_gd_fit` — identical expression
    trees, DECIMAL(38,18) numerators, per-iteration round-to-9."""
    names = ["w0"] + [f"w{j + 1}" for j in range(len(features))]
    z = " + ".join(
        ["w.w0"] + [f"w.w{j + 1} * {f}" for j, f in enumerate(features)]
    )
    resid = f"((CASE WHEN label < ({z}) THEN 1.0 ELSE 0.0 END) - {tau!r})"
    den = "CAST(COUNT(*) AS DOUBLE)"
    ctes = [
        "pw AS (SELECT label, " + ", ".join(features) + " FROM pairs)",
        "it0 AS (SELECT " + ", ".join(f"0.0 AS {n}" for n in names) + ")",
    ]
    for t in range(1, iters + 1):
        cols = []
        for j, n in enumerate(names):
            term = resid if j == 0 else f"{resid} * {features[j - 1]}"
            num = f"CAST(SUM(CAST({term} AS DECIMAL(38,18))) AS DOUBLE)"
            cols.append(
                f"round(w.{n} - {lr!r} * ({num} / {den}), 9) AS {n}"
            )
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
    return (
        "WITH pairs AS (" + pairs_sql + "),\n"
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(arms)
    )
