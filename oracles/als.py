"""DuckDB twin of operators/als.py: the rank-2 alternating least
squares fit.
"""

from __future__ import annotations


def als_rank2_sql(
    ratings_sql: str,
    iters: int = 2,
    reg: float = 0.5,
    final_select: str | None = None,
) -> str:
    """DuckDB twin of :func:`als_rank2_fit` — identical expression
    trees, DECIMAL(38,18) accumulation, per-half-step round-to-9.
    ``ratings_sql`` must yield columns (u, i, r). ``final_select``
    swaps the fit-trace arms for a caller SELECT over any CTE — the
    serving oracles score through u{iters}/v{iters} while replaying
    the fit in the same statement (the logistic_gd_sql discipline)."""

    def solve(name: str, prev: str, key: str, jkey: str) -> str:
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
        det = f"((a11 + {reg!r}) * (a22 + {reg!r}) - a12 * a12)"
        return (
            f"{name} AS (SELECT {key},"
            f" round(((a22 + {reg!r}) * b1 - a12 * b2) / {det}, 9) AS f1,"
            f" round(((a11 + {reg!r}) * b2 - a12 * b1) / {det}, 9) AS f2"
            f" FROM (SELECT r.{key}, {sums}"
            f" FROM ratings r JOIN {prev} f USING ({jkey})"
            f" GROUP BY r.{key}))"
        )

    ctes = [
        "ratings AS (" + ratings_sql + ")",
        "v0 AS (SELECT i,"
        " 1.0 + CAST(i % 7 AS DOUBLE) / 8.0 AS f1,"
        " 1.0 - CAST(i % 5 AS DOUBLE) / 8.0 AS f2"
        " FROM (SELECT DISTINCT i FROM ratings))",
    ]
    arms = []
    step = 0
    prev_v = "v0"
    for t in range(1, iters + 1):
        step += 1
        ctes.append(solve(f"u{t}", prev_v, "u", "i"))
        arms.append(
            f"SELECT {step} AS step, 'u' AS side, u AS id, f1, f2 FROM u{t}"
        )
        step += 1
        ctes.append(solve(f"v{t}", f"u{t}", "i", "u"))
        arms.append(
            f"SELECT {step} AS step, 'i' AS side, i AS id, f1, f2 FROM v{t}"
        )
        prev_v = f"v{t}"
    tail = final_select if final_select else "\nUNION ALL\n".join(arms)
    return "WITH " + ",\n".join(ctes) + "\n" + tail
