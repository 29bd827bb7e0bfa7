"""Engine-native ALS matrix factorization (rank 2, implicit feedback)
— alternating closed-form ridge solves expressed as chained Spark
aggregations.

The reference matches items by content similarity; a production item
matcher also exploits the COLLABORATIVE signal (items bought by the
same customers are related even when their names are not). MLlib ships
`ALS`, but like its L-BFGS logistic regression its solver is
order-sensitive (blocked Cholesky over float accumulations), so its
output cannot be exact-oracle-checked. This operator fixes rank at 2,
where the per-entity ridge normal equations

    (Fᵀ F + λI) x = Fᵀ r

have a CLOSED-FORM 2×2 solution — a pure algebraic function of five
per-entity sums {Σf1², Σf1f2, Σf2², Σf1·r, Σf2·r}. Each half-step
(solve all users given item factors, or vice versa) is therefore ONE
keyed join + ONE hash aggregation + a projection; no per-entity matrix
library, no collect, no Python in the loop. That is the map-side-
combinable shape that scales: at 100 TB of ratings a half-step is a
single shuffle keyed on the entity id, and the factor state is a FRAME
(one row per entity) that distributes like any other table — the join
against ratings is keyed, never broadcast-forced, so AQE may broadcast
it at test scale while the 10⁸-item production state shuffles.

Determinism (exact-oracle-checkable, like operators/logreg.py):
- item-factor init is a dyadic-rational function of the id
  (1 ± (id % k)/8 — exactly representable doubles);
- the five sums accumulate as DECIMAL(38,18) of fixed-expression-tree
  double products — exact, order-insensitive;
- the 2×2 solve is a fixed IEEE expression tree on those exact sums,
  and factors round to 9 decimals at every half-step boundary, so a
  last-ulp division disagreement is squashed before it can compound.

Reference anchor: `03_Train & Deploy Model.py` fits the match model on
engineered pair features; ALS supplies the behavioral feature family
the reference leaves on the table.

The DuckDB twin lives in ``oracles/als.py``, outside the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_DIGITS = 9


def _dsum(expr):
    return F.sum(expr.cast("decimal(38,18)")).cast("double")


def _init_factors(ids: DataFrame, key: str) -> DataFrame:
    """Deterministic dyadic init: f = 1 ± (id % k)/8, exact doubles."""
    return ids.select(
        F.col(key),
        (1.0 + (F.col(key) % 7).cast("double") / 8.0).alias("f1"),
        (1.0 - (F.col(key) % 5).cast("double") / 8.0).alias("f2"),
    )


def _solve_side(
    ratings: DataFrame, factors: DataFrame, solve_key: str, join_key: str, reg: float
) -> DataFrame:
    """One ALS half-step: ridge-solve every `solve_key` entity given the
    other side's factors. One keyed join, one aggregation, one
    projection — the whole half-step is a single shuffle at any scale."""
    j = ratings.join(factors, join_key)
    s = j.groupBy(solve_key).agg(
        _dsum(F.col("f1") * F.col("f1")).alias("a11"),
        _dsum(F.col("f1") * F.col("f2")).alias("a12"),
        _dsum(F.col("f2") * F.col("f2")).alias("a22"),
        _dsum(F.col("f1") * F.col("r")).alias("b1"),
        _dsum(F.col("f2") * F.col("r")).alias("b2"),
    )
    lam = F.lit(reg)
    det = (F.col("a11") + lam) * (F.col("a22") + lam) - F.col("a12") * F.col("a12")
    return s.select(
        solve_key,
        F.round(
            ((F.col("a22") + lam) * F.col("b1") - F.col("a12") * F.col("b2")) / det,
            ROUND_DIGITS,
        ).alias("f1"),
        F.round(
            ((F.col("a11") + lam) * F.col("b2") - F.col("a12") * F.col("b1")) / det,
            ROUND_DIGITS,
        ).alias("f2"),
    )


def als_rank2_fit(
    ratings: DataFrame, iters: int = 2, reg: float = 0.5
) -> DataFrame:
    """Fit rank-2 ALS on ``ratings`` (columns u, i, r) and return the
    full fit trace (step, side, id, f1, f2) — step 2t-1 is the user
    solve of sweep t, step 2t the item solve. The trace (not just the
    final factors) is the verification surface: the DuckDB oracle
    replays every half-step, so drift is caught where it appears.

    The Python loop chains 2·iters aggregation subplans (the
    logreg/pagerank discipline — no driver loop over DATA); each factor
    state is localCheckpoint'ed eagerly so later half-steps reuse the
    materialized state instead of re-deriving the whole chain (O(K²)
    otherwise). Nothing is collected to the driver.
    """
    ratings = ratings.persist()
    v = _init_factors(ratings.select("i").distinct(), "i")
    traces = []
    step = 0
    for _ in range(iters):
        step += 1
        u = _solve_side(ratings, v, "u", "i", reg).localCheckpoint(eager=True)
        traces.append(
            u.select(
                F.lit(step).alias("step"),
                F.lit("u").alias("side"),
                F.col("u").alias("id"),
                "f1",
                "f2",
            )
        )
        step += 1
        v = _solve_side(ratings, u, "i", "u", reg).localCheckpoint(eager=True)
        traces.append(
            v.select(
                F.lit(step).alias("step"),
                F.lit("i").alias("side"),
                F.col("i").alias("id"),
                "f1",
                "f2",
            )
        )
    # the trace reads only the eager checkpoints
    ratings.unpersist()
    out = traces[0]
    for tr in traces[1:]:
        out = out.unionByName(tr)
    return out
