"""Relational-core queries vs DuckDB oracle at sf0.01 (driver's t2 gate)."""

from __future__ import annotations

import pytest

from fuzzy_item_matching_spark.queries import load_all
from oracles import oracle_sql
from tests.conftest import SF_CHECK, assert_matches_oracle

REGISTRY = load_all()
ORACLES = oracle_sql()
REL_NAMES = sorted(n for n in REGISTRY if n.startswith("rel_"))


@pytest.mark.parametrize("name", REL_NAMES)
def test_relational_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert name in ORACLES, f"{name} must carry an exact oracle"
    df = q.fn(spark, SF_CHECK)
    assert_matches_oracle(df, duck, ORACLES[name])


def test_histo_quantile_within_one_bin_of_exact(spark):
    """The histogram estimate must sit within one bin width of the
    exact interpolated quantile (the sketch's documented error
    bound)."""
    from pyspark.sql import functions as F

    from fuzzy_item_matching_spark.queries import load_all
    from fuzzy_item_matching_spark.tables import load_table

    from .conftest import SF_CHECK

    est = load_all()["rel_histo_quantiles"].fn(spark, SF_CHECK).collect()
    li = load_table(spark, SF_CHECK, "lineitem")
    exact = {
        (r["l_returnflag"], q): r[f"p{q}"]
        for q in (0.5, 0.9, 0.99)
        for r in li.groupBy("l_returnflag")
        .agg(F.expr(f"percentile(cast(l_extendedprice as double), {q})").alias(f"p{q}"))
        .collect()
    }
    widths = {
        r["l_returnflag"]: (r["mx"] - r["mn"]) / 64
        for r in li.groupBy("l_returnflag")
        .agg(
            F.min(F.col("l_extendedprice").cast("double")).alias("mn"),
            F.max(F.col("l_extendedprice").cast("double")).alias("mx"),
        )
        .collect()
    }
    assert len(est) == 9
    for r in est:
        w = widths[r["l_returnflag"]]
        assert abs(r["est"] - exact[(r["l_returnflag"], r["q"])]) <= w + 1e-9


def test_bucketed_range_join_equals_nonequi_join(spark):
    """The bucket decomposition must lose nothing: per-(user, session)
    view counts equal the naive non-equi (BETWEEN) join's counts."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fuzzy_item_matching_spark.queries import load_all
    from fuzzy_item_matching_spark.queries.relational import _SESSION_GAP_S
    from fuzzy_item_matching_spark.tables import load_table

    from .conftest import SF_CHECK

    got = {
        (r.user_id, r.session_id): (r.n_views, r.first_view, r.last_view)
        for r in load_all()["rel_bucketed_range_join"].fn(spark, SF_CHECK).collect()
    }
    e = load_table(spark, SF_CHECK, "events").select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    clicks = e.filter(F.col("event_type") == "click")
    sess = (
        clicks.select(
            "*",
            F.when(
                F.lag("sec").over(w).isNull()
                | (F.col("sec") - F.lag("sec").over(w) > _SESSION_GAP_S),
                1,
            ).otherwise(0).alias("ns"),
        )
        .withColumn(
            "session_id",
            F.sum("ns").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).cast("long"),
        )
        .groupBy("user_id", "session_id")
        .agg((F.min("sec") - 1800).alias("lo"), (F.max("sec") + 1800).alias("hi"))
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("sec").alias("vsec")
    )
    naive = (
        views.join(
            sess,
            (F.col("vu") == F.col("user_id"))
            & (F.col("vsec") >= F.col("lo"))
            & (F.col("vsec") <= F.col("hi")),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vsec").alias("fv"),
            F.max("vsec").alias("lv"),
        )
        .collect()
    )
    want = {(r.user_id, r.session_id): (r.n, r.fv, r.lv) for r in naive}
    assert got == want and got
