"""Property tests for the round-10 operators — invariants the exact
oracle equivalence (driver, tests/test_all_oracles.py) can't express:
colsample_bynode's per-node draw being real and respected by the fit,
and the non-convergence guard on the star connected-components loop.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE

FEATS = ["x1", "x2", "x3"]


def _pairs(spark):
    from fuzzy_item_matching_spark.queries.training import _lr_pairs

    return _lr_pairs(spark, SF_SMOKE)


def test_col_subset_bynode_varies_across_siblings():
    """The node-keyed draw must give SIBLING nodes different feature
    menus somewhere in the tree — otherwise bynode degenerates to
    bylevel and the oracle check is vacuous. Pin the seed-13 draw the
    train_gboost_colsample_node query uses."""
    from fuzzy_item_matching_spark.operators.boosting import col_subset

    subs = {
        (t, level, n): tuple(
            col_subset(FEATS, t, level, 2.0 / 3.0, 13, node=n)
        )
        for t in (1, 2)
        for level in range(3)
        for n in range(2**level, 2 ** (level + 1))
    }
    # every subset keeps exactly 2 of 3 features, in original order
    assert all(len(s) == 2 for s in subs.values())
    # siblings diverge at (t=1, level=1) and (t=2, level=2)
    assert subs[(1, 1, 2)] != subs[(1, 1, 3)]
    assert subs[(2, 2, 5)] != subs[(2, 2, 6)]
    # node-keyed draw is independent of the level-keyed one
    level_draw = tuple(col_subset(FEATS, 1, 1, 2.0 / 3.0, 13))
    assert any(
        subs[(1, 1, n)] != level_draw for n in (2, 3)
    ), "bynode draw degenerated to the bylevel draw"


def test_gboost_bynode_fit_respects_node_menus(spark):
    """Every fitted SPLIT node's feature must come from that node's
    own subset, and the bynode model must differ from the plain
    depth-3 fit (the restriction actually bound somewhere)."""
    from fuzzy_item_matching_spark.operators.boosting import col_subset
    from fuzzy_item_matching_spark.operators.gboost_deep import gboost_deep_fit

    kw = dict(rounds=2, depth=3, colsample_bynode=2.0 / 3.0, seed=13)
    rows = gboost_deep_fit(_pairs(spark), FEATS, **kw).collect()
    assert [(r.round, r.node) for r in rows] == [
        (t, n) for t in (1, 2) for n in range(1, 8)
    ]
    for r in rows:
        level = r.node.bit_length() - 1
        allowed = col_subset(
            FEATS, r.round, level, 2.0 / 3.0, 13, node=r.node
        )
        if r.gain != 0.0:  # real splits only; fallbacks inherit parent
            assert r.feature in allowed, (r.round, r.node, r.feature)
    plain = gboost_deep_fit(_pairs(spark), FEATS, rounds=2, depth=3).collect()
    assert [(r.feature, r.thr) for r in rows] != [
        (r.feature, r.thr) for r in plain
    ], "bynode restriction never bound — pick a different seed"


def test_tpe_lite_gamma_clamp(spark):
    """gamma large enough that ceil(gamma*n) == n must not produce a
    zero-size bad set (NaN/inf acquisition); the draw clamps to
    n_obs - 1 and the search still returns a full trace."""
    from fuzzy_item_matching_spark.operators.tuning import tpe_lite

    scored = spark.createDataFrame(
        [(i % 2, (i % 10) / 10.0) for i in range(200)],
        "label int, score double",
    )
    out = tpe_lite(
        scored, 0.0, 1.0, n_init=4, rounds=1, n_candidates=8,
        k_per_round=2, gamma=0.99,
    ).collect()
    assert len(out) == 6  # 4 init + 2 evaluated proposals
    assert all(r.score is not None for r in out)


def test_pagerank_rank_join_salted_path(spark):
    """rel_pagerank_brands' docstring promises hub skew takes the
    salted-join path (operators/skew.py). Plant a hub (node 0 linked
    to every other node), run the damped power-iteration update both
    ways — plain rank join vs salted_join — and require bit-identical
    ranks, plus the salted plan actually shuffling on (key, salt)."""
    from pyspark.sql import functions as F

    from fuzzy_item_matching_spark.operators.skew import salted_join

    n = 60
    hub_edges = [(0, i, 1.0) for i in range(1, n)] + [
        (i, 0, 1.0) for i in range(1, n)
    ]
    chain = [(i, i + 1, 1.0) for i in range(1, n - 1)]
    e = spark.createDataFrame(
        hub_edges + chain, "src long, dst long, w double"
    ).persist()
    outd = e.groupBy("src").agg(F.sum("w").alias("outw"))
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    nn = float(nodes.count())
    damp = 0.85

    def iterate(r, join_fn):
        joined = join_fn(r)
        return (
            joined.join(outd, "src")
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                (
                    F.lit(1.0 - damp) / F.lit(nn)
                    + F.lit(damp)
                    * F.sum(
                        (F.col("r") * F.col("w") / F.col("outw")).cast(
                            "decimal(38,18)"
                        )
                    ).cast("double")
                ).alias("r")
            )
            .select(F.col("node2").alias("node"), "r")
        )

    r0 = nodes.select("node", (F.lit(1.0) / F.lit(nn)).alias("r"))

    plain = r0
    salted = r0
    for _ in range(3):
        plain = iterate(
            plain, lambda r: e.join(r, e.src == F.col("node")).drop("node")
        )
        salted = iterate(
            salted,
            lambda r: salted_join(
                e, r.withColumnRenamed("node", "src"), "src"
            ),
        )
    p = {row.node: row.r for row in plain.collect()}
    s = {row.node: row.r for row in salted.collect()}
    assert p == s, "salted rank join changed the ranks"
    # hub concentrates mass; sanity that the planted skew is real
    assert p[0] == max(p.values())
    # plan pin: the salted join's shuffle key includes the salt column
    plan = salted_join(
        e, r0.withColumnRenamed("node", "src"), "src"
    )._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, "salted join did not salt the shuffle key"


def test_session_window_stream_batch_equivalence(spark):
    """The JVM-native session_window streaming twin must equal (a) the
    SAME session_window aggregation run in batch mode and (b) the
    relational gaps-and-islands form with session_window's merge
    semantics (a gap of exactly the window size starts a NEW session —
    merge on overlap only). Pins stream_user_sessions to
    rel_user_sessions_batch's machinery end-to-end in Spark, not just
    via the DuckDB oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fuzzy_item_matching_spark.queries import load_all
    from fuzzy_item_matching_spark.tables import load_table

    reg = load_all()
    streamed = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in reg["stream_user_sessions"].fn(spark, SF_SMOKE).collect()
    )

    ev = load_table(spark, SF_SMOKE, "events")
    batch_native = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
        .collect()
    )
    assert streamed == batch_native

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ has no direct long cast; session TZ is pinned UTC
    sec = F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG)")
    gap = sec - F.lag(sec).over(w)
    relational = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in ev.withColumn(
            "new_sess",
            F.when(gap.isNull() | (gap >= 1800), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "n_events")
        .collect()
    )
    assert streamed == relational


def test_gboost_hist_bynode_matches_oracle(spark, duck):
    """colsample_bynode on the HISTOGRAM path: the Spark fit prunes
    whole (node, feature) histogram partitions pre-aggregate, the SQL
    twin filters each node's argmax arm — same surviving candidates
    (prefix sums are per-(node, feature) partitions), so the fitted
    model must match the oracle bit-for-bit at sf0.01."""
    from .conftest import SF_CHECK, assert_matches_oracle
    from fuzzy_item_matching_spark.operators.gboost_deep import gboost_hist_fit
    from fuzzy_item_matching_spark.queries.training import _lr_pairs
    from oracles.gboost_deep import gboost_hist_sql
    from oracles.training import _LR_PAIRS_SQL

    kw = dict(rounds=2, depth=3, colsample_bynode=2.0 / 3.0, seed=13)
    fitted = gboost_hist_fit(_lr_pairs(spark, SF_CHECK), FEATS, **kw)
    assert_matches_oracle(
        fitted, duck, gboost_hist_sql(_LR_PAIRS_SQL, FEATS, **kw)
    )


def test_recursive_cte_empty_seed(spark):
    """WITH RECURSIVE over an empty anchor terminates immediately with
    zero rows — no spin, no error."""
    spark.createDataFrame([], "c_custkey long").createOrReplaceTempView(
        "__rh_empty"
    )
    out = spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT c_custkey, c_custkey AS node, 0 AS depth FROM __rh_empty
          UNION ALL
          SELECT c_custkey, node DIV 10 AS node, depth + 1 AS depth
          FROM anc WHERE node >= 10
        )
        SELECT * FROM anc
        """
    ).collect()
    assert out == []


def test_variant_dirty_input(spark):
    """parse_json REJECTS malformed payloads (fail-fast ingest);
    try_parse_json degrades them to NULL; try_variant_get on a valid
    variant but absent path is NULL — the three dirty-input contracts
    behind rel_variant_props."""
    df = spark.createDataFrame(
        [('{"k": 1}',), ("not json",), (None,)], "props string"
    )
    ok = df.select(
        F.expr("try_parse_json(props)").alias("v")
    ).select(
        F.expr("try_variant_get(v, '$.k', 'int')").alias("k")
    ).collect()
    assert [r.k for r in ok] == [1, None, None]
    with pytest.raises(Exception):
        df.select(F.expr("parse_json(props)")).collect()


def test_ewma_frame_empty_and_single_hour(spark):
    """The shared EWMA fold: empty rollup -> empty chart; a single
    hour's EWMA is its own count (weight-0 term only) and never
    flags."""
    from fuzzy_item_matching_spark.queries.relational import ewma_frame

    empty = spark.createDataFrame([], "h long, n long")
    assert ewma_frame(empty).collect() == []
    one = spark.createDataFrame([(100, 42)], "h long, n long")
    rows = ewma_frame(one).collect()
    assert len(rows) == 1
    assert rows[0].ewma == 42.0 and rows[0].burst == 0


def test_sql_udf_is_inlined(spark):
    """The SQL-defined function must be analyzer-inlined: the physical
    plan contains the CASE expression and NO Python/Arrow eval node."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION __tier10(x DOUBLE)"
        " RETURNS STRING RETURN CASE WHEN x > 1.0 THEN 'a' ELSE 'b' END"
    )
    df = spark.range(5).selectExpr("__tier10(CAST(id AS DOUBLE)) AS t")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CASE WHEN" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_arrow_norms_bitwise_match_jvm_fold(spark):
    """vec_arrow_map_norms' numpy dimension-ordered accumulation must
    be BITWISE equal to the JVM fold (functions/vector.l2_norm) — the
    blockwise-Arrow discipline, asserted with == on raw doubles, no
    tolerance."""
    from fuzzy_item_matching_spark.functions.vector import l2_norm
    from fuzzy_item_matching_spark.queries import load_all
    from fuzzy_item_matching_spark.tables import load_table

    reg = load_all()
    arrow = {
        r.vec_id: r.norm
        for r in reg["vec_arrow_map_norms"].fn(spark, SF_SMOKE).collect()
    }
    jvm = {
        r.vec_id: r.norm
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", l2_norm("embedding").alias("norm"))
        .collect()
    }
    assert arrow == jvm  # exact dict equality: same keys, same bits


def test_filter_agreement_invariants(spark):
    """The agreement matrix's internal consistency: the intersection
    survivor count can't exceed any single filter's keeps, agreements
    are bounded by n, and the filters genuinely differ on the fixture
    (agreement strictly below n — otherwise the matrix is vacuous)."""
    from fuzzy_item_matching_spark.queries import load_all

    reg = load_all()
    r = reg["ts_filter_agreement"].fn(spark, SF_SMOKE).collect()[0]
    n = r.n_docs
    assert n > 0
    keeps = (r.keep_quality, r.keep_repetition, r.keep_lang)
    assert all(0 < k < n for k in keeps), "a filter never bound"
    assert r.keep_all <= min(keeps)
    for a in (r.agree_qr, r.agree_ql, r.agree_rl):
        assert 0 <= a <= n
    assert min(r.agree_qr, r.agree_ql, r.agree_rl) < n, (
        "all filters identical — the matrix is vacuous"
    )


def test_stream_ewma_equals_batch_chart(spark):
    """The streaming EWMA twin (foreachBatch partial counts + the
    shared fold) must equal the batch chart row-for-row, bit-for-bit —
    the in-Spark equivalence on top of the shared DuckDB oracle."""
    from fuzzy_item_matching_spark.queries import load_all

    reg = load_all()
    batch = sorted(
        tuple(r) for r in reg["rel_ewma_control"].fn(spark, SF_SMOKE).collect()
    )
    streamed = sorted(
        tuple(r)
        for r in reg["stream_ewma_control"].fn(spark, SF_SMOKE).collect()
    )
    assert batch == streamed
