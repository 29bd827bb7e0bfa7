"""Property tests for the round-11 operators — invariants the exact
oracle equivalence (driver, tests/test_all_oracles.py) can't express:
the growing-frontier recursive closure's frontier/termination facts,
the heavy-hitter fold's determinism argument, and the environment
probe that re-evaluates the transformWithStateInPandas block every
round (r10 VERDICT ask #5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE


def test_recursive_closure_frontier_grows(spark):
    """The descendants closure must show the GROWING frontier it
    exists to pin: per-depth totals strictly increase down the
    region → nation → {supplier,customer} → orders DAG, terminate at
    depth 3 (the DAG's height — well inside the depth<8 guard), and
    every base row is reached exactly once (in-degree 1 ⇒ UNION ALL
    recursion enumerates nodes, not paths)."""
    from fuzzy_item_matching_spark.queries.relational import (
        rel_recursive_closure,
    )
    from fuzzy_item_matching_spark.tables import load_table

    rows = rel_recursive_closure(spark, SF_SMOKE).collect()
    per_depth = {}
    for r in rows:
        per_depth[r.depth] = per_depth.get(r.depth, 0) + r.n_desc
    assert sorted(per_depth) == [0, 1, 2, 3]
    assert per_depth[0] == 5 and per_depth[1] == 25
    assert per_depth[1] > per_depth[0]
    assert per_depth[2] > per_depth[1]
    assert per_depth[3] > per_depth[2]
    # exactly-once: depth-d total == base-table cardinalities
    sup = load_table(spark, SF_SMOKE, "supplier").count()
    cust = load_table(spark, SF_SMOKE, "customer").count()
    orders = load_table(spark, SF_SMOKE, "orders").count()
    assert per_depth[2] == sup + cust
    assert per_depth[3] == orders


def test_recursive_closure_depth_guard_binds(spark):
    """On a CYCLIC edge set the depth guard is the ONLY terminator —
    pin that the guarded recursion stops at the bound instead of
    spinning to Spark's cteRecursionLevelLimit backstop (or forever).
    A 2-cycle with guard depth<4 must emit exactly depths 0..4."""
    spark.createDataFrame(
        [(1, 2), (2, 1)], "parent long, child long"
    ).createOrReplaceTempView("__rc_cycle")
    rows = spark.sql(
        """
        WITH RECURSIVE reach(node, depth) AS (
          SELECT CAST(1 AS BIGINT), CAST(0 AS INT)
          UNION ALL
          SELECT e.child, CAST(r.depth + 1 AS INT)
          FROM reach r JOIN __rc_cycle e ON e.parent = r.node
          WHERE r.depth < 4
        )
        SELECT depth, COUNT(*) AS n FROM reach GROUP BY depth
        """
    ).collect()
    assert {r.depth: r.n for r in rows} == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1}


def test_heavy_hitters_bounded_matches_local_fold(spark):
    """The exact oracle's premise, asserted directly against a local
    replay: the availableNow drain of one parquet file is ONE
    micro-batch, so the streaming Space-Saving state equals the pure
    fold over exact per-(hour,user) counts in (count DESC, user ASC)
    order. A batching change that broke the premise would land here
    before it landed as a driver hash-fail."""
    from fuzzy_item_matching_spark.queries.streaming import (
        _SS_CAP,
        stream_heavy_hitters_bounded,
    )
    from fuzzy_item_matching_spark.tables import load_table

    got = {
        (r.hour, r.rnk): (r.user_id, r.est, r.err)
        for r in stream_heavy_hitters_bounded(spark, SF_SMOKE).collect()
    }

    counts = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            F.col("user_id").alias("u"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    by_hour: dict = {}
    for r in counts:
        by_hour.setdefault(r.hour, []).append((int(r.u), int(r.w)))
    want = {}
    for hour, items in by_hour.items():
        cand: dict[int, list[int]] = {}
        for u, w in sorted(items, key=lambda t: (-t[1], t[0])):
            if u in cand:
                cand[u][0] += w
            elif len(cand) < _SS_CAP:
                cand[u] = [w, 0]
            else:
                mu = min(cand, key=lambda k: (cand[k][0], -k))
                mc = cand.pop(mu)[0]
                cand[u] = [mc + w, mc]
        top = sorted(cand.items(), key=lambda kv: (-kv[1][0], kv[0]))[:3]
        for rnk, (u, (c, e)) in enumerate(top, start=1):
            want[(hour, rnk)] = (u, c, e)
    assert got == want


def test_transform_with_state_in_pandas_env_probe(spark):
    """ENVIRONMENT PROBE (r10 VERDICT ask #5): the
    transformWithStateInPandas surface needs google.protobuf for its
    state-server protocol, which is broken in this container — the
    block previously lived only as a ledger comment. This test
    re-evaluates it every round: the moment the container gains a
    working protobuf, the skip disappears and the surface gets a real
    smoke assertion (and the stateful family should then be extended
    onto it — see queries/__init__.py's ledger note)."""
    try:
        import google.protobuf  # noqa: F401
        from google.protobuf import descriptor  # noqa: F401  (the part that breaks)
    except Exception as e:  # noqa: BLE001 — any import failure blocks the surface
        pytest.skip(
            "transformWithStateInPandas ENVIRONMENT-BLOCKED: "
            f"google.protobuf unusable in this container ({e!r}); "
            "applyInPandasWithState remains the custom-stateful surface"
        )

    # protobuf imports cleanly → the block is lifted: prove the surface
    # end-to-end with a minimal count-per-key stateful processor.
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            from pyspark.sql.types import (
                LongType,
                StructField,
                StructType,
            )

            self._count = handle.getValueState(
                "count", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = self._count.get()
            total = (prev[0] if prev else 0) + n
            self._count.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

        def close(self) -> None:
            pass

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        .selectExpr("CAST(value % 3 AS BIGINT) AS user_id")
    )
    q = (
        src.groupBy("user_id")
        .transformWithStateInPandas(
            CountProcessor(),
            outputStructType="user_id bigint, n bigint",
            outputMode="Update",
            timeMode="None",
        )
        .writeStream.format("memory")
        .queryName("__twsip_probe")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # A rate source drained with availableNow emits >= 1 row, so a
    # stateful query that "completes" with an empty sink means the
    # state-server path is broken even though no exception surfaced —
    # the probe must fail in that case, not record the surface green.
    rows = spark.table("__twsip_probe").collect()
    assert rows, "transformWithStateInPandas drained zero rows"
    assert {r.user_id for r in rows} <= {0, 1, 2}
    assert all(r.n >= 1 for r in rows)


def test_collapsed_cosine_join_equals_plain(spark, monkeypatch):
    """The vector-collapsed self-join must be row-for-row equal to the
    plain postings join on the corpus it exists for (template part
    names, 20k docs -> 64 distinct vectors at sf0.1): same pair set,
    same cosines to the round-9 float discipline. These postings fit
    the driver placement, which the plain join takes; a work bound of
    0 partials refuses both the driver's plain join and its collapse
    for the collapsed call, so the Spark collapse runs (its expansion
    is asserted to run)."""
    from fuzzy_item_matching_spark.operators import collapse, similarity
    from fuzzy_item_matching_spark.operators.similarity import (
        featurize_text,
        sparse_cosine_join,
        sparse_cosine_self_join_collapsed,
    )
    from fuzzy_item_matching_spark.tables import load_table

    p = load_table(spark, SF_SMOKE, "part")
    feats = featurize_text(
        p, ["p_partkey"], "p_name",
        ngram_n=3, num_features=None, max_df_ratio=0.15,
    ).persist()
    a = feats.withColumnRenamed("p_partkey", "id_a")
    b = feats.withColumnRenamed("p_partkey", "id_b")
    plain = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in sparse_cosine_join(
            a, b, "id_a", "id_b", min_sim=0.8, self_dedup=True
        ).collect()
    }
    expansions = []
    expand = collapse.expand_group_pairs
    monkeypatch.setattr(
        collapse, "expand_group_pairs",
        lambda *args: expansions.append(1) or expand(*args),
    )
    monkeypatch.setattr(similarity, "_DRIVER_MAX_PARTIALS", 0)
    collapsed = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in sparse_cosine_self_join_collapsed(
            feats, "p_partkey", min_sim=0.8
        ).collect()
    }
    assert expansions == [1]
    assert len(plain) > 0
    assert collapsed == plain


def test_collapsed_cosine_join_gate_falls_back(spark):
    """On a diverse corpus (every vector distinct) the gate must
    refuse the collapse — and the fallback plain join must still
    produce the identical result, so the gate is a pure physical-
    strategy choice with no semantic surface. Synthetic postings:
    doc 2i and 2i+1 share term c<i> (cosine 0.5), every doc also has a
    unique term, so all signatures are distinct and pairs exist."""
    import math

    from fuzzy_item_matching_spark.operators.similarity import (
        sparse_cosine_join,
        sparse_cosine_self_join_collapsed,
    )

    w = 1.0 / math.sqrt(2.0)
    rows = []
    for i in range(40):
        rows.append((2 * i, f"c{i}", w))
        rows.append((2 * i, f"u{2 * i}", w))
        rows.append((2 * i + 1, f"c{i}", w))
        rows.append((2 * i + 1, f"u{2 * i + 1}", w))
    feats = spark.createDataFrame(
        rows, "doc_id long, term string, weight double"
    ).persist()
    a = feats.withColumnRenamed("doc_id", "id_a")
    b = feats.withColumnRenamed("doc_id", "id_b")
    plain = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in sparse_cosine_join(
            a, b, "id_a", "id_b", min_sim=0.4, self_dedup=True
        ).collect()
    }
    collapsed = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in sparse_cosine_self_join_collapsed(
            feats, "doc_id", min_sim=0.4
        ).collect()
    }
    assert len(plain) == 40  # one pair per shared term
    assert collapsed == plain


# ---------------------------------------------------------------------------
# ALS (train_als_implicit) — invariants past the oracle equivalence
# ---------------------------------------------------------------------------


def test_als_objective_decreases_across_sweeps(spark):
    """Alternating exact ridge solves minimize the regularized
    objective per half-step, so the full objective at (U2, V2) must
    not exceed it at (U1, V1) — up to the 1e-9 factor quantization
    each half-step applies (tolerance 1e-6)."""
    from fuzzy_item_matching_spark.queries.training import (
        _ALS_REG,
        train_als_implicit,
    )
    from fuzzy_item_matching_spark.tables import load_table

    trace = train_als_implicit(spark, SF_SMOKE).collect()
    by_step = {}
    for r in trace:
        by_step.setdefault(r.step, {})[r.id] = (r.f1, r.f2)
    assert sorted(by_step) == [1, 2, 3, 4]

    li = load_table(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    o = load_table(spark, SF_SMOKE, "orders")
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.sum("l_quantity").alias("r"))
        .collect()
    )

    def objective(u_f, v_f):
        sse = sum(
            (
                r.r
                - (
                    u_f[r.u][0] * v_f[r.i][0]
                    + u_f[r.u][1] * v_f[r.i][1]
                )
            )
            ** 2
            for r in ratings
        )
        reg = _ALS_REG * (
            sum(f1 * f1 + f2 * f2 for f1, f2 in u_f.values())
            + sum(f1 * f1 + f2 * f2 for f1, f2 in v_f.values())
        )
        return sse + reg

    o1 = objective(by_step[1], by_step[2])
    o2 = objective(by_step[3], by_step[4])
    assert o2 <= o1 + 1e-6
    # every factor finite
    assert all(
        abs(f1) < 1e6 and abs(f2) < 1e6
        for s in by_step.values()
        for f1, f2 in s.values()
    )


def test_als_trace_covers_every_entity_each_step(spark):
    """Each user/item with >=1 rating is solved in EVERY sweep (the
    closed-form solve exists whenever the entity has ratings — lambda
    makes the 2x2 system positive definite), so per-step row counts
    equal the distinct-entity counts."""
    from fuzzy_item_matching_spark.queries.training import train_als_implicit
    from fuzzy_item_matching_spark.tables import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    o = load_table(spark, SF_SMOKE, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    n_u = j.select("o_custkey").distinct().count()
    n_i = j.select("l_partkey").distinct().count()

    counts = {
        (r.step, r.side): r.n
        for r in train_als_implicit(spark, SF_SMOKE)
        .groupBy("step", "side")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {
        (1, "u"): n_u,
        (2, "i"): n_i,
        (3, "u"): n_u,
        (4, "i"): n_i,
    }


def test_als_plan_has_no_cartesian(spark):
    """The half-step join (ratings x factor state) is KEYED — a
    cartesian anywhere would mean the factor state stopped
    distributing. Inspect ONE un-executed half-step's plan directly
    (the memoized query frame is a LocalTableScan and would pass
    vacuously; the fit's own chain is localCheckpoint'ed, which also
    hides the join)."""
    from fuzzy_item_matching_spark.operators.als import (
        _init_factors,
        _solve_side,
    )
    from fuzzy_item_matching_spark.queries.training import _als_ratings

    ratings = _als_ratings(spark, SF_SMOKE)
    v0 = _init_factors(ratings.select("i").distinct(), "i")
    half = _solve_side(ratings, v0, "u", "i", reg=0.5)
    plan = half._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the keyed join is actually in the plan


# ---------------------------------------------------------------------------
# Label propagation (rel_label_propagation)
# ---------------------------------------------------------------------------


def test_lpa_labels_are_node_ids_and_sizes_consistent(spark):
    """Labels only ever COPY existing labels (init = own id), so every
    final community label is some node's id; community_size must agree
    with the actual label multiplicity; every lineitem part appears
    exactly once."""
    from fuzzy_item_matching_spark.queries.analytics import (
        rel_label_propagation,
    )
    from fuzzy_item_matching_spark.tables import load_table

    rows = rel_label_propagation(spark, SF_SMOKE).collect()
    ids = {r.id for r in rows}
    n_parts = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert len(rows) == n_parts and len(ids) == n_parts
    assert {r.community for r in rows} <= ids
    from collections import Counter

    mult = Counter(r.community for r in rows)
    assert all(mult[r.community] == r.community_size for r in rows)


def test_lpa_coarsens_the_graph(spark):
    """3 rounds over the dense co-purchase graph must merge labels:
    far fewer communities than nodes (the point of the algorithm),
    and at least one non-trivial community."""
    from fuzzy_item_matching_spark.queries.analytics import (
        rel_label_propagation,
    )

    rows = rel_label_propagation(spark, SF_SMOKE).collect()
    n_comm = len({r.community for r in rows})
    assert n_comm < len(rows) / 2
    assert max(r.community_size for r in rows) >= 5


# ---------------------------------------------------------------------------
# Winnowing (dedup_winnowing_pairs)
# ---------------------------------------------------------------------------


def _winnow_py(text, k=7, w=4):
    """Literal Python reference of the winnowing selection."""
    import hashlib

    n = len(text)
    keys = []
    for p in range(1, n - k + 2):  # 1-based, inclusive
        g = text[p - 1 : p - 1 + k]
        h = int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
        keys.append((p, h * 1073741824 + p))
    sel = set()
    for p, _ in keys:
        if p < w:
            continue
        m = min(key for q, key in keys if p - w + 1 <= q <= p)
        sel.add(m // 1073741824)
    return sel


def test_winnowing_matches_python_reference(spark):
    """The operator's selected-fingerprint set equals a from-scratch
    Python implementation of Schleimer et al.'s selection rule."""
    from fuzzy_item_matching_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs ok"),
    ]
    d = spark.createDataFrame(texts, "doc_id long, txt string")
    got = {}
    for r in winnowing_fingerprints(d).collect():
        got.setdefault(r.doc_id, set()).add(r.h)
    for doc_id, text in texts:
        assert got[doc_id] == _winnow_py(text)


def test_winnowing_guarantee_shared_substring_is_caught(spark):
    """ANY shared substring of length >= k + w - 1 (= 10 chars at the
    defaults) must yield a shared SELECTED fingerprint, wherever it
    sits in either document — the property that makes winnowing a
    partial-copy detector. Embed one 24-char run into two otherwise
    disjoint documents at different offsets."""
    from fuzzy_item_matching_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    stolen = "zzqxjvwkpyhgbmzzqxjvwkpy"
    d = spark.createDataFrame(
        [
            (1, "aaaaaaaaaaaaaaaaa " + stolen + " bbbbbbbbbbbbbb"),
            (2, "cccccc " + stolen + " ddddddddddddddddddddddddd"),
        ],
        "doc_id long, txt string",
    )
    got = {}
    for r in winnowing_fingerprints(d).collect():
        got.setdefault(r.doc_id, set()).add(r.h)
    assert got[1] & got[2], "copied run must share a selected fingerprint"


def test_winnowing_density_is_sparse(spark):
    """Expected selection density is 2/(w+1) of all k-grams; pin a
    loose upper bound (< 60% at w=4) so a regression to select-all
    (which would silently still pass the oracle) is caught."""
    from fuzzy_item_matching_spark.operators.dedup import (
        winnowing_fingerprints,
    )
    from fuzzy_item_matching_spark.tables import load_table

    d = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("txt"))
        .filter(F.length("txt") >= 7)
    )
    n_sel = winnowing_fingerprints(d).count()
    n_grams = (
        d.select(F.sum(F.length("txt") - 6).alias("n")).collect()[0].n
    )
    assert n_sel < 0.6 * n_grams


# ---------------------------------------------------------------------------
# Spark 4 surface: lateralJoin decorrelation + transpose equivalence
# ---------------------------------------------------------------------------


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The correlated per-customer LIMIT must compile to the
    WindowGroupLimit + equi-join plan (rank<=k pushdown ahead of the
    shuffle), NOT a nested loop — the fact that makes the lateral
    form safe at scale."""
    from fuzzy_item_matching_spark.queries.relational import (
        rel_lateral_topk_per_cust,
    )

    plan = (
        rel_lateral_topk_per_cust(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lateral_topk_equals_window_rank_idiom(spark):
    """lateralJoin(top-3 subquery) must equal the classic
    window-row_number<=3 rewrite row for row."""
    from pyspark.sql.window import Window

    from fuzzy_item_matching_spark.queries.relational import (
        rel_lateral_topk_per_cust,
    )
    from fuzzy_item_matching_spark.tables import load_table

    got = {
        (r.c_custkey, r.o_orderkey, r.totalprice)
        for r in rel_lateral_topk_per_cust(spark, SF_SMOKE).collect()
    }
    o = load_table(spark, SF_SMOKE, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = {
        (r.o_custkey, r.o_orderkey, r.totalprice)
        for r in o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("totalprice"),
        )
        .collect()
    }
    assert got == want


def test_transpose_round_trips_the_matrix(spark):
    """transpose output must be the exact matrix flip of the input
    summary: cell (metric, status) == input cell (status, metric)."""
    from fuzzy_item_matching_spark.queries.relational import (
        rel_transpose_status_metrics,
    )
    from fuzzy_item_matching_spark.tables import load_table

    t = {r.key: r.asDict() for r in
         rel_transpose_status_metrics(spark, SF_SMOKE).collect()}
    o = load_table(spark, SF_SMOKE, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    m = (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_orders"),
            F.sum(dec).cast("double").alias("revenue"),
            (F.sum(dec).cast("double") / F.count(F.lit(1))).alias(
                "avg_price"
            ),
        )
        .collect()
    )
    assert set(t) == {"n_orders", "revenue", "avg_price"}
    for row in m:
        s = row.o_orderstatus
        assert t["n_orders"][s] == row.n_orders
        assert t["revenue"][s] == row.revenue
        assert t["avg_price"][s] == row.avg_price


# ---------------------------------------------------------------------------
# Poisson gboost (train_gboost_poisson)
# ---------------------------------------------------------------------------


def test_poisson_gboost_reduces_deviance(spark):
    """Each Poisson round must not worsen the Poisson deviance of the
    fitted ensemble on its own training frame (boosting on the true
    gradient/hessian of a convex loss with eta<1), and the model rows
    must carry finite thresholds/leaves."""
    import math

    from fuzzy_item_matching_spark.operators.boosting import GB_ETA
    from fuzzy_item_matching_spark.queries.training import (
        train_gboost_poisson,
    )
    from fuzzy_item_matching_spark.tables import load_table

    model = sorted(
        train_gboost_poisson(spark, SF_SMOKE).collect(),
        key=lambda r: r["round"],
    )
    assert len(model) == 3
    assert all(
        math.isfinite(r.thr) and math.isfinite(r.w_le) and math.isfinite(r.w_gt)
        for r in model
    )

    c = load_table(spark, SF_SMOKE, "customer")
    o = load_table(spark, SF_SMOKE, "orders")
    rows = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_nationkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("y"))
        .select(
            "y",
            F.col("c_nationkey").cast("double").alias("x1"),
            F.col("c_acctbal").alias("x2"),
        )
        .collect()
    )

    def deviance(upto):
        d = 0.0
        for r in rows:
            f = sum(
                GB_ETA
                * (m.w_le if {"x1": r.x1, "x2": r.x2}[m.feature] <= m.thr
                   else m.w_gt)
                for m in model[:upto]
            )
            mu = math.exp(f)
            d += 2 * (
                (r.y * math.log(r.y / mu) if r.y > 0 else 0.0) - (r.y - mu)
            )
        return d

    devs = [deviance(k) for k in range(0, 4)]
    assert devs[3] <= devs[0]
    for a, b in zip(devs, devs[1:]):
        assert b <= a + 1e-6


def test_poisson_gboost_handles_zero_count_customers(spark):
    """Customers with no orders stay in the frame (left join) and the
    fit still produces a full model — h = mu > 0 keeps every region
    solvable even where all labels are 0."""
    from fuzzy_item_matching_spark.operators.boosting import gboost_fit

    rows = [(0, 1.0, float(i)) for i in range(20)] + [
        (5, 2.0, float(i)) for i in range(20)
    ]
    pairs = spark.createDataFrame(
        rows, "label long, x1 double, x2 double"
    )
    model = gboost_fit(pairs, ["x1", "x2"], rounds=2, loss="poisson").collect()
    assert len(model) == 2
    # the x1=1 vs 2 split separates the zero group: first split on x1
    assert model[0].feature == "x1"


def test_als_topk_excludes_rated_and_ranks_totally(spark):
    """Recommendations must never include an item the user already
    purchased (the anti-join contract), each panel user gets at most
    k rows ranked 1..k, and scores are non-increasing with rank."""
    from fuzzy_item_matching_spark.queries.training import (
        _ALS_QUSER_MOD,
        _ALS_TOPK,
        serve_als_topk,
    )
    from fuzzy_item_matching_spark.tables import load_table

    rows = serve_als_topk(spark, SF_SMOKE).collect()
    assert rows
    li = load_table(spark, SF_SMOKE, "lineitem").filter(
        F.col("l_partkey") % 4 == 0
    )
    o = load_table(spark, SF_SMOKE, "orders")
    rated = {
        (r.u, r.i)
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .distinct()
        .collect()
    }
    by_user = {}
    for r in rows:
        assert r.u % _ALS_QUSER_MOD == 0
        assert (r.u, r.i) not in rated
        by_user.setdefault(r.u, []).append((r.rnk, r.score))
    for u, rs in by_user.items():
        rs.sort()
        assert [rnk for rnk, _ in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _ALS_TOPK
        scores = [s for _, s in rs]
        assert scores == sorted(scores, reverse=True)


def test_als_matches_numpy_reference(spark):
    """als_rank2_fit's factors must match an independent numpy
    implementation of the same schedule (init, exact 2x2 ridge solve,
    round-to-9 per half-step) to the quantization grid."""
    import numpy as np

    from fuzzy_item_matching_spark.operators.als import als_rank2_fit

    rows = [
        (u, i, float(1 + ((u * 7 + i * 13) % 5)))
        for u in range(1, 9)
        for i in range(1, 7)
        if (u + i) % 3 != 0
    ]
    ratings = spark.createDataFrame(rows, "u long, i long, r double")
    got = {
        (r.step, r.side, r.id): (r.f1, r.f2)
        for r in als_rank2_fit(ratings, iters=2, reg=0.5).collect()
    }

    lam = 0.5
    v = {
        i: np.array([1.0 + (i % 7) / 8.0, 1.0 - (i % 5) / 8.0])
        for i in {i for _, i, _ in rows}
    }
    u_f = {}

    def solve(entities, other, key_is_u):
        out = {}
        for e in entities:
            A = np.zeros((2, 2))
            b = np.zeros(2)
            for uu, ii, rr in rows:
                k, o = (uu, ii) if key_is_u else (ii, uu)
                if k != e:
                    continue
                f = other[o]
                A += np.outer(f, f)
                b += f * rr
            A += lam * np.eye(2)
            det = A[0, 0] * A[1, 1] - A[0, 1] * A[1, 0]
            x = np.array(
                [
                    (A[1, 1] * b[0] - A[0, 1] * b[1]) / det,
                    (A[0, 0] * b[1] - A[0, 1] * b[0]) / det,
                ]
            )
            out[e] = np.round(x, 9)
        return out

    users = {u for u, _, _ in rows}
    items = {i for _, i, _ in rows}
    step = 0
    for _ in range(2):
        step += 1
        u_f = solve(users, v, True)
        for uu, f in u_f.items():
            gf = got[(step, "u", uu)]
            assert abs(gf[0] - f[0]) < 2e-9 and abs(gf[1] - f[1]) < 2e-9
        step += 1
        v = solve(items, u_f, False)
        for ii, f in v.items():
            gf = got[(step, "i", ii)]
            assert abs(gf[0] - f[0]) < 2e-9 and abs(gf[1] - f[1]) < 2e-9


def test_kmv_jaccard_estimator_is_close_and_bounded(spark):
    """The KMV union-sketch Jaccard estimate must sit within a loose
    concentration bound of the exact value (sigma ~= sqrt(J(1-J)/k)
    <= 0.045 at k=128; assert 0.15) for every language pair, with
    both values in [0, 1] and each unordered pair appearing once."""
    from fuzzy_item_matching_spark.queries.textstats import (
        ts_kmv_lang_jaccard,
    )

    rows = ts_kmv_lang_jaccard(spark, SF_SMOKE).collect()
    assert len(rows) == 10  # C(5 langs, 2)
    seen = set()
    for r in rows:
        assert r.la < r.lb
        assert (r.la, r.lb) not in seen
        seen.add((r.la, r.lb))
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert abs(r.est_jaccard - r.exact_jaccard) <= 0.15
        assert abs(r.abs_err - abs(r.est_jaccard - r.exact_jaccard)) < 1e-12


def test_incremental_winnowing_sides_and_containment(spark):
    """Delta docs appear only on the left, corpus docs only on the
    right (the incremental contract), and containment is a valid
    fraction of the delta's fingerprint set."""
    from fuzzy_item_matching_spark.queries.dedup import (
        dedup_incremental_winnowing,
    )

    rows = dedup_incremental_winnowing(spark, SF_SMOKE).collect()
    for r in rows:
        assert r.delta_doc % 11 == 0
        assert r.corpus_doc % 11 != 0
        assert 0.0 < r.containment <= 1.0
        assert r.n_shared >= 2


def test_ppr_conserves_mass_and_anchors_seeds(spark):
    """Each PPR iteration preserves total mass = 1 EXCEPT for mass
    dropped at dangling nodes (documented behavior) — compute whether
    the graph actually has dangling nodes and assert exact
    conservation only when it doesn't (never silently skip: total must
    always be in (0, 1 + eps]). Every seed keeps at least its restart
    share (1-alpha)/|S|; every score is positive."""
    from fuzzy_item_matching_spark.queries.analytics import (
        _PPR_ALPHA,
        _PPR_SEED_MOD,
        _copurchase_graph,
        rel_ppr_parts,
    )

    rows = rel_ppr_parts(spark, SF_SMOKE).collect()
    assert rows
    total = sum(r.ppr for r in rows)
    assert 0.0 < total <= 1.0 + 1e-9
    lines, e = _copurchase_graph(spark, SF_SMOKE, wtype="double")
    n_nodes = lines.select("pid").distinct().count()
    n_with_out = e.select("src").distinct().count()
    if n_nodes == n_with_out:  # no dangling nodes -> exact conservation
        assert abs(total - 1.0) < 1e-6
    seeds = [r for r in rows if r.node % _PPR_SEED_MOD == 0]
    assert seeds
    share = (1.0 - _PPR_ALPHA) / len(seeds)
    for s in seeds:
        assert s.ppr >= share - 1e-12
    assert all(r.ppr > 0 for r in rows)
