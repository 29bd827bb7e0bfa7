"""Scale-technique checks: salted joins preserve semantics; bucketed
joins eliminate the exchange (asserted on the physical plan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fuzzy_item_matching_spark.operators.skew import salted_join, write_bucketed
from fuzzy_item_matching_spark.tables import load_table

from .conftest import DISTRIBUTED, SF_CHECK, conf_set, local_frame


def test_salted_join_matches_plain_join(spark):
    o = load_table(spark, SF_CHECK, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF_CHECK, "customer").select("c_custkey", "c_mktsegment")
    small = c.withColumnRenamed("c_custkey", "o_custkey")
    plain = big_rows = (
        o.join(small, "o_custkey").groupBy("c_mktsegment").count().collect()
    )
    salted = (
        salted_join(o, small, "o_custkey", salt=4)
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert {(r.c_mktsegment, r["count"]) for r in salted} == {
        (r.c_mktsegment, r["count"]) for r in big_rows
    }


def test_salted_join_spreads_shuffle_key(spark):
    o = load_table(spark, SF_CHECK, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF_CHECK, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plan = salted_join(o, c, "o_custkey", salt=4)._jdf.queryExecution().toString()
    assert "__salt" in plan, "salt column must participate in the join key"


def test_bucketed_join_has_no_shuffle_exchange(spark):
    o = load_table(spark, SF_CHECK, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF_CHECK, "customer").select("c_custkey", "c_name")
    write_bucketed(o, "orders_b", "o_custkey", 8)
    write_bucketed(
        c.withColumnRenamed("c_custkey", "o_custkey"), "customer_b", "o_custkey", 8
    )
    # At sf0.01 the planner prefers a broadcast join (which ignores
    # bucketing entirely); disable it to exercise the big-big case
    # bucketing exists for.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed-bucketed equi-join must not shuffle:\n" + plan
        )
        assert "Bucketed: true" in plan
        assert joined.count() == o.join(c, o.o_custkey == c.c_custkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_similarity_join_skew_bounded_by_max_df(spark):
    """SCALE_NOTES claims the inverted-index similarity join's skew is
    bounded by max_df pruning (operators/similarity.py): one
    ultra-common token must NOT produce an O(n²) candidate blowup, and
    the pair join must stay a term-key equi-join (shuffle hash / sort
    merge), never a cartesian fallback. Fixture: every doc shares one
    universal word, so without pruning the postings join materializes
    all n(n-1)/2 pairs through that single hot term.

    The term-key equi-join is a property of the distributed plan, so
    the plan is checked with the threshold at -1; at the default
    threshold this small input is joined on the driver, which must
    return the same pairs."""
    from fuzzy_item_matching_spark.operators.similarity import (
        featurize_text,
        sparse_cosine_join,
    )

    n = 240
    groups = 8
    # "universal" contributes 7 char-3-grams with df = n (all pruned at
    # max_df 0.5); "blk{g}x" contributes "blk" (df = n, pruned) plus
    # exactly 2 group-local grams ("lk{g}", "k{g}x") with df = n/groups
    # — so the pruned candidate load is exactly computable below.
    docs = local_frame(
        spark,
        [(i, f"universal blk{i % groups}x") for i in range(n)],
        "doc_id long, text string",
    )

    def candidate_count(max_df_ratio: float) -> int:
        feats = featurize_text(
            docs,
            ["doc_id"],
            "text",
            num_features=None,
            max_df_ratio=max_df_ratio,
        )
        a = feats.withColumnRenamed("doc_id", "id_a")
        b = feats.withColumnRenamed("doc_id", "id_b")
        return (
            a.join(b, "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .count()  # candidate ROWS entering the pair aggregation
        )

    # unpruned: the universal word's grams alone contribute n(n-1)/2
    # candidate rows PER GRAM — the skew blowup being guarded against
    assert candidate_count(1.0) >= n * (n - 1) // 2

    # pruned at the default 0.5 ratio: universal grams (df = n) drop;
    # surviving terms have df <= n/2, and the real candidate load is
    # the blk-group pairs — orders of magnitude below n²
    feats = featurize_text(
        docs, ["doc_id"], "text", num_features=None, max_df_ratio=0.5
    )
    max_df = (
        feats.groupBy("term").count().agg(F.max("count").alias("m")).first().m
    )
    assert max_df <= n // 2, "a term above the max_df bound survived pruning"
    bounded = candidate_count(0.5)
    # exactly 2 surviving grams per group × C(n/groups, 2) pairs each —
    # the candidate load collapses from O(n²) to the group-local pairs
    per_group = n // groups
    assert bounded == groups * 2 * (per_group * (per_group - 1) // 2), (
        f"candidate rows not bounded: {bounded}"
    )

    # the pair join must remain a term-key equi-join — no cartesian /
    # broadcast-nested-loop fallback under the skewed fixture
    def pair_join():
        f = featurize_text(
            docs, ["doc_id"], "text", num_features=None, max_df_ratio=0.5
        )
        return sparse_cosine_join(
            f.withColumnRenamed("doc_id", "id_a"),
            f.withColumnRenamed("doc_id", "id_b"),
            "id_a",
            "id_b",
            min_sim=0.3,
            self_dedup=True,
        )

    on_driver = pair_join()
    assert on_driver.isLocal()
    with conf_set(spark, *DISTRIBUTED):
        pairs = pair_join()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        distributed = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(r.id_a, r.id_b) for r in on_driver.collect()} == distributed
    assert len(distributed) == groups * (per_group * (per_group - 1) // 2)
    assert "CartesianProduct" not in plan
    # the postings join must stay a term-key EQUI-join (sort-merge /
    # shuffled-hash at scale; AQE may broadcast the small test side —
    # still keyed). The 1-row n_docs scalar broadcast inside the
    # max_df filter is a BroadcastNestedLoopJoin by construction, so
    # assert on the term join specifically, not a blanket BNLJ ban.
    import re

    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[(__t|term)",
        plan,
    ), plan


def test_semantic_dedup_survives_degenerate_single_cell(spark):
    """Adversarial occupancy: an all-identical corpus defeats cell
    balancing (every vector lands in the same cells), collapsing the
    blockwise kernel to one O(n²) task. The operator must still
    complete and return the full pair set — and the documented
    mitigation (n_centroids ~√n keeps EXPECTED occupancy bounded; a
    degenerate mode needs an upstream exact-dedup pass, which is why
    dedup_exact_docs runs FIRST in the pipeline ordering) lives in
    the docstring, not in silent truncation."""
    from fuzzy_item_matching_spark.operators.ivf import ivf_cell_pairs

    n = 120
    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    out = ivf_cell_pairs(
        df, "vec_id", "embedding", min_cosine=0.99, n_centroids=8,
        n_probe=2, refine_iters=1,
    ).collect()
    assert len(out) == n * (n - 1) // 2  # every pair, exactly once
    assert all(abs(r.cosine - 1.0) < 1e-12 for r in out)
