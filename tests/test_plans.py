"""Physical-plan regression tests — the scale properties SCALE_NOTES
claims, asserted so refactors can't silently lose them."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from fuzzy_item_matching_spark.queries import load_all

from .conftest import SF_CHECK


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(spark, registry, name: str) -> str:
    df = registry[name].fn(spark, SF_CHECK)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, registry):
    plan = plan_of(spark, registry, "rel_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter must push into parquet"


def test_column_pruning(spark, registry):
    plan = plan_of(spark, registry, "rel_pricing_summary")
    # lineitem has 16 columns; the query needs 6.
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") <= 7, f"scan reads too many columns: {read}"
    assert "l_comment" not in read


def test_topk_uses_take_ordered_not_full_sort(spark, registry):
    plan = plan_of(spark, registry, "rel_top_revenue_orders")
    assert "TakeOrderedAndProject" in plan


def test_dim_joins_broadcast(spark, registry):
    plan = plan_of(spark, registry, "rel_region_rollup")
    assert "BroadcastExchange" in plan


def test_text_kernels_are_shuffle_free(spark, registry):
    for name in ("text_char_3grams", "text_tokens", "ts_doc_quality", "ts_fingerprint"):
        plan = plan_of(spark, registry, name)
        assert "Exchange" not in plan, f"{name} must be a narrow plan:\n{plan}"


def test_codegen_covers_relational_path(spark, registry):
    # Codegen markers only appear in the FINAL adaptive plan — run the
    # query, then inspect the executed plan.
    df = registry["rel_pricing_summary"].fn(spark, SF_CHECK)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen stages in the compact form.
    assert "*(" in plan, plan


def test_text_path_stays_jvm_side(spark, registry):
    # Higher-order array functions are interpreted (no codegen) but
    # still JVM-side — the property that matters is NO Python
    # evaluation node in the hot path.
    for name in ("text_tokens", "text_char_3grams", "ts_tfidf_weights"):
        plan = plan_of(spark, registry, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} must not drop into Python"
        )


def test_partitioned_scan_prunes_partitions(spark, registry):
    plan = plan_of(spark, registry, "src_partitioned_prune")
    assert "PartitionFilters" in plan
    # the status predicate must be a PARTITION filter (directory-level
    # prune), not a row-level data filter on a full scan
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("o_orderstatus" in l for l in pf_lines), pf_lines


def test_keyed_sample_filter_hashes_once(spark, registry):
    # hex_long's ascii arithmetic references its input 16x, and codegen
    # CSE does not dedupe filter conditions — an inline F.md5 there is
    # recomputed 16x/row (r05: keyed-sample filter 8x slower). The
    # keyed-sample path must keep exactly one md5 in its plan.
    plan = plan_of(spark, registry, "src_keyed_sample")
    filter_lines = [l for l in plan.splitlines() if "md5" in l]
    assert filter_lines, "expected the keyed-uniform md5 filter in the plan"
    assert max(l.count("md5(") for l in filter_lines) == 1, (
        "inline md5 duplicated in the filter condition — use "
        "hex_long_once (single-reference) for inline hash expressions:\n"
        + "\n".join(filter_lines)
    )


def test_corpus_clean_scan_is_pruned(spark, registry):
    # a cached raw-table relation from an earlier test would replace the
    # pruned FileScan with the cache's full-schema scan
    spark.catalog.clearCache()
    plan = plan_of(spark, registry, "pipe_corpus_clean")
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, "expected parquet scans with ReadSchema"
    # the cleaning pipeline needs only doc_id + text from documents
    assert all("n_chars" not in l and "lang" not in l for l in scans), scans


def test_seq_packing_packs_in_one_shuffle(spark, registry):
    import re

    plan = plan_of(spark, registry, "ts_seq_packing")
    # per-shard window AND the (shard, seq_id) aggregate reuse ONE
    # hash exchange on shard — packing costs a single shuffle
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"
    assert "SortMergeJoin" not in plan


def test_redaction_and_repetition_are_shuffle_free(spark, registry):
    for name in ("ts_redact_pii", "ts_repetition"):
        plan = plan_of(spark, registry, name)
        assert "Exchange" not in plan, f"{name} must be a narrow projection"


def test_corpus_shuffle_broadcasts_shard_offsets(spark, registry):
    plan = plan_of(spark, registry, "ts_corpus_shuffle")
    assert "BroadcastHashJoin" in plan  # k-row offsets frame, never SMJ
    assert "SortMergeJoin" not in plan
    # the data-side window partitions by shard (parallel), not global
    assert "hashpartitioning(shard" in plan


def test_stratified_sample_broadcasts_rates(spark, registry):
    plan = plan_of(spark, registry, "train_stratified_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_broadcasts_filter_words(spark, registry):
    """The 32-row bloom word table must broadcast to the orders probe;
    the fact side must never shuffle to meet the filter."""
    plan = plan_of(spark, registry, "rel_bloom_semi_join")
    assert "BroadcastExchange" in plan


def test_int8_quant_broadcasts_queries(spark, registry):
    """Scales fold to one array row + the bounded query batch joins
    broadcast — the corpus side of the quantized scoring join must
    stay shuffle-free."""
    plan = plan_of(spark, registry, "vec_int8_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pq_scoring_broadcasts_query_batch(spark, registry):
    plan = plan_of(spark, registry, "sim_ann_pq_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_salted_agg_is_two_hash_aggregates(spark, registry):
    """Salting must add the (key, salt) pre-aggregate — four
    HashAggregate nodes (partial+final per stage), not two."""
    plan = plan_of(spark, registry, "rel_salted_agg")
    assert plan.count("HashAggregate") >= 4, plan


def test_chunk_lines_chunking_is_narrow_before_freq_agg(spark, registry):
    """Chunk construction must not shuffle; the only exchanges are the
    chunk-frequency aggregate, the membership join, and the per-doc
    reassembly aggregate."""
    plan = plan_of(spark, registry, "dedup_chunk_lines")
    n_exchanges = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith(("Exchange", "(")) and "Exchange" in line
        and "BroadcastExchange" not in line
    )
    assert n_exchanges <= 6, f"unexpected extra shuffles:\n{plan}"


def test_charlm_model_joins_broadcast(spark, registry):
    # model/ctx/vocab are charset-bounded — all three must broadcast
    plan = plan_of(spark, registry, "ts_charlm_score")
    assert plan.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in plan


def test_bm25_is_topk_with_broadcast_stats(spark, registry):
    plan = plan_of(spark, registry, "sim_bm25_topk")
    assert "TakeOrderedAndProject" in plan, "BM25 top-k must not full-sort"
    assert "BroadcastExchange" in plan


def test_fs_linkage_blocks_on_equi_keys(spark, registry):
    # the pair join must be an equi-join on the blocking key, never a
    # cartesian; the three u-scalars arrive via 1-row broadcasts
    plan = plan_of(spark, registry, "serve_fs_linkage")
    assert "CartesianProduct" not in plan
    assert "p_brand" in plan and "p_size" in plan


def test_zorder_key_is_narrow_single_agg(spark, registry):
    plan = plan_of(spark, registry, "src_zorder_layout")
    # one shuffle for the bucket agg and nothing else
    assert plan.count("Exchange") <= 2  # exchange + AQE read marker
    assert "BroadcastExchange" not in plan


def test_weighted_sample_is_topk(spark, registry):
    plan = plan_of(spark, registry, "train_weighted_sample")
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan


def test_basket_and_pagerank_broadcast_dims(spark, registry):
    for name in ("rel_basket_rules", "rel_pagerank_brands"):
        plan = plan_of(spark, registry, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastExchange" in plan, name


def test_semantic_pairs_single_cell_shuffle_then_pair_agg(spark, registry):
    """ivf_cell_pairs: exactly the groupBy(cell) exchange into the
    Arrow block kernel plus the pair-dedup aggregate — no join, no
    cartesian (candidates never materialize as a pair join)."""
    plan = plan_of(spark, registry, "dedup_semantic_pairs")
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_incremental_minhash_probe_filter_before_band_join(spark, registry):
    """The delta predicate must restrict the probe side BEFORE the band
    join (a pushed filter on the banded frame), not post-join."""
    plan = plan_of(spark, registry, "dedup_incremental_minhash")
    assert "CartesianProduct" not in plan
    # the delta restriction appears as a modulo filter in the plan
    assert "% 5" in plan


def test_token_budget_single_corpus_pass(spark, registry):
    """The corpus is scanned once (one agg over documents); the
    water-filling rounds run on the |sources|-row frame via window
    functions — no second documents scan, no join."""
    plan = plan_of(spark, registry, "pipe_token_budget")
    # formatted explain mentions each scan twice (tree + details) —
    # one physical scan == exactly 2 mentions
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_bucketed_range_join_avoids_nested_loop(spark, registry):
    """The point of the bucket decomposition: the interval join must
    plan as an equi-join on (user, bucket), never the nested-loop
    fallback Spark uses for non-equi join conditions."""
    plan = plan_of(spark, registry, "rel_bucketed_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_phash_bucket_whitelist_broadcasts_no_cartesian(spark, registry):
    """mm_phash_pairs: the ≤ 8·256-row pruned-bucket whitelist must
    broadcast into the banded frame, and the candidate generator must
    stay a (band, chunk) equi-join — never a cartesian."""
    plan = plan_of(spark, registry, "mm_phash_pairs")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_skew_report_no_full_sort(spark, registry):
    """rel_skew_report's two top-k's must plan as TakeOrdered, not a
    global sort of the key-count frame."""
    plan = plan_of(spark, registry, "rel_skew_report")
    assert "TakeOrderedAndProject" in plan
    sorts = [
        l for l in plan.splitlines()
        if l.strip().startswith("Sort ") or "(Sort " in l
    ]
    global_sorts = [l for l in sorts if "global=true" in l]
    assert not global_sorts, global_sorts


def test_loss_mask_single_exchange(spark, registry):
    """ts_loss_mask rides the packer's one per-shard hash exchange —
    tokenize/span arithmetic must not add shuffles."""
    import re

    plan = plan_of(spark, registry, "ts_loss_mask")
    n_exchanges = len(
        [
            l
            for l in plan.splitlines()
            if re.match(r"\(\d+\) Exchange", l.strip())
        ]
    )
    assert n_exchanges == 1, f"expected 1 shuffle, saw {n_exchanges}:\n{plan}"


def test_embedding_drift_is_bounded_aggregate(spark, registry):
    """train_embedding_drift: binned counts and totals only — no
    joins other than the broadcast of the 1-row totals, no cartesian
    blowup, no sort."""
    plan = plan_of(spark, registry, "train_embedding_drift")
    assert "BroadcastExchange" in plan  # 1-row totals
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_scd2_branch_joins_stay_key_equi(spark, registry):
    """src_scd2_history is WRITTEN as one full-outer key join with
    three filtered branches; Catalyst's EliminateOuterJoin pushes
    each branch's null-side filters through and SPECIALIZES the outer
    join per branch (Inner for close-outs, LeftOuter/RightOuter for
    kept/fresh) — semantics identical, each branch cheaper than the
    generic outer join. Pin what matters at scale: at most one key
    join per branch, every one an equi-join (broadcast here; shuffled
    and co-partitioned on the same key at 100 TB), and no cartesian."""
    import re

    plan = plan_of(spark, registry, "src_scd2_history")
    joins = len(
        [
            l
            for l in plan.splitlines()
            if re.match(r"\(\d+\) \w*Join", l.strip())
        ]
    )
    assert joins <= 3, f"more join nodes than history branches:\n{plan}"
    assert "CartesianProduct" not in plan


def test_sparse_gd_weight_join_gated_on_feature_count(spark):
    """operators/logreg.py weight_state_join: the postings⨝weights
    join BROADCASTS the weight state while it is small (≤ 2^20 rows,
    a few MB) and drops the hint past the gate so the state never has
    to be collected to the driver — the plan choice the 100 TB
    docstring claims, pinned on both sides of the threshold."""
    from pyspark.sql import functions as F

    from fuzzy_item_matching_spark.operators.logreg import (
        SPARSE_BROADCAST_MAX_FEATURES,
        weight_state_join,
    )

    post = spark.createDataFrame(
        [(1, 0, 1.0), (1, 1, 0.5), (2, 0, 1.0)], "row_id int, j int, x double"
    )

    def weights(n):
        return spark.range(0, n + 1).select(
            F.col("id").cast("int").alias("j"), F.lit(0.0).alias("w")
        )

    small = weight_state_join(post, weights(16), 16)
    plan = small._jdf.queryExecution().optimizedPlan().toString()
    assert "BROADCAST" in plan.upper(), plan

    big_n = SPARSE_BROADCAST_MAX_FEATURES + 1
    big = weight_state_join(post, weights(big_n), big_n)
    plan = big._jdf.queryExecution().optimizedPlan().toString()
    assert "BROADCAST" not in plan.upper(), plan
    # Past the gate the plan carries NO hint — the physical strategy
    # is Catalyst's cost call (at local test scale its size estimate
    # may still pick broadcast; at the 10^7+-feature scale the gate
    # exists for, the estimate exceeds autoBroadcastJoinThreshold and
    # the join shuffles on j). The pin is hint-absence: nothing forces
    # a driver-side collect of the weight state.


def test_sparse_gd_empty_postings_is_clear_error(spark):
    import pytest as _pytest

    from fuzzy_item_matching_spark.operators.logreg import (
        sparse_logistic_gd_fit,
    )

    rows = spark.createDataFrame([(1, 1)], "row_id int, label int")
    post = spark.createDataFrame([], "row_id int, j int, x double")
    with _pytest.raises(ValueError, match="postings frame is empty"):
        sparse_logistic_gd_fit(rows, post, iters=1)


def test_wordlm_model_pruned_before_broadcast(spark, registry):
    """ts_wordlm_score: the bigram model must be PRUNED (corpus count
    >= min_count) before the BroadcastExchange — the CCNet trade that
    bounds the broadcast by construction. The plan must show the c2
    filter upstream of a broadcast, and broadcasts present for the
    model-side joins."""
    plan = plan_of(spark, registry, "ts_wordlm_score")
    assert "BroadcastExchange" in plan
    import re

    assert re.search(r"c2#\d+L? >= 2", plan), (
        f"min-count prune missing from plan:\n{plan}"
    )


def test_substring_spans_semi_join_no_cartesian(spark, registry):
    """dedup_substring_spans: the duplicated-gram set must come back
    as a LEFT-SEMI equi-join on the hashed gram (inverted-index
    discipline), never a cartesian or a pair join."""
    plan = plan_of(spark, registry, "dedup_substring_spans")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assignment_is_joinless(spark, registry):
    """vec_kmeans_centroids: the centroid state ships as plan
    literals, so the OUTPUT plan (memoized model → long format) and,
    more importantly, the fit passes contain no join at all — the
    fit's per-iteration plan is scan → project(argmin) → explode →
    hash-agg. Here we pin the fit's update plan directly."""
    from fuzzy_item_matching_spark.operators.kmeans import _points
    from fuzzy_item_matching_spark.tables import load_table
    from pyspark.sql import functions as F
    import io
    from contextlib import redirect_stdout

    e = load_table(spark, SF_CHECK, "embeddings")
    pts = _points(e)
    cents = [[0.1] * 64, [0.2] * 64]
    from fuzzy_item_matching_spark.operators.kmeans import KM_Q

    with_d = pts.select(
        "x",
        *[
            F.aggregate(
                F.zip_with(F.col("x"), F.lit(c), lambda p, q: (p - q) * (p - q)),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias(f"__d{i}")
            for i, c in enumerate(cents)
        ],
    )
    dmin = F.least(F.col("__d0"), F.col("__d1"))
    assign = F.when(F.col("__d0") == dmin, 1).when(F.col("__d1") == dmin, 2)
    upd = (
        with_d.select(assign.alias("c"), "x")
        .select("c", F.posexplode("x").alias("pos", "xv"))
        .groupBy("c", (F.col("pos") + 1).alias("j"))
        .agg(F.sum(F.floor(F.col("xv") * KM_Q)).alias("s"))
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        upd.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2  # the single combine agg (+AQE read)
    assert "HashAggregate" in plan


def test_fs_em_pattern_compression_single_pair_pass(spark, registry):
    """serve_fs_em_fit: the output model is literal rows (EM state) —
    the expensive part already ran at build time through ONE blocked
    self-join + pattern groupBy per session. Pin the output shape and
    that the build used a sort-merge/hash EQUI join (never nested
    loop) by re-deriving the pattern frame."""
    from fuzzy_item_matching_spark.tables import load_table
    from pyspark.sql import functions as F
    import io
    from contextlib import redirect_stdout

    p = load_table(spark, SF_CHECK, "part").select(
        "p_partkey", "p_brand", "p_size", "p_type"
    )
    a, b = p.alias("a"), p.alias("b")
    pat = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .groupBy((F.col("a.p_type") == F.col("b.p_type")).alias("g1"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        pat.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pr_curve_single_pass_all_thresholds(spark, registry):
    """train_pr_curve: all 19 operating points in ONE pass — a
    broadcast of the threshold frame into one hash aggregate, never a
    scan or join per threshold."""
    plan = plan_of(spark, registry, "train_pr_curve")
    assert plan.count("Scan parquet") <= 4  # pair build (2 sides) ×2 mentions
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "HashAggregate" in plan


def test_rrf_postings_pruned_at_scan(spark, registry):
    """sim_rrf_fusion: the query-term IN filter must reach the token
    explode before the tf aggregate — the posting shuffle carries only
    the union of query terms."""
    plan = plan_of(spark, registry, "sim_rrf_fusion")
    assert "CartesianProduct" not in plan
    # the IN-list filter on the exploded term column
    assert "term" in plan and ("IN (" in plan or "INSET" in plan.upper())


def test_probe_sweep_single_index_no_cartesian(spark, registry):
    """sim_ann_ivf_probe_sweep: the sweep levels expand the BOUNDED
    candidate frame (a broadcast inequality join against the 3-row
    levels frame), never the corpus — no CartesianProduct anywhere,
    the candidate cell join stays a key equi-join, and the cell
    scoring is computed once (InMemoryTableScan of the persisted
    scored frame on every reuse)."""
    plan = plan_of(spark, registry, "sim_ann_ivf_probe_sweep")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "BroadcastNestedLoopJoin" in plan  # levels (3 rows) only


def test_gboost_deep_oracle_aggregate_budget():
    """The depth-d booster's scale claim — depth d costs d grouped
    aggregates per round, never 2^d — pinned structurally on the
    generated oracle (which mirrors the fit CTE-for-CTE): rounds×depth
    candidate aggregates, per-node best CTEs = rounds×(2^depth − 1),
    node-totals aggregates likewise one per level."""
    from fuzzy_item_matching_spark.operators.gboost_deep import (
        gboost_deep_ctes,
    )

    rounds, depth = 2, 3
    body, _ = gboost_deep_ctes(
        "SELECT 1 AS label, 1.0 AS x1, 2.0 AS x2", ["x1", "x2"],
        rounds=rounds, depth=depth,
    )
    assert body.count("ev") >= 1
    import re

    evs = re.findall(r"\bev\d+_\d+ AS", body)
    nts = re.findall(r"\bnt\d+_\d+ AS", body)
    bs = re.findall(r"\bb\d+_\d+ AS", body)
    assert len(evs) == rounds * depth
    assert len(nts) == rounds * depth
    assert len(bs) == rounds * (2**depth - 1)


def test_bucketed_colocated_join_no_join_exchange(spark, registry):
    """src_bucketed_colocated_join: both sides pre-bucketed on the
    join key, so the SortMergeJoin runs with NO shuffle on either
    input — the plan must not hash-partition on the join keys; the
    only exchange is the final small group-by."""
    plan = plan_of(spark, registry, "src_bucketed_colocated_join")
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(o_orderkey" not in plan
    assert "hashpartitioning(l_orderkey" not in plan


def test_end_to_end_merge_broadcasts_delta(spark, registry):
    """serve_end_to_end's MERGE anti-join must broadcast the small
    delta side, and the lifecycle plan must contain no cartesian
    product and no Python eval in the scoring path (the reloaded
    artifact scores as an inlined SQL expression)."""
    plan = plan_of(spark, registry, "serve_end_to_end")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_recursive_hierarchy_uses_union_loop(spark, registry):
    """rel_recursive_hierarchy must execute as the engine-owned
    recursive loop (UnionLoop), not a driver-side iteration."""
    plan = plan_of(spark, registry, "rel_recursive_hierarchy")
    assert "UnionLoop" in plan, "recursion must run as UnionLoop"


def test_sql_table_function_is_inlined(spark, registry):
    """The SQL table function must be analyzer-inlined: the plan shows
    the explode expansion, never a Python eval node."""
    plan = plan_of(spark, registry, "rel_sql_table_function")
    assert "Generate explode" in plan or "explode" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_python_udtf_shuffles_once_on_partition_key(spark, registry):
    """The UDTF's TABLE(... PARTITION BY o_custkey) contract costs the
    same single exchange a window would — and appears as the Python
    UDTF eval node (the declared Python row path)."""
    plan = plan_of(spark, registry, "rel_python_udtf_runs")
    assert "BatchEvalPythonUDTF" in plan, plan[:500]
    # exactly one exchange: the partition-key repartition (aliased
    # partition_by_0), followed by the in-partition sort
    assert plan.count(") Exchange") == 1, plan
    assert "hashpartitioning(partition_by_0" in plan
    assert "Sort" in plan


def test_maxsim_interaction_is_broadcast_not_shuffle(spark, registry):
    """The late-interaction (q-token × d-token) 'join' must be a
    broadcast nested loop over the tiny literal query frame — a
    shuffle there would grow with the corpus."""
    plan = plan_of(spark, registry, "sim_maxsim_topk")
    assert "BroadcastNestedLoopJoin" in plan
    # no cartesian fallback anywhere in this plan
    assert "CartesianProduct" not in plan


def test_bitmap_overlap_join_is_keyed_on_words(spark, registry):
    """The pairwise-overlap join keys on word_idx (only co-occupied
    words pair) — it must plan as a keyed join, never a cartesian."""
    plan = plan_of(spark, registry, "rel_bitmap_overlap")
    assert "CartesianProduct" not in plan
    assert "word_idx" in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_cusum_windows_are_user_partitioned(spark, registry):
    """Both CUSUM window passes must partition by user_id — a global
    window would serialize the whole stream through one task."""
    plan = plan_of(spark, registry, "rel_cusum_changepoints")
    assert "CartesianProduct" not in plan
    # two window operators, both carrying the user partition key
    assert plan.count("Window") >= 2
    assert "user_id" in plan


def test_pit_features_single_user_shuffle(spark, registry):
    """The PIT assembly shares ONE user-keyed exchange across all
    three strictly-prior window features."""
    plan = plan_of(spark, registry, "train_pit_features")
    # one Window operator node (all three features share its frame),
    # fed by one user-keyed exchange
    assert plan.count("(5) Window") or plan.count("Window") >= 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(user_id" in plan


@pytest.mark.parametrize("mode", ["pair", "self"])
def test_lsh_sqdist_join_is_one_sorted_pass(spark, mode):
    """Bucketing and scoring are one ``mapInPandas`` each over a
    (table, bucket)-sorted stream: no per-key grouped pandas call and
    no cap window."""
    from fuzzy_item_matching_spark.operators.lsh import lsh_sqdist_join

    df = spark.createDataFrame([(1, [0.0, 1.0])], "id long, vec array<double>")
    out = lsh_sqdist_join(
        df, df if mode == "pair" else None, "id", "vec", 1.0,
        n_tables=2, dim=2, bucket_cap=3,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas", "Window"):
        assert node not in plan, plan
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 2, plan
