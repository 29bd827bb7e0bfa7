"""Named query registry — the engine's checkable capability surface.

Every operator from SURVEY.md §2 (plus the scale extensions: dedup,
similarity search, text analysis) is exposed as a named query:

    (spark, sf_dir) -> DataFrame            # Spark-first implementation
    oracle: str | None                      # inline DuckDB SQL, if any

Each query and its DuckDB oracle run at sf0.01 and are compared on
row count, schema, and an order-insensitive value hash.
Oracles are not engine code: read them only through
``oracles.oracle_sql()`` (the root ``oracles/`` package, which this
package never imports). It merges the inline ``Query.oracle`` strings
with the oracles generated by the DuckDB twins in ``oracles/``, keyed by
query name. Queries whose semantics are not SQL-expressible (LSH
bucketing, streaming state) have neither → rows-only check, with
stronger checks in tests/.

Determinism rules for oracle-checked queries:
- every computed column is aliased identically in Spark and SQL;
- floating aggregates go through DECIMAL(18,2) (exact, order-insensitive)
  or are rounded to a fixed scale both sides;
- LIMIT only after a total order (unique tie-break key);
- no wall-clock, no unseeded randomness.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # inline DuckDB SQL; read oracles via oracles.oracle_sql()
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a named engine query with an optional inline
    oracle (the generated ones register in ``oracles/`` instead)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


# The driver verifies queries in registry order under a bounded budget
# (round 2 checked exactly the first 50 entries), so ordering is part of
# the contract: oracle-bearing queries that uniquely verify a SURVEY §2
# operator come first, queries whose operators are redundantly covered
# by earlier entries come after, and rows-only queries (no oracle →
# weaker check regardless of position) go last. Names listed here but
# not registered are skipped, and registered-but-unlisted names are
# appended, so the list stays safe across renames;
# tests/test_registry_order.py asserts the invariants.
CHECK_PRIORITY: tuple[str, ...] = (
    # =================================================================
    # r15 rotation — RE-PROOF of the r14 optimization surface (r14
    # VERDICT ask #2): the r14 rotation was committed before most of
    # the round's optimization commits landed, so 44 of the 45 queries
    # changed by the 14 verified-real r14 optimizations carry no r14
    # driver proof (only vec_l2_norm sits in the r14 prefix). The r15
    # prefix leads with sim_exact_sqdist_pairs (promised position-51
    # lead from the r14 rotation note) and then re-proves every
    # changed-but-unproven r14 query, grouped by the OPTIMIZATION_r14
    # change that touched it; the tail slots go to queries whose
    # operators THIS round changed (annotated r15 below). The entire
    # r14 prefix (50/50 exact in CORRECTNESS_r14.json) demotes below.
    # Per-slot prose history for rounds 2-14 lives in git:
    # queries/__init__.py @ cee685a (r14), 465a8e4 (r13), ef80752
    # (r12), 4a17023 (r11), 5c59726 (r10), 8f43f14 and earlier.
    # =================================================================
    "sim_exact_sqdist_pairs",  # was r2; the promised r15 lead
    # -- §13 driver-side bounded loops (repr-cast/libm-equals-JVM
    #    arguments — the round's riskiest rewrites, lead the re-proof):
    "rel_holt_forecast",  # was r12; r14 driver-side recursion
    "rel_markov_removal_attribution",  # was r12; r14 driver-side absorption
    "ts_doremi_mixture",  # was r10; r14 driver-side MW loop
    # -- §15/§14 row-local Arrow kernels (text/LM):
    "text_unigram_segments",  # was r09; r14 row-local Viterbi kernel
    "ts_charlm_score",  # was r07; r14 row-local bigram TF kernel
    # -- §1 winnowing map-only rewrite (embedded-DuckDB kernel):
    "dedup_winnowing_pairs",  # was r12; r14 map-only winnowing
    "dedup_incremental_winnowing",  # was r12; r14 map-only winnowing
    # -- §2 PCA Gram Arrow int64 fold:
    "vec_pca_power",  # was r09; r14 Arrow Gram fold
    "vec_pca_deflation",  # was r13; r14 Arrow Gram fold
    # -- §11/§12 IVF/PQ numpy kernels + l2_normalize fix:
    "sim_ann_ivf_topk",  # was r06; r14 cell-order kernel
    "sim_ann_ivfpq_topk",  # was r07; r14 PQ/cell kernels
    "sim_ann_pq_topk",  # was r06; r14 PQ code kernel
    "sim_ann_ivf_probe_sweep",  # was r10; r14 cell-order kernel
    "sim_ann_ivfpq_recall",  # was r07; r14 PQ/cell kernels
    "train_diverse_sample",  # was r11; r14 assign_cells kernel
    "dedup_semantic_pairs",  # was r07; r14 ivf_cell_pairs kernel
    "dedup_semantic_recall",  # was r11; r14 ivf_cell_pairs kernel
    "dedup_semantic_keep",  # was r11; r14 ivf_cell_pairs kernel
    # -- §10 LSH sqdist numpy buckets:
    "sim_lsh_sqdist_pairs",  # was r07; r14 numpy bucket kernel
    "sim_struct_pairs",  # was r08; r14 numpy bucket kernel
    "serve_incremental_scoring",  # was r07; r14 numpy bucket kernel
    # -- §9 gboost g/h hoist (+ §10 composition):
    "train_gboost_fit",  # was r09; r14 g/h hoist
    "train_gboost_early_stop",  # was r09; r14 g/h hoist
    "train_gboost_poisson",  # was r12; r14 g/h hoist
    "train_gboost_score",  # was r09; r14 g/h hoist (memoized fit)
    "train_hard_negatives",  # was r10; r14 g/h hoist (memoized fit)
    "train_rf_stumps",  # was r13; r14 g/h hoist (rf family)
    "train_rf_oob_eval",  # was r12; r14 g/h hoist (rf family)
    "serve_end_to_end",  # was r10; r14 g/h hoist + numpy buckets
    # -- §3 jaccard postings inline-sizes + length prefilter:
    "dedup_ngram_jaccard",  # was r12; r14 inline sizes/prefilter
    "dedup_minhash_recall",  # was r12; r14 inline sizes (exact side)
    "pipe_corpus_clean",  # was r12; r14 inline sizes/prefilter
    "dedup_canonical_map",  # was r12; r14 inline sizes/prefilter
    "dedup_canonical_closure",  # was r12; r14 inline sizes/prefilter
    # -- §7 minhash LSH sizes-ride-the-band-explode:
    "dedup_minhash_lsh",  # was r07; r14 band-explode sizes
    "dedup_incremental_minhash",  # was r08; r14 band-explode sizes
    # -- §5 brand co-purchase graph scratch tables:
    "rel_basket_rules",  # was r11; r14 brand-graph table
    "rel_pagerank_brands",  # was r07; r14 brand-graph table
    "rel_triangle_clustering",  # was r10; r14 brand-graph table
    # -- §6/§4 textstats plan rewrites:
    "ts_textrank_terms",  # was r13; r14 row-local adjacency
    "ts_coverage_greedy",  # was r13; r14 running-sum gains
    # ^ 42 slots: 1 promised lead + 41 r14-changed re-proofs.
    # -- r15 changed-operator re-proofs (this round's optimizations;
    #    impact-map discipline — each name's operator changed in r15):
    "sim_maxscore_topk",  # was r12; r15 examined (scaling rows, no change)
    "train_sparse_logreg",  # was r08; r15 examined (iter decomposition)
    "sim_blocking_eval",  # was r09; r15 changed (flagged-join counts)
    "rel_ppr_parts",  # was r12; r15 changed (persisted out-degree ledger)
    # -- the 4 spare slots went to this round's remaining changed
    #    operators (impact-map discipline; the displaced spares
    #    rel_cuped_adjustment / rel_label_propagation / rel_kcore_parts
    #    / sim_fuzzy_part_pairs are r12/r09-proven and unchanged):
    "rel_hits_scores",  # was r12; r15 changed (persisted edge list)
    "rel_event_funnel",  # was r12; r15 changed (persisted stage frames)
    "dedup_funnel_counts",  # was r12; r15 changed (mult-carrying agg)
    "ts_stolcke_prune",  # was r13; r15 changed (row-local bigrams)
    # ^ budget math: 1 promised lead + 41 r14 re-proofs + 8 r15 slots
    #   = 50.
    # =================================================================
    # r14 rotation — retires driver-proof STALENESS (r13 VERDICT ask
    # #2): with zero spill last round, the 50 slots go to (a) the 34
    # queries whose newest driver-exact row is 9-11 rounds old — all 16
    # r2-era rows and all 18 r4-era rows, the oldest proofs in the
    # registry (every other registered query's newest driver row is r5
    # or later) — and (b) the round-14 births, inserted as they land.
    # Budget math: 33 retirements + 1 changed-op re-proof + 16 births = 50.
    # The entire r13 prefix (50/50 exact in CORRECTNESS_r13.json, the
    # second consecutive zero-rows-only zero-failure prefix) demotes
    # below. Every demoted name is annotated with the round of its
    # newest driver-green CORRECTNESS row. Per-slot prose history for
    # rounds 2-13 lives in git: queries/__init__.py @ 465a8e4 (r13),
    # ef80752 (r12), 4a17023 (r11), 5c59726 (r10), 8f43f14 and earlier.
    # =================================================================
    # -- the 16 r2-era proofs (newest driver-exact row: CORRECTNESS_r02):
    "rel_union_distinct_nations",  # was r2
    "rel_segment_distinct_parts",  # was r2
    "rel_case_buckets",  # was r2
    "rel_pricing_summary",  # was r2
    "rel_top_parts_per_brand",  # was r2
    "rel_region_rollup",  # was r2
    "rel_customers_without_orders",  # was r2
    "rel_customers_with_open_orders",  # was r2
    "rel_intersect_segments",  # was r2
    "rel_except_segments",  # was r2
    "rel_cube_summary",  # was r2
    "rel_pivot_status_priority",  # was r2
    "rel_range_join_bands",  # was r2
    "mm_binary_meta",  # was r2
    "mm_frame_sample",  # was r2
    # -- the 18 r4-era proofs (newest driver-exact row: CORRECTNESS_r04):
    "text_tokens",  # was r4
    "ts_lang_id",  # was r4
    "src_parquet_write_read",  # was r4
    "rel_expr_join_scoring",  # was r4
    "text_stop_filtered",  # was r4
    "vec_l2_norm",  # was r4
    "rel_order_lines_collect",  # was r4
    "rel_events_hourly",  # was r4
    "rel_sql_entrypoint",  # was r4
    "ts_token_counts",  # was r4
    "stream_user_value_totals",  # was r4
    "text_char_3grams",  # was r4
    "text_word_2grams",  # was r4
    "serve_merge_upsert",  # was r4
    "sim_fuzzy_doc_pairs",  # was r4
    "rel_price_clean_cast",  # was r4
    "vec_label_pair_stats",  # was r4
    "dedup_embedding_exact_pairs",  # was r4
    # -- r14 changed-operator re-proof (impact map,
    #    scripts/impact_map.py): vec_grid_density_clusters' cell-key
    #    packing changed this round (collision-free 2^32 packing, the
    #    ADVICE fix), so its r13 proof no longer covers HEAD. It takes
    #    the 34th retirement slot; the one old row it displaces,
    #    sim_exact_sqdist_pairs (r2), moves to position 51 — it is an
    #    O(n²) oracle twin whose semantics are exercised by the
    #    containment checks of the LSH family, the least re-proof
    #    information of the r2 set — and leads the r15 rotation.
    "vec_grid_density_clusters",  # was r13; re-proof of the key-packing fix
    # -- r14 births are inserted here as they land:
    "train_kendall_tau",  # r14 birth: tau-b over bounded contingency
    "train_mann_whitney",  # r14 birth: tie-corrected rank-sum test
    "train_wilcoxon_signed_rank",  # r14 birth: paired signed-rank test
    "train_cramers_v",  # r14 birth: categorical chi2 association
    "train_durbin_watson",  # r14 birth: residual autocorrelation
    "train_chow_test",  # r14 birth: structural-break F test
    "train_poisson_irls",  # r14 birth: count GLM, closed-form IRLS
    "train_rbo",  # r14 birth: rank-biased overlap of top-k lists
    "ts_readability",  # r14 birth: Flesch reading-ease bands
    "ts_tokenizer_fertility",  # r14 birth: BPE pieces/word by language
    "rel_seasonal_decompose",  # r14 birth: classical MA decomposition
    "rel_rfm_segmentation",  # r14 birth: quintile RFM codes
    "vec_jl_projection",  # r14 birth: JL distortion histogram
    "vec_spherical_kmeans",  # r14 birth: cosine Lloyd, renormalized
    "rel_adamic_adar_recall",  # r14 birth: capped-vs-exact AA recall
    "sim_ann_probe_sensitivity",  # r14 birth: multiprobe recall curve
    # ^ budget math: 33 staleness retirements + 1 changed-operator
    #   re-proof + 16 births = 50.
    # -- demoted by the r14 rotation: the entire r13 prefix, all 50
    #    exact in CORRECTNESS_r13.json:
    "train_km_survival",  # r13
    "rel_markov_stationary",  # r13
    "vec_kcenter_init",  # r13
    "rel_bitmap_overlap",  # r13
    "rel_skyline_parts",  # r13
    "text_phonetic_blocking",  # r13
    "ts_good_turing",  # r13
    "train_pit_features",  # r13
    "ts_js_divergence",  # r13
    "train_dp_noisy_counts",  # r13
    "train_uncertainty_batch",  # r13
    "train_cost_threshold",  # r13
    "ts_burrows_delta",  # r13
    "train_decile_lift",  # r13
    "rel_abc_classes",  # r13
    "src_file_metadata",  # r13
    # -- r13 re-verification: consumers of this round's operator
    #    refactors — prior green row noted:
    "sim_ann_multiprobe_lsh",  # r13
    "sim_ann_lsh_topk",  # r13
    "sim_ann_graph_expand",  # r13
    # -- r13 births are inserted here as they land:
    "rel_adamic_adar",  # r13
    "rel_bfs_distances",  # r13
    "rel_benford_audit",  # r13
    "rel_gini_concentration",  # r13
    "rel_fifo_allocation",  # r13
    "rel_seq_patterns",  # r13
    "train_linear_shap",  # r13
    "train_mcnemar",  # r13
    "train_brier_decomposition",  # r13
    "train_woe_encoding",  # r13
    "train_ridge_normal_eq",  # r13
    "train_huber_gd",  # r13
    "train_bradley_terry_gd",  # r13
    "train_ipw_ate",  # r13
    "ts_rake_keyphrases",  # r13
    "ts_vocab_coverage_curve",  # r13
    "rel_label_propagation",  # r12; displaced r15 spare (unchanged)
    "vec_rff_features",  # r13
    "vec_mahalanobis_outliers",  # r13
    "train_xicor",  # r13
    "train_spearman_corr",  # r13
    "train_temperature_scaling",  # r13
    "train_cohen_kappa",  # r13
    "vec_random_cut_density",  # r13
    "rel_theil_decomposition",  # r13
    "ts_boilerplate_ngrams",  # r13
    # ^ budget math: 19 spill + 3 re-proofs + 28 births = 50 slots.
    #   Late r13 refactor note (impact map, scripts/impact_map.py
    #   _copurchase_graph): the co-purchase graph became a
    #   build-once scratch-parquet table. Its five consumers were all
    #   judge-simmed exact post-refactor; two (rel_adamic_adar,
    #   rel_bfs_distances) sit in this prefix so the driver
    #   re-proves the shared table directly, and the three demoted
    #   consumers (LPA/PPR/k-core, all r12 driver-green) read the
    #   same table through the same code path — the dependency-graph
    #   re-proof argument the impact map exists to make.
    # -- demoted by the r13 rotation: the entire r12 prefix, all 50
    #    exact in CORRECTNESS_r12.json (first zero-rows-only prefix):
    "rel_recursive_closure",  # r12
    "train_als_implicit",  # r12
    "rel_lateral_topk_per_cust",  # r12
    "rel_transpose_status_metrics",  # r12
    "serve_als_topk",  # r12
    "ts_kmv_lang_jaccard",  # r12
    "rel_price_quantiles",  # r12
    "rel_value_outliers",  # r12
    "rel_ntile_price_deciles",  # r12
    "ts_seq_packing",  # r12
    "ts_corpus_shuffle",  # r12
    "train_stratified_sample",  # r12
    "ts_repetition",  # r12
    "ts_distinct_kmv",  # r12
    "ts_token_dominance",  # r12
    "ts_top_terms",  # r12
    "pipe_corpus_funnel",  # r12
    "dedup_simhash",  # r12
    "rel_kcore_parts",  # r12; displaced r15 spare (unchanged)
    "rel_cm_join_size",  # r12
    "rel_time_decay_attribution",  # r12
    "ts_mi_terms",  # r12
    "train_quantile_gd",  # r12
    "dedup_containment_pairs",  # r12
    "train_conformal_ols",  # r12
    "serve_als_foldin",  # r12
    "rel_cusum_changepoints",  # r12
    "rel_cuped_adjustment",  # r12; displaced r15 spare (unchanged)
    "sim_maxsim_topk",  # r12
    "ts_kmv_anb",  # r12
    "train_fm_gd",  # r12
    # -- demoted by the r12 rotation: the entire r11 prefix, all 50
    #    driver-green in CORRECTNESS_r11.json:
    "rel_variant_props",  # r11
    "rel_sql_udf_tiers",  # r11
    "rel_pipe_syntax_pricing",  # r11
    "stream_state_inspector",  # r11
    "stream_ewma_control",  # r11
    "rel_sql_table_function",  # r11
    "rel_python_udtf_runs",  # r11
    "rel_pandas_udaf_median",  # r11
    "ts_filter_agreement",  # r11
    "vec_arrow_map_norms",  # r11
    "train_adaboost_d2_score",  # r11
    "train_isotonic_calibration",  # r11
    "train_target_encoding",  # r11
    "pipe_length_buckets",  # r11
    "train_robust_scaler",  # r11
    "ts_oov_rate",  # r11
    "train_embedding_drift",  # r11
    "ts_doc_quality",  # r11
    "src_keyed_sample",  # r11
    "text_bpe_segments",  # r11
    "train_ols_by_brand",  # r11
    "train_calibration_bins",  # r11
    "ts_char_entropy",  # r11
    "ts_chi2_terms",  # r11
    "train_ndcg",  # r11
    "train_standard_scaler",  # r11
    "train_bootstrap_means",  # r11
    "train_cv_auc",  # r11
    "train_drift_stats",  # r11
    "ts_rag_chunks",  # r11
    "train_learning_curve",  # r11
    "rel_unpivot_metrics",  # r11
    "train_source_mixture",  # r11
    "stream_events_sliding",  # r11
    "vec_centroid_by_label",  # r11
    "vec_knn_bruteforce",  # r11
    "rel_rolling_user_value",  # r11
    "rel_rows_frame_ma",  # r11
    "rel_observed_metrics",  # r11
    "rel_latest_event_per_user",  # r11
    "rel_audit_referential",  # r11
    "rel_audit_profile",  # r11
    "stream_heavy_hitters_bounded",  # r11
    "train_fit_score_model",  # r11
    # -- demoted in earlier rounds, each keeping the noted record:
    "train_gboost_hist",  # r10
    "train_gboost_hist_stochastic",  # r10
    "train_gboost_d3_score",  # r10
    "train_tpe_search",  # r10
    "train_split_finder_bakeoff",  # r10
    "train_permutation_importance",  # r10
    "ts_gopher_repetition",  # r10
    "ts_ccnet_buckets",  # r10
    "rel_cohort_retention",  # r10
    "rel_ewma_control",  # r10
    "rel_last_touch_attribution",  # r10
    "src_bucketed_colocated_join",  # r10
    "serve_fs_match_curve",  # r10
    "ts_token_stats",  # r10
    "rel_grouping_sets",  # r10
    "rel_salted_agg",  # r10
    "rel_scd2_user_state",  # r10
    "src_partitioned_prune",  # r10
    "src_schema_evolution",  # r10
    "src_python_datasource",  # r10
    "src_jsonl_roundtrip",  # r10
    "src_orc_roundtrip",  # r10
    "src_compaction",  # r10
    "src_dynamic_partition_overwrite",  # r10
    "src_snapshot_diff",  # r10
    "src_quarantine_split",  # r10
    "stream_python_source_totals",  # r10
    "stream_dedup_within_watermark",  # r10
    "stream_quality_scores",  # r10
    "stream_static_enriched",  # r10
    "rel_json_props",  # r10
    "rel_user_sessions_batch",  # r10
    "rel_skew_report",  # r10
    "rel_histo_quantiles",  # r10
    "sim_fuzzy_part_pairs",  # r09; displaced r15 spare (unchanged)
    "dedup_boundary_overlap",  # r10
    "pipe_incremental_refresh",  # r10
    "pipe_preference_pairs",  # r10
    "train_roc_auc",  # r10
    "ts_pmi_cooccurrence",  # r10
    "vec_matryoshka_topk",  # r10
    "sim_ann_recall",  # r10
    "train_gboost_colsample_node",  # r10
    "rel_recursive_hierarchy",  # r10
    "rel_bucketed_range_join",  # r09
    "sim_bm25_topk",  # r09
    "serve_fs_em_fit",  # r09
    "dedup_substring_spans",  # r09
    "ts_dsir_weights",  # r09
    "stream_anomaly_zscore",  # r09
    "rel_range_interval_ma",  # r09
    "ts_kneser_ney",  # r09
    "sim_rrf_fusion",  # r09
    "text_unigram_em",  # r09
    "vec_kmeans_centroids",  # r09
    "train_adaboost_stumps",  # r09
    "train_successive_halving",  # r09
    "train_word2vec_lite",  # r09
    "stream_merge_sink",  # r09
    "ts_loss_mask",  # r09
    "stream_stateful_user_stats",  # r09
    "serve_model_registry",  # r09
    "train_logreg_gd",  # r09
    "dedup_golden_record",  # r09
    "stream_stream_join",  # r09
    "dedup_cdc_chunks",  # r09
    "serve_match_score",  # r09
    "serve_pipeline_featurize",  # r09
    "train_gboost_depth3",  # r09
    "train_gboost_stochastic",  # r09
    "vec_kmeans_elbow",  # r09
    "vec_kmeans_silhouette",  # r09
    "train_gboost_d2_score",  # r09
    "train_gboost_importance",  # r09
    "train_pr_curve",  # r09
    "train_ece",  # r09
    "text_unigram_prune",  # r09
    "serve_fs_em_scores",  # r09
    "mm_scene_cuts",  # r09
    "mm_image_resize",  # r09
    "ts_ngram_novelty",  # r09
    "ts_term_burstiness",  # r09
    "ts_zipf_fit",  # r09
    "train_label_noise",  # r09
    "stream_dsir_scores",  # r09
    "serve_canary_compare",  # r08
    "ts_sketch_compare",  # r08
    "train_quality_score",  # r08
    "ts_vocab_growth",  # r08
    "dedup_chunk_lines",  # r08
    "serve_fs_linkage",  # r08
    "train_platt_scaling",  # r08
    "train_gboost_depth2",  # r08
    "train_adaboost_depth2",  # r08
    "train_keyed_split_sizes",  # r08
    "stream_ingest_dedup",  # r08
    "src_scd2_history",  # r08
    "stream_heavy_hitters",  # r08
    "ts_wordlm_score",  # r08
    "mm_image_features",  # r08
    "src_zorder_layout",  # r07
    "text_bpe_fit_batched",  # r07
    "train_weighted_sample",  # r07
    "mm_phash_pairs",  # r07
    "train_quality_distill",  # r07
    "sim_mmr_topk",  # r07
    "pipe_token_budget",  # r07
    "rel_bloom_semi_join",  # r07
    "rel_asof_join_events",  # r07
    "serve_vector_assembly",  # r07
    "ts_tfidf_weights",  # r07
    "train_adaboost_score",  # r07
    "text_jaro_winkler_pairs",  # r07
    "stream_user_sessions",  # r07
    "mm_audio_windows",  # r07
    "src_time_travel",  # r07
    "ts_hll_distinct",  # r07
    "text_bpe_fit",  # r06
    "rel_status_share",  # r06
    "ts_redact_pii",  # r06
    "ts_countmin_heavy",  # r06
    "rel_top_revenue_orders",  # r06
    "rel_cust_order_stats",  # r06
    "dedup_decontaminate",  # r06
    "train_class_weights",  # r06
    "train_avg_precision",  # r06
    "train_search_space",  # r06
    "stream_events_hourly",  # r06
    "stream_dedup_user_firsts",  # r06
    "dedup_exact_docs",  # r06
    "src_csv_roundtrip",  # r06
    "src_archive_ingest",  # r06
    "ts_fingerprint",  # r06
    "text_hashed_tf",  # r05
    "train_grid_search",  # r05
    "text_levenshtein_pairs",  # r05
    "vec_int8_topk",  # r05
    # -- global tail: the four rows-only-by-design queries (docs/
    #    VERIFICATION.md §3) — weaker check at any position, so they
    #    never displace an oracle-bearing row:
    "src_seeded_sample",  # rows-only by design; r11 driver row recorded
    "train_split_sizes",  # rows-only by design; r11 driver row recorded
    "train_ml_name_pipeline",  # rows-only by design; r11 driver row recorded
    "train_word2vec_shape",  # rows-only by design; r11 driver row recorded
)


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY) and
    return it in driver-check priority order (see CHECK_PRIORITY)."""
    from fuzzy_item_matching_spark.queries import (  # noqa: F401
        analytics,
        dedup,
        multimodal,
        relational,
        retrieval,
        serving,
        similarity,
        sources,
        streaming,
        training,
        text,
        textstats,
        vectors,
    )

    ordered = {
        name: REGISTRY[name] for name in CHECK_PRIORITY if name in REGISTRY
    }
    for name, q in REGISTRY.items():
        if name not in ordered:
            ordered[name] = q
    return ordered
