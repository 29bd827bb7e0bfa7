"""Benchmark harness: run the engine's headline queries at sf0.1.

Prints ONE JSON line:
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": <sf>}

Each query is forced end-to-end with the `noop` sink (full execution,
nothing collected to the driver). Queries named in ``EXCLUDE`` are
oracle-only O(n²) variants (exact cross-join distance joins) that exist
for correctness containment checks, not the scale path — their
approximate/bucketed twins ARE benchmarked.

Each query runs ``SPARK_GRAFT_BENCH_PASSES`` times (default 3) and the
reported time is the per-query minimum: the container shares the host
with a periodic scanner whose bursts land on a contiguous window of
queries (observed 1s queries ballooning to 20s in one pass and not the
next), and min-of-N across passes separated in time is the standard way
to measure steady-state cost under that noise. Pass totals are also
recorded per pass for transparency.

Tiers (r08, the registry passed 200 benched queries): the HEADLINE
tier — the 50-slot CHECK_PRIORITY prefix (the flagship surface, which
self-updates with rotations) plus ``HEADLINE_EXTRA`` (static heavy
non-prefix queries, ≥ ~2 s at sf0.1) — gets the full min-of-N passes;
the remaining light tail gets one pass by default, so total wall time
stays flat while per-query noise suppression concentrates where
regressions actually hide. ``SPARK_GRAFT_BENCH_TIER`` overrides:
``mixed`` (default, both tiers in one JSON), ``headline`` (headline
only), ``full`` (everything at min-of-N — the pre-r08 behavior). The
JSON line's shape is unchanged; a ``tiers`` key records the split.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# Oracle-form or side-effect queries excluded from the timing set.
EXCLUDE_PREFIXES = ("oracle_",)
EXCLUDE = {
    "sim_exact_sqdist_pairs",  # O(n²) oracle twin of lsh/sparse joins
    "dedup_embedding_exact_pairs",  # O(n²) oracle twin
    "vec_knn_bruteforce",  # O(n²) oracle twin of sim_ann_lsh_topk
    "sim_ann_recall",  # eval query containing the O(n²) ground truth
    "sim_ann_ivfpq_recall",  # same: exact MIPS ground truth embedded
    "dedup_semantic_recall",  # same: sampled exact cosine truth embedded
    "sim_ann_ivf_probe_sweep",  # same: strided exact cosine truth embedded
    "sim_ann_probe_sensitivity",  # same: O(n²) exact truth, 4-budget curve
    "rel_adamic_adar_recall",  # eval containing the UNCAPPED degree² join
    # MLlib interop adapter (SQLTransformer explode/collect stages are
    # MLlib's cost, not the engine's); its engine-native twin IS
    # benched (sim_fuzzy_part_pairs / ts_tfidf_weights).
    "train_ml_name_pipeline",
    # Offset-recovery test harness: THREE full checkpointed stream
    # restarts by design (Python stream sources run one batch per
    # availableNow drain) — restart machinery, not a data-path cost;
    # the single-drain streaming sink (stream_merge_sink) IS benched.
    "stream_python_source_totals",
    # Extension-API demo: every order row iterates through the Python
    # UDTF eval by DESIGN (its docstring names the window as the
    # production form — that JVM shape is benched many times over via
    # the lag/last_value family); the cost is the row path's, not the
    # engine's (the train_ml_name_pipeline precedent).
    "rel_python_udtf_runs",
}

# Heavy non-prefix queries promoted into the headline tier (measured
# >= ~2 s at sf0.1 in the r08 full 1-pass sweep). Static by design:
# an auditable list, revised when a full-tier run shows a new heavy
# query outside the prefix.
HEADLINE_EXTRA = {
    "dedup_semantic_keep",
    "src_keyed_sample",
    "train_adaboost_d2_score",
    "src_python_datasource",
    "train_adaboost_score",
    "train_fit_score_model",
    "dedup_boundary_overlap",
    "ts_charlm_score",
    "dedup_simhash",
    "dedup_canonical_map",
    "serve_incremental_scoring",
    "sim_ann_ivf_topk",
    "dedup_minhash_lsh",
    "rel_triangle_clustering",
    "rel_basket_rules",
    "dedup_ngram_jaccard",
    "ts_char_entropy",
    "src_dynamic_partition_overwrite",
    "sim_ann_pq_topk",
    "stream_heavy_hitters_bounded",
    "src_compaction",
    "train_word2vec_shape",
    "text_bpe_fit",
    "src_partitioned_prune",
    "dedup_funnel_counts",
    "stream_quality_scores",
    "pipe_corpus_funnel",
    "mm_audio_windows",
    # r08 additions measured >= ~2 s at sf0.1
    "vec_kmeans_centroids",
    "sim_blocking_eval",
    "train_gboost_depth2",
    "dedup_substring_spans",
    "ts_kneser_ney",
    "serve_fs_em_fit",
    "stream_anomaly_zscore",
    "vec_kmeans_silhouette",
    "text_unigram_em",
    "train_gboost_early_stop",
    "mm_scene_cuts",
    "serve_fs_em_scores",
    "train_ece",
    "vec_kmeans_elbow",
    "ts_ngram_novelty",
    "train_label_noise",
    "stream_dsir_scores",
    # r09: rows the rotation demoted below the prefix plus new
    # below-boundary capability fits, all >= ~2 s in the r09 full
    # 1-pass sweep — they keep min-of-N noise suppression.
    "serve_canary_compare",
    "dedup_incremental_minhash",
    "train_sparse_logreg",
    "train_gboost_hist",
    "sim_struct_pairs",
    "ts_wordlm_score",
    "ts_sketch_compare",
    "stream_heavy_hitters",
    "rel_pagerank_brands",
    "mm_phash_pairs",
    "sim_mmr_topk",
    "stream_user_sessions",
    "sim_ann_lsh_topk",
    "dedup_semantic_pairs",
    # r09 late additions measured >= ~2 s at sf0.1
    "ts_gopher_repetition",
    "ts_ccnet_buckets",
    "ts_doremi_mixture",
    "serve_fs_match_curve",
    "src_bucketed_colocated_join",
    "train_gboost_hist_stochastic",
    "train_tpe_search",
    "rel_cohort_retention",
    "rel_ewma_control",
    "train_gboost_d3_score",
    "train_split_finder_bakeoff",
    "train_permutation_importance",
    # r10: rows the record-clearing rotation demoted out of the prefix
    # that measured >= ~2 s at sf0.1 in BENCH_LOCAL_r09 — they keep
    # min-of-N noise suppression (the r09 precedent).
    "train_logreg_gd",
    "dedup_golden_record",
    "stream_stream_join",
    "vec_pca_power",
    "train_word2vec_lite",
    "dedup_canonical_closure",
    "text_unigram_segments",
    "sim_fuzzy_part_pairs",
    "pipe_corpus_clean",
    "dedup_minhash_recall",
    # r10 second pass: rows whose r09 sub-2s time was an artifact of
    # min-of-3 over the session fit memo (pass 1 pays the fit, passes
    # 2-3 hit the memo) — outside the headline tier they pay the full
    # fit once and read as false 10-20x regressions. Keep them
    # min-of-N like every other memoized fit family member.
    "train_gboost_fit",
    "train_gboost_stochastic",
    "train_gboost_d2_score",
    "sim_bm25_topk",
    "dedup_cdc_chunks",
    "sim_fuzzy_doc_pairs",
    # r11: rows the record-clearing rotation demoted out of the prefix
    # whose min-of-3 had amortized a memoized fit (colsample-node read
    # as a false 20x regression at 1 pass) or that measured >= ~2 s in
    # the r11 full sweep, plus this round's recursive-closure birth.
    "serve_end_to_end",
    "train_gboost_colsample_node",
    "sim_ann_ivfpq_topk",
    "sim_lsh_sqdist_pairs",
    "rel_recursive_closure",
    # r11 late births measured >= ~2 s at sf0.1 on the scaling chain's
    # x1 run (docs/scaling/x1c.json) — min-of-N from birth so their
    # first BENCH_LOCAL row is steady-state, not JIT-cold.
    "train_als_implicit",
    "rel_label_propagation",
    "dedup_winnowing_pairs",
    # serve_als_topk shares train_als_implicit's fit memo — outside the
    # tier its single pass could pay the whole fit and read as a false
    # regression (the gboost-memo precedent); poisson measured 2.9 s.
    "serve_als_topk",
    "train_gboost_poisson",
    "dedup_incremental_winnowing",
    "rel_ppr_parts",
    # r14 (VERDICT r13 ask #1): the single-pass tail audited by
    # cold_delta and by the r14-record heavy-tail sweep. serve_als_foldin
    # (7.4 s single-pass / 1.8 s warm) and train_rf_oob_eval (6.1 s /
    # 1.2 s warm) pay their family fit memo cold on every 1-pass run —
    # exactly the false-regression mode the r10 gboost precedent above
    # documents — plus every other >=2 s single-pass row from the r14
    # record so min-of-N noise suppression covers the whole heavy set.
    "serve_als_foldin",
    "train_rf_oob_eval",
    "sim_maxscore_topk",
    "rel_holt_forecast",
    "rel_markov_removal_attribution",
    "dedup_containment_pairs",
    "rel_kcore_parts",
    "train_quantile_gd",
    "ts_filter_agreement",
    "rel_hits_scores",
    "sim_maxsim_topk",
    "train_successive_halving",
    # r14 rotation demotions: the r14 prefix retires the 34 oldest
    # driver proofs, so the r12-spill/r13-birth rows leave the 50-slot
    # prefix tier; these measured >= ~1.8 s (or share a fit memo:
    # train_rf_stumps) and keep min-of-N.
    "vec_pca_deflation",
    "ts_coverage_greedy",
    "rel_adamic_adar",
    "ts_textrank_terms",
    "train_bradley_terry_gd",
    "rel_bfs_distances",
    "train_km_survival",
    "train_huber_gd",
    "ts_rake_keyphrases",
    "vec_kcenter_init",
    "train_rf_stumps",
    # r14 round-close audit: the rotation's demotion of the whole r13
    # prefix pushed NEW memo first-payers into the single-pass tail
    # (train_mcnemar 5.4 s / 0.8 s warm, train_brier_decomposition
    # 4.3 s / 1.1 s warm — each pays a share of the lr/gboost fit
    # memos the old multi-pass tier amortized; measured in-order in
    # one session, see OPTIMIZATION_r14.md). Every >=2 s single-pass
    # row of the min-of-2 r14 record joins the min-of-N tier — the
    # same cold-attribution fix the r10/r13 precedents document.
    "train_mcnemar",
    "train_brier_decomposition",
    "train_fm_gd",
    "train_platt_scaling",
    "rel_markov_stationary",
    "dedup_chunk_lines",
    "train_ridge_normal_eq",
    "rel_bitmap_overlap",
    "stream_merge_sink",
    "sim_ann_graph_expand",
    "train_hard_negatives",
    "dedup_decontaminate",
    "sim_rrf_fusion",
    # r15 rotation demotion: rel_cuped_adjustment leaves the 50-slot
    # prefix (displaced by this round's changed-operator re-proofs);
    # it keeps min-of-N — its r14 driver row read 8.2 s purely from a
    # 32-core scanner burst (~1.1 s steady in every same-commit
    # record), exactly the noise mode the min-of-N tier exists for.
    "rel_cuped_adjustment",
}


def main() -> None:
    # Isolate this process's side-effect paths (checkpoints, versioned
    # tables) BEFORE the engine modules read SCRATCH at import time —
    # a bench sharing .scratch with a concurrent driver/test process
    # can wedge on each other's stream checkpoints.
    os.environ.setdefault(
        "SPARK_GRAFT_SCRATCH", f"/root/repo/.scratch/bench-{os.getpid()}"
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    from fuzzy_item_matching_spark import get_spark
    from fuzzy_item_matching_spark.queries import load_all

    spark = get_spark(app_name="fuzzy-engine-bench")

    registry = load_all()
    names = [
        n
        for n in sorted(registry)
        if n not in EXCLUDE and not n.startswith(EXCLUDE_PREFIXES)
    ]

    from fuzzy_item_matching_spark.queries import CHECK_PRIORITY

    prefix = [n for n in CHECK_PRIORITY if n in registry][:50]
    headline = (set(prefix) | HEADLINE_EXTRA) & set(names)
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "mixed")
    if tier == "headline":
        names = [n for n in names if n in headline]

    # JVM/codegen warm-up on a trivial plan so q1 doesn't pay startup.
    spark.range(1000).selectExpr("sum(id)").collect()

    # Three passes: r05 observed scanner interference spanning BOTH
    # passes of a 2-pass run (pass totals [214s, 231s] on a binary whose
    # isolated steady-state summed ~90s); a third pass costs ~3 min and
    # buys another independent shot at a quiet window for the min.
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))

    def passes_for(name: str) -> int:
        # mixed: the light tail outside the headline tier runs once
        if tier == "mixed" and name not in headline:
            return 1
        return passes

    times: dict[str, list[float]] = {name: [] for name in names}
    for p in range(passes):
        for name in names:
            if p >= passes_for(name):
                continue
            q = registry[name]
            t0 = time.monotonic()
            try:
                df = q.fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                times[name].append(time.monotonic() - t0)
            except Exception as e:  # noqa: BLE001 — record, keep benching
                dt = time.monotonic() - t0
                print(
                    f"[bench] {name} FAILED after {dt:.2f}s: {e}", file=sys.stderr
                )
                times[name].append(-1.0)
            finally:
                # Operators persist() shared frames for the duration of
                # their query; in a 60+-query loop those blocks would
                # accumulate until LRU churn. Clear even on failure so a
                # failed query's cached frames don't pollute later
                # timings. Timing includes only the query itself.
                spark.catalog.clearCache()

    per_query = {
        name: (-1.0 if -1.0 in ts else round(min(ts), 3))
        for name, ts in times.items()
    }
    total = sum(t for t in per_query.values() if t > 0)
    # Cold-vs-warm attribution (r10 VERDICT ask #3): pass1 − min(later
    # passes) per multi-pass query. Large positive deltas mark the
    # fit-memoized families (the one-time fit is pass 1's cost — the
    # memo-tier convention, now a recorded number per query instead of
    # a convention) plus first-touch page-cache/codegen costs; the
    # driver's pass-total growth is exactly the sum of this column.
    cold_delta = {
        name: round(ts[0] - min(ts[1:]), 3)
        for name, ts in times.items()
        if len(ts) >= 2 and -1.0 not in ts
    }
    # Cold-inclusive total (r14 VERDICT ask #3, first-class): the sum
    # of every query's PASS-1 time. `value` is min-of-N, which for the
    # fit-memoized families and build-once scratch tables reports warm,
    # build-excluded times; cold_total is the same run measured with
    # every one-time build INCLUDED (pass 1 pays fits, scratch tables,
    # first-touch page cache and codegen). Compare rounds on BOTH:
    # value = steady-state per-query cost, cold_total = one full
    # cold-process sweep. cold_total == pass_totals[0] by construction;
    # naming it keeps it from being dropped by stdout truncation.
    cold_total = round(
        sum(ts[0] for ts in times.values() if ts and ts[0] >= 0), 3
    )
    # Key order matters for the driver's truncated capture: the driver
    # keeps only the TAIL of long stdout, so the two large dicts
    # (queries, cold_delta) come FIRST and the headline summary fields
    # (pass_totals, tiers, cold_total, value, sf) come LAST — r11's
    # tail truncated before pass_totals because cold_delta landed
    # after it.
    payload = json.dumps(
        {
            "metric": "headline_queries_total",
            "unit": "sec",
            "queries": per_query,
            "cold_delta": cold_delta,
            "pass_totals": [
                round(
                    sum(
                        ts[i]
                        for ts in times.values()
                        if len(ts) > i and ts[i] >= 0
                    ),
                    3,
                )
                for i in range(passes)
            ],
            "tiers": {
                "tier": tier,
                "headline_n": len(headline),
                "headline_passes": passes,
                "tail_passes": 1 if tier == "mixed" else passes,
            },
            "cold_total": cold_total,
            "value": round(total, 3),
            "sf": sf,
        }
    )
    print(payload)
    # Durable in-repo copy: the driver's BENCH_r{N}.json capture keeps
    # only the tail of long stdout (r08 lost per-query times for ~160
    # queries, "parsed": null), so every bench run also writes the
    # complete record to BENCH_LOCAL_r{N}.json. Round number comes from
    # SPARK_GRAFT_ROUND when set; else the in-flight round is one past
    # the last completed verify (max CORRECTNESS_r*), EXCEPT when the
    # driver's BENCH_r{N}.json for the in-flight round already landed
    # on disk (the driver benches before the round closes) — then
    # max(BENCH) IS the in-flight round, and +1 would mislabel.
    # Scale guard: the durable record is an sf0.1 series — a quick
    # verification run at sf0.01 must never overwrite it (it did once:
    # a round-11 sf0.01 sweep silently replaced the committed sf0.1
    # record until the round-close refresh caught it).
    if abs(sf - 0.1) > 1e-9:
        print(
            f"[bench] sf={sf} != 0.1: durable BENCH_LOCAL record not "
            "written (sf0.1 series only)",
            file=sys.stderr,
        )
        return
    # Same guard for subset tiers and non-default core counts (r15:
    # an 8-core headline-tier sanity run REPLACED the committed
    # 349-query record — the set-equality merge check can't merge a
    # subset, so it overwrote): the durable file is the
    # full-surface, local[32] series only.
    # parsed as session.get_spark parses it, so "032" still means 32
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if tier == "headline" or cpus != 32:
        print(
            f"[bench] tier={tier} cpus={cpus}: durable "
            "BENCH_LOCAL record not written (full-surface local[32] "
            "series only)",
            file=sys.stderr,
        )
        return
    try:
        repo = os.path.dirname(os.path.abspath(__file__))
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if not rnd:

            def _max_round(pat: str) -> int:
                return max(
                    (
                        int(mm.group(1))
                        for f in os.listdir(repo)
                        if (mm := re.match(pat, f))
                    ),
                    default=0,
                )

            seen_bench = _max_round(r"BENCH_r(\d+)\.json$")
            seen_corr = _max_round(r"CORRECTNESS_r(\d+)\.json$")
            rnd = str(max(seen_corr + 1, seen_bench))
        # Durable protocol (r13): MIN-OF-RUNS. A single run — even at
        # min-of-3 passes — is not noise-proof: the shared-host
        # scanner's bursts span whole pass windows, and the committed
        # r12 record was a +27%-uniform noisy window while the r13
        # tail window 269-281 ballooned 4-5x in one pass (all five
        # flagged ts_* "regressions" re-measured at r11 level with no
        # code change). So the durable file MERGES with an existing
        # same-round, same-sf record by per-query minimum — run bench
        # twice back-to-back and the durable record is min-of-2 across
        # runs, the scaling harness's discipline. The printed stdout
        # line stays THIS run's result (the driver captures it).
        path = os.path.join(repo, f"BENCH_LOCAL_r{int(rnd):02d}.json")
        record = json.loads(payload)
        record["protocol"] = (
            "min-of-runs merge (r14): same-commit runs only, failures "
            "sticky; stdout = last run"
        )
        record["merged_runs"] = 1
        # r14 (ADVICE): stamp each run with its commit so minima are
        # only merged across runs of the SAME code state — a mid-round
        # refactor otherwise produces a headline total corresponding to
        # no single commit (the r13 graph-table fold did exactly that).
        try:
            import subprocess

            record["commit"] = (
                subprocess.run(
                    ["git", "-C", repo, "rev-parse", "--short", "HEAD"],
                    capture_output=True,
                    text=True,
                    timeout=10,
                )
                .stdout.strip()
                or "unknown"
            )
        except Exception:  # noqa: BLE001 — stamping is best-effort
            record["commit"] = "unknown"
        try:
            with open(path) as fh:
                prev = json.load(fh)
        except (OSError, ValueError):
            prev = None
        if (
            prev
            and prev.get("sf") == record["sf"]
            and set(prev.get("queries", {})) == set(record["queries"])
            and prev.get("commit") == record["commit"]
        ):
            # Failures are STICKY (ADVICE r13): if the LATEST run fails
            # a query, the merged record reports the failure — an old
            # passing minimum must not mask code that now fails.
            merged = {
                q: (
                    -1.0
                    if t < 0
                    else (t if prev["queries"][q] < 0 else min(t, prev["queries"][q]))
                )
                for q, t in record["queries"].items()
            }
            record["queries"] = merged
            record["value"] = round(
                sum(t for t in merged.values() if t >= 0), 3
            )
            # Each run's cold_total is one full cold-process sweep; the
            # merged record keeps the quietest-window sweep (min), the
            # same estimator the per-query minima use.
            if "cold_total" in prev:
                record["cold_total"] = min(
                    record["cold_total"], prev["cold_total"]
                )
            record["merged_runs"] = prev.get("merged_runs", 1) + 1
            record["pass_totals"] = prev.get("pass_totals", []) + record[
                "pass_totals"
            ]
        with open(path, "w") as fh:
            fh.write(json.dumps(record) + "\n")
    except OSError as e:  # never let the durable copy break the bench
        print(f"[bench] BENCH_LOCAL write failed: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
