"""Evaluation & featurization ops added in the round-5 continuation:
oracle parity (same check the driver runs) plus the semantic
invariants the hash check can't state — AUC equals the brute-force
pair statistic, NDCG is bounded, the scaler standardizes, LOO
encoding never sees its own label, bootstrap means bracket the truth.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.queries import load_all
from oracles import oracle_sql
from tests.conftest import SF_CHECK, assert_matches_oracle

REGISTRY = load_all()
ORACLES = oracle_sql()

NEW_OPS = [
    "train_roc_auc",
    "train_cv_auc",
    "train_learning_curve",
    "train_ndcg",
    "train_calibration_bins",
    "train_isotonic_calibration",
    "train_target_encoding",
    "train_standard_scaler",
    "train_bootstrap_means",
    "train_drift_stats",
    "ts_chi2_terms",
    "ts_char_entropy",
    "ts_rag_chunks",
    "text_jaro_winkler_pairs",
    "vec_matryoshka_topk",
    "vec_pca_power",
    "rel_triangle_clustering",
    "rel_unpivot_metrics",
    "dedup_golden_record",
    "serve_model_registry",
]


@pytest.mark.parametrize("name", NEW_OPS)
def test_new_op_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert name in ORACLES, f"{name} must carry an exact oracle"
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES[name])


def test_auc_matches_bruteforce_pairs(spark):
    """The windowed Mann-Whitney AUC equals the O(P·N) definition:
    P(score_pos > score_neg) + 0.5·P(tie), computed by brute force on
    the same filtered slice."""
    from fuzzy_item_matching_spark.tables import load_table

    row = REGISTRY["train_roc_auc"].fn(spark, SF_CHECK).collect()[0]
    pdf = (
        load_table(spark, SF_CHECK, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("s"),
        )
        .toPandas()
    )
    pos = np.sort(pdf.loc[pdf.y == 1, "s"].to_numpy())
    neg = np.sort(pdf.loc[pdf.y == 0, "s"].to_numpy())
    wins = np.searchsorted(neg, pos, side="left").sum()
    ties = (
        np.searchsorted(neg, pos, side="right")
        - np.searchsorted(neg, pos, side="left")
    ).sum()
    want = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert row["auc"] == pytest.approx(want, abs=1e-12)
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)


def test_ndcg_bounded_and_nonempty(spark):
    row = REGISTRY["train_ndcg"].fn(spark, SF_CHECK).collect()[0]
    assert 0.0 < row["mean_ndcg"] <= 1.0
    assert row["n_groups"] > 0


def test_scaler_standardizes(spark):
    """Applied z-columns have mean ~0 and population std ~1."""
    pdf = REGISTRY["train_standard_scaler"].fn(spark, SF_CHECK).toPandas()
    for c in ("z_qty", "z_price", "z_disc"):
        v = pdf[c].to_numpy()
        assert abs(v.mean()) < 1e-9
        assert v.std() == pytest.approx(1.0, abs=1e-9)


def test_target_encoding_excludes_self(spark):
    """A category with n rows: positives see (s-1)/(n-1), negatives
    s/(n-1) — the row's own label never leaks into its encoding."""
    from fuzzy_item_matching_spark.tables import load_table

    enc = REGISTRY["train_target_encoding"].fn(spark, SF_CHECK)
    lab = load_table(spark, SF_CHECK, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
    )
    pdf = enc.join(lab, "o_orderkey").toPandas()
    for cat, g in pdf.groupby("cat"):
        s, n = g["label"].sum(), len(g)
        for lbl, want in ((1, (s - 1) / (n - 1)), (0, s / (n - 1))):
            got = g.loc[g.label == lbl, "enc_loo"]
            if len(got):
                assert got.to_numpy() == pytest.approx(want)


def test_bootstrap_brackets_truth(spark):
    """Replicate means are distinct per replicate, center near the
    true mean, and resampled counts near n (Poisson(1) sums)."""
    from fuzzy_item_matching_spark.tables import load_table

    pdf = REGISTRY["train_bootstrap_means"].fn(spark, SF_CHECK).toPandas()
    assert len(pdf) == 32
    assert pdf["boot_mean"].nunique() > 1
    truth = (
        load_table(spark, SF_CHECK, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .agg(F.avg("o_totalprice"))
        .collect()[0][0]
    )
    lo, hi = pdf["boot_mean"].quantile(0.025), pdf["boot_mean"].quantile(0.975)
    assert lo <= truth <= hi
    n = (
        load_table(spark, SF_CHECK, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .count()
    )
    assert (pdf["n_resampled"] - n).abs().max() < 5 * np.sqrt(n)


def test_matryoshka_rerank_is_exact_on_shortlist(spark):
    """fdot of every returned pair equals the exact full-dim dot."""
    from fuzzy_item_matching_spark.functions.vector import dot
    from fuzzy_item_matching_spark.tables import load_table

    top = REGISTRY["vec_matryoshka_topk"].fn(spark, SF_CHECK)
    e = load_table(spark, SF_CHECK, "embeddings")
    joined = (
        top.join(
            e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")),
            "query_id",
        )
        .join(
            e.select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
            ),
            "neighbor_id",
        )
        .select("fdot", dot(F.col("qv"), F.col("cv")).alias("want"))
        .collect()
    )
    assert joined
    for r in joined:
        assert r["fdot"] == r["want"]


def test_isotonic_equals_pav_and_is_monotone(spark):
    """The minimax-form fit equals the imperative pool-adjacent-
    violators algorithm on the same weighted bins, and is monotone."""
    pdf = (
        REGISTRY["train_isotonic_calibration"]
        .fn(spark, SF_CHECK)
        .toPandas()
        .sort_values("bin")
    )
    iso = pdf["iso_rate"].to_numpy()
    assert (np.diff(iso) >= -1e-12).all()

    # imperative PAV over (obs_rate, n) in bin order
    blocks = [
        [r.obs_rate * r.n, float(r.n)] for r in pdf.itertuples()
    ]  # [sum, weight]
    merged: list[list[float]] = []
    for b in blocks:
        merged.append(list(b))
        while (
            len(merged) > 1
            and merged[-2][0] / merged[-2][1] >= merged[-1][0] / merged[-1][1]
        ):
            s, w = merged.pop()
            merged[-1][0] += s
            merged[-1][1] += w
    # one fitted value per bin: walk the pooled blocks, emitting each
    # block's mean once per bin it absorbed (weights are row counts)
    vals = []
    bi = iter(pdf["n"].to_numpy())
    for s, w in merged:
        acc = 0.0
        while acc < w - 1e-9:
            acc += float(next(bi))
            vals.append(s / w)
    assert len(vals) == len(iso)
    assert np.allclose(iso, vals, atol=1e-12)


def test_pca_power_matches_numpy(spark):
    """Three numpy power iterations on the same Gram matrix produce
    the same direction and Rayleigh estimate (engine drift < 1e-9),
    and the loading is unit-norm."""
    from fuzzy_item_matching_spark.tables import load_table

    pdf = (
        REGISTRY["vec_pca_power"]
        .fn(spark, SF_CHECK)
        .toPandas()
        .sort_values("dim_idx")
    )
    v_engine = pdf["loading"].to_numpy()
    assert np.linalg.norm(v_engine) == pytest.approx(1.0, abs=1e-12)

    X = np.stack(
        load_table(spark, SF_CHECK, "embeddings")
        .select("embedding")
        .toPandas()["embedding"]
        .map(np.asarray)
    ).astype(np.float64)
    # quantized Gram exactly as the operator defines it:
    # floor(x_i*x_j * 2^40) summed as integers, then /2^40/n
    P = np.floor((X[:, :, None] * X[:, None, :]) * 2.0**40)
    C = P.sum(axis=0) / 2.0**40 / len(X)
    v = np.ones(C.shape[0])
    for _ in range(3):
        w = C @ v
        v = w / np.linalg.norm(w)
    assert np.allclose(v_engine, v, atol=1e-9)
    assert (pdf["eigenvalue"] > 0).all()


def test_rag_chunks_cover_every_token(spark):
    """Chunks tile each document: first starts at 0, consecutive
    starts advance by the stride, and the last chunk reaches the
    final token (nothing dropped, overlap as configured)."""
    from fuzzy_item_matching_spark.functions.text import regex_tokenize
    from fuzzy_item_matching_spark.tables import load_table

    pdf = REGISTRY["ts_rag_chunks"].fn(spark, SF_CHECK).toPandas()
    lens = (
        load_table(spark, SF_CHECK, "documents")
        .select("doc_id", F.size(regex_tokenize("text")).alias("n"))
        .filter(F.col("n") > 0)
        .toPandas()
        .set_index("doc_id")["n"]
    )
    assert set(pdf["doc_id"]) == set(lens.index)
    for doc_id, g in pdf.groupby("doc_id"):
        g = g.sort_values("chunk_idx")
        assert list(g["chunk_idx"]) == list(range(len(g)))
        n = int(lens[doc_id])
        last = g.iloc[-1]
        assert last["chunk_idx"] * 48 + last["n_tokens"] == n
        assert (g["n_tokens"] > 0).all()
