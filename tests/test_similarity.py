"""Similarity-join correctness beyond the oracle: containment + recall.

SURVEY §7.3: LSH correctness is defined as "LSH results ⊆ exact
results, recall ≥ target" — never hash-equality (seeded randomness).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.operators.lsh import (
    brp_hashes,
    lsh_sqdist_join,
    random_hyperplanes,
)
from fuzzy_item_matching_spark.operators.similarity import (
    exact_sqdist_join,
    fuzzy_match_pairs,
)
from fuzzy_item_matching_spark.tables import load_table

from .conftest import SF_CHECK

THRESHOLD = 1.5


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_CHECK, "embeddings").cache()


def _pairset(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_lsh_pairs_subset_of_exact_with_recall(spark, embeddings):
    exact = _pairset(
        exact_sqdist_join(
            embeddings, embeddings, "vec_id", "embedding", THRESHOLD, self_dedup=True
        )
    )
    lsh = _pairset(
        lsh_sqdist_join(
            embeddings, None, "vec_id", "embedding", THRESHOLD,
            n_tables=10, bucket_length=1.0, seed=42, dim=64,
        )
    )
    assert lsh <= exact, f"LSH produced {len(lsh - exact)} pairs not in exact"
    recall = len(lsh) / len(exact)
    # 10 tables @ bucketLength 1.0 on unit-ish vectors: near-neighbors
    # collide with high probability; the reference runs the same config.
    assert recall >= 0.8, f"recall {recall:.3f} < 0.8 ({len(lsh)}/{len(exact)})"


def test_lsh_deterministic_under_seed(spark, embeddings):
    kw = dict(n_tables=5, bucket_length=1.0, seed=7, dim=64)
    a = _pairset(lsh_sqdist_join(embeddings, None, "vec_id", "embedding", THRESHOLD, **kw))
    b = _pairset(lsh_sqdist_join(embeddings, None, "vec_id", "embedding", THRESHOLD, **kw))
    assert a == b


def test_brp_hashes_match_manual_projection(spark, embeddings):
    planes = random_hyperplanes(64, 3, seed=42)
    row = (
        embeddings.select("vec_id", "embedding", brp_hashes("embedding", planes, 1.0).alias("h"))
        .orderBy("vec_id")
        .first()
    )
    import math

    vec = [float(x) for x in row.embedding]
    for i, plane in enumerate(planes):
        expected = math.floor(sum(x * p for x, p in zip(vec, plane)) / 1.0)
        assert row.h[i] == expected


def test_ann_lsh_topk_recall_vs_bruteforce(spark, embeddings):
    from fuzzy_item_matching_spark.operators.lsh import lsh_cosine_topk
    from fuzzy_item_matching_spark.queries.vectors import vec_knn_bruteforce

    exact = {
        (r.qid, r.nid)
        for r in vec_knn_bruteforce(spark, SF_CHECK).collect()
    }
    ann = {
        (r.qid, r.nid)
        for r in lsh_cosine_topk(
            embeddings, "vec_id", "embedding", k=3,
            n_tables=16, bits_per_table=5, seed=42, dim=64,
        ).collect()
    }
    recall = len(ann & exact) / len(exact)
    # 16 tables × 5 bits: measured recall 0.77 at sf0.01; collision
    # probability rises for the top-3 neighbors (smaller angles).
    assert recall >= 0.6, f"ANN recall@3 {recall:.3f} < 0.6"


def test_ivf_topk_recall_vs_bruteforce(spark, embeddings):
    from fuzzy_item_matching_spark.operators.ivf import ivf_cosine_topk
    from fuzzy_item_matching_spark.queries.vectors import vec_knn_bruteforce

    exact = {(r.qid, r.nid) for r in vec_knn_bruteforce(spark, SF_CHECK).collect()}
    ann = {
        (r.qid, r.nid)
        for r in ivf_cosine_topk(
            embeddings, "vec_id", "embedding", k=3,
            n_centroids=16, n_probe=8, refine_iters=1,
        ).collect()
    }
    recall = len(ann & exact) / len(exact)
    # measured 0.84 at sf0.01 with 3 Lloyd passes, within noise at 1
    # (the query's config); 0.8 is the floor
    assert recall >= 0.8, f"IVF recall@3 {recall:.3f} < 0.8"


def test_ivf_sample_cap_matches_oracle_when_sampling_active(
    spark, embeddings, duck
):
    """r04 verdict #3: the Lloyd refinement sample must be replicated
    in the oracle, not just inert below the cap. Force the cap BELOW
    the corpus size (200 < 500) so the keyed sample actually drops
    rows, and require the full bitwise oracle match — if operator and
    oracle ever draw different refinement rows, this fails loudly."""
    from fuzzy_item_matching_spark.operators.ivf import ivf_cosine_topk
    from oracles.similarity import _ivf_topk_oracle

    cap = 200
    assert embeddings.count() > cap, "cap must force sampling for this test"
    out = ivf_cosine_topk(
        embeddings, "vec_id", "embedding", k=3, n_centroids=16, n_probe=8,
        refine_iters=1, sample_cap=cap,
    )
    from .conftest import assert_matches_oracle

    assert_matches_oracle(
        out,
        duck,
        _ivf_topk_oracle(k=3, n_centroids=16, n_probe=8, iters=1, sample_cap=cap),
    )


def test_ivf_query_cap_pinned_to_operator_default():
    """The oracle-bearing query pins its cap; it must equal the
    operator's default so the registered oracle describes what the
    operator actually runs."""
    from fuzzy_item_matching_spark.operators.ivf import REFINE_SAMPLE_CAP
    from fuzzy_item_matching_spark.queries.similarity import _IVF_SAMPLE_CAP

    assert _IVF_SAMPLE_CAP == REFINE_SAMPLE_CAP


def test_vector_kernels_survive_null_and_ragged_rows(spark, embeddings):
    """r04 verdict #4: np.stack over a batch with a None or ragged
    vector kills the whole task where the Catalyst path would degrade
    to NULL for that row. Dirty rows must cost one row, not the query:
    inject a NULL vector and a wrong-dim vector and require every
    Arrow-kernel operator to return exactly its clean-input answer."""
    from fuzzy_item_matching_spark.operators.ivf import ivf_cosine_topk
    from fuzzy_item_matching_spark.operators.lsh import lsh_cosine_topk

    clean = embeddings.filter(F.col("vec_id") < 100).select("vec_id", "embedding")
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(100_000, None), (100_001, [1.0, 2.0, 3.0])],
            schema=clean.schema,
        )
    )

    lsh_kw = dict(k=3, n_tables=4, bits_per_table=3, seed=42, dim=64)
    assert _pairset_qn(
        lsh_cosine_topk(dirty, "vec_id", "embedding", **lsh_kw)
    ) == _pairset_qn(lsh_cosine_topk(clean, "vec_id", "embedding", **lsh_kw))

    sq_kw = dict(n_tables=4, bucket_length=1.0, seed=42, dim=64)
    assert _pairset(
        lsh_sqdist_join(dirty, None, "vec_id", "embedding", THRESHOLD, **sq_kw)
    ) == _pairset(
        lsh_sqdist_join(clean, None, "vec_id", "embedding", THRESHOLD, **sq_kw)
    )

    ivf_kw = dict(k=3, n_centroids=8, n_probe=4, refine_iters=1)
    assert _pairset_qn(
        ivf_cosine_topk(dirty, "vec_id", "embedding", **ivf_kw)
    ) == _pairset_qn(ivf_cosine_topk(clean, "vec_id", "embedding", **ivf_kw))


def _pairset_qn(df):
    return {(r.qid, r.nid) for r in df.collect()}


def test_two_set_fuzzy_match_directional_ids(spark):
    part = load_table(spark, SF_CHECK, "part").limit(200).cache()
    left = part.filter(F.col("p_partkey") % 2 == 0)
    right = part.filter(F.col("p_partkey") % 2 == 1)
    pairs = fuzzy_match_pairs(
        left, right, id_col="p_partkey", text_col="p_name",
        min_sim=0.3, num_features=None,
    ).collect()
    assert pairs, "expected at least one cross-set fuzzy pair"
    for r in pairs:
        assert r.id_a % 2 == 0 and r.id_b % 2 == 1


def test_exact_join_two_distinct_sets_no_dedup(spark, embeddings):
    a = embeddings.filter(F.col("vec_id") < 50)
    b = embeddings.filter(F.col("vec_id") >= 450)
    out = exact_sqdist_join(a, b, "vec_id", "embedding", 10.0)
    # threshold 10 > max sqdist → full cross product of the two sets
    assert out.count() == 50 * 50
