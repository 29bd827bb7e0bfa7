"""The text operators' two placements return the same rows.

``tfidf_features`` and ``sparse_cosine_join`` run on
the driver (one Arrow collect, numpy, a local DataFrame back) when
their input is within ``spark.sql.autoBroadcastJoinThreshold``, and as
distributed plans otherwise (``DISTRIBUTED`` sets the threshold to -1).
Cosines and weights may differ in their last bits between the two (the
sums run in another order); ids, terms and pair sets may not.
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import DISTRIBUTED, conf_set, local_frame

TOL = 1e-12

# NULL ids, a duplicate id (two rows, one document), NULL and empty
# text, a term in every document (idf 0: with no pruning, doc 9's
# norm is 0) and a shared rare word
DOCS = [
    (1, "acme widget pro", "x"),
    (1, "acme widget", "x"),
    (2, "acme widgets pro max", "x"),
    (3, "zeta gadget", "y"),
    (3, "zeta gadget", "z"),
    (4, None, "x"),
    (5, "", "x"),
    (None, "zeta gadgets", None),
    (None, "acme pro", "y"),
    (6, "gadget widget", "y"),
    (7, "qqq qqq qqq", "x"),
]
DOC_SCHEMA = "id long, text string, grp string"


def _docs(spark, every_doc: bool = False):
    rows = DOCS
    if every_doc:  # one term in every document, and a doc of only it
        rows = [(i, f"{t or ''} omni", g) for i, t, g in DOCS] + [(9, "omni", "x")]
    return local_frame(spark, rows, DOC_SCHEMA)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_close(got: list[tuple], want: list[tuple]) -> None:
    assert len(got) == len(want), (len(got), len(want))
    for g, w in zip(got, want):
        assert g[:-1] == w[:-1], (g, w)
        assert abs(g[-1] - w[-1]) <= TOL, (g, w)


def _both(spark, build):
    """``build()`` at the default threshold (asserted local) and
    distributed (asserted not)."""
    local = build()
    assert local.isLocal()
    with conf_set(spark, *DISTRIBUTED):
        dist = build()
        assert not dist.isLocal()
        want = _rows(dist)
    return _rows(local), want


@pytest.mark.parametrize("binary", [True, False])
@pytest.mark.parametrize("every_doc", [False, True])
@pytest.mark.parametrize("ratio", [1.0, 0.3])
@pytest.mark.parametrize("ids", [["id"], ["grp", "id"]])
def test_tfidf_placements_agree(spark, binary, every_doc, ratio, ids):
    from fuzzy_item_matching_spark.operators.similarity import featurize_text

    docs = _docs(spark, every_doc)
    got, want = _both(spark, lambda: featurize_text(
        docs, ids, "text", num_features=None, binary=binary, max_df_ratio=ratio))
    _assert_close(got, want)
    assert want


@pytest.mark.parametrize("binary", [True, False])
def test_sparse_tfidf_equals_driver_bag_features(spark, binary):
    """``sparse_tfidf`` over (id, term) rows (always the distributed
    plan) returns the driver-placed ``tfidf_features`` rows of the same
    bags, with a NULL term (dropped by the idf join, its document still
    counted in N), a document of only a NULL term, a repeated term and
    a NULL id."""
    from fuzzy_item_matching_spark.operators.features import sparse_tfidf, tfidf_features

    bags = local_frame(
        spark,
        [(1, ["a", "a", "b"]), (2, ["a", None]), (3, [None]), (None, ["b"]), (4, ["c"])],
        "id long, toks array<string>",
    )
    local = tfidf_features(bags, ["id"], "toks", binary=binary)
    assert local.isLocal()
    rows = sparse_tfidf(bags.selectExpr("id", "explode(toks) AS term"), ["id"], binary=binary)
    assert not rows.isLocal()
    _assert_close(_rows(local), _rows(rows))


def test_tfidf_zero_norm_passes_weights(spark):
    """A document whose every term is in every document has norm 0:
    its weights pass through as 0.0 instead of 0/0."""
    from fuzzy_item_matching_spark.operators.features import tfidf_features

    bags = local_frame(
        spark, [(1, ["a"]), (2, ["a", "b"]), (3, ["a", None])], "id long, toks array<string>")
    got, want = _both(spark, lambda: tfidf_features(bags, ["id"], "toks"))
    _assert_close(got, want)
    assert [r for r in got if r[0] == 1] == [(1, "a", 0.0)]


@pytest.mark.parametrize("mode", ["pair", "self"])
@pytest.mark.parametrize("ids", [["id"], ["grp", "id"]])
def test_cosine_join_placements_agree(spark, mode, ids):
    """Postings from both placements' features (so the join meets
    local and planned inputs), NULL ids included: they pair in pair
    mode and never in self mode."""
    from fuzzy_item_matching_spark.operators.similarity import (
        featurize_text,
        sparse_cosine_join,
    )

    docs = _docs(spark)
    key = "id" if ids == ["id"] else "key"

    def join():
        f = featurize_text(docs, ids, "text", num_features=None, max_df_ratio=1.0)
        if key == "key":  # one id column made of both
            f = f.selectExpr("concat(grp, '/', id) AS key", "term", "weight")
        a = f.withColumnRenamed(key, "id_a")
        b = f.withColumnRenamed(key, "id_b")
        return sparse_cosine_join(
            a, b, "id_a", "id_b", min_sim=0.05, self_dedup=mode == "self")

    got, want = _both(spark, join)
    _assert_close(got, want)
    assert want
    if mode == "pair":
        assert any(r[0] is None for r in want)
    else:
        assert all(r[0] is not None and r[0] < r[1] for r in want)


@pytest.mark.parametrize("mode", ["pair", "self"])
def test_cosine_join_float_ids_agree(spark, mode):
    """Double ids as Spark groups and orders them: -0.0 is 0.0 (one
    pair key), NaN is one value above every number, NULL never passes
    id_a < id_b."""
    import math

    import pyarrow as pa

    from fuzzy_item_matching_spark.operators.similarity import sparse_cosine_join

    ids = [1.0, 2.0, math.nan, math.nan, None, -0.0, 0.0]
    # from Arrow: a pandas frame would turn NaN into NULL
    postings = spark.createDataFrame(pa.table({
        "id": pa.array([i for i in ids for _ in "ab"], pa.float64()),
        "term": [t for _ in ids for t in "ab"],
        "weight": [0.5] * (2 * len(ids)),
    }))

    def join():
        return sparse_cosine_join(
            postings.withColumnRenamed("id", "id_a"), postings.withColumnRenamed("id", "id_b"),
            "id_a", "id_b", min_sim=0.1, self_dedup=mode == "self")

    def key(rows):
        return [tuple("nan" if x != x else x for x in r[:-1]) + r[-1:] for r in rows]

    got, want = _both(spark, join)
    _assert_close(sorted(key(got), key=repr), sorted(key(want), key=repr))
    assert ("nan", "nan", 2.0) in key(want) if mode == "pair" else len(want) == 6


def test_cosine_join_many_ids_on_driver(spark):
    """Pair keys are id code × id count: past 46,341 ids they overflow
    32 bits. 50,000 docs, each sharing its one term with one other."""
    import pandas as pd

    from fuzzy_item_matching_spark.operators.similarity import sparse_cosine_join

    n = 50_000
    pdf = pd.DataFrame({"id": range(n), "term": [str(i // 2) for i in range(n)], "weight": 1.0})
    postings = spark.createDataFrame(pdf, "id long, term string, weight double")
    out = sparse_cosine_join(
        postings.withColumnRenamed("id", "id_a"), postings.withColumnRenamed("id", "id_b"),
        "id_a", "id_b", min_sim=0.5, self_dedup=True,
    )
    assert out.isLocal()
    assert sorted((r.id_a, r.id_b) for r in out.collect()) == [(i, i + 1) for i in range(0, n, 2)]


def test_fuzzy_match_pairs_self_mode_placements_agree(spark):
    from fuzzy_item_matching_spark.operators.similarity import fuzzy_match_pairs

    docs = _docs(spark)
    got, want = _both(spark, lambda: fuzzy_match_pairs(
        docs, None, "id", "text", min_sim=0.1, num_features=None, max_df_ratio=1.0))
    _assert_close(got, want)
    assert want


def test_cosine_join_over_work_bound_runs_distributed(spark, monkeypatch):
    from fuzzy_item_matching_spark.operators import similarity
    from fuzzy_item_matching_spark.operators.similarity import (
        featurize_text,
        sparse_cosine_join,
    )

    feats = featurize_text(_docs(spark), ["id"], "text", num_features=None, max_df_ratio=1.0)
    assert feats.isLocal()  # the TF-IDF has no work bound: linear in its input

    def join():
        a = feats.withColumnRenamed("id", "id_a")
        b = feats.withColumnRenamed("id", "id_b")
        return sparse_cosine_join(a, b, "id_a", "id_b", min_sim=0.05)

    want = _rows(join())
    monkeypatch.setattr(similarity, "_DRIVER_MAX_PARTIALS", 0)
    out = join()
    assert not out.isLocal()
    assert "Exchange" in out._jdf.queryExecution().executedPlan().toString()
    _assert_close(_rows(out), want)


@pytest.mark.parametrize("max_pairs", [10_000_000, 0])
def test_collapsed_self_join_on_driver(spark, monkeypatch, max_pairs):
    """Past the plain join's work bound, a template corpus (three texts
    twenty times each, one with a repeated posting, a one-off, a NULL
    text and a NULL id) collapses
    on the driver while its expansion is within ``_DRIVER_MAX_PAIRS``;
    past that the Spark collapse runs. Both return the distributed
    plain self join's pairs."""
    from pyspark.sql import functions as F

    from fuzzy_item_matching_spark.operators import similarity
    from fuzzy_item_matching_spark.operators.similarity import (
        featurize_text,
        sparse_cosine_join,
        sparse_cosine_self_join_collapsed,
    )

    texts = ["acme widget pro max", "acme widget pro mini", "zeta gadget deluxe"]
    rows = [(i, texts[i % 3]) for i in range(60)]
    rows += [(60, "acme gadget pro"), (61, None), (None, "zeta gadget deluxe")]
    docs = local_frame(spark, rows, "id long, text string")
    feats = featurize_text(docs, ["id"], "text", num_features=None, max_df_ratio=1.0)
    # a repeated (id, term) posting in every copy of the first text
    feats = feats.unionByName(feats.filter((F.col("id") % 3 == 0) & (F.col("term") == "acm")))
    with conf_set(spark, *DISTRIBUTED):
        want = _rows(sparse_cosine_join(
            feats.withColumnRenamed("id", "id_a"), feats.withColumnRenamed("id", "id_b"),
            "id_a", "id_b", min_sim=0.3, self_dedup=True))
    calls = []
    collapsed = similarity._collapsed_pairs
    monkeypatch.setattr(
        similarity, "_collapsed_pairs", lambda *a: calls.append(collapsed(*a)) or calls[-1])
    monkeypatch.setattr(similarity, "_DRIVER_MAX_PARTIALS", 1_000)
    monkeypatch.setattr(similarity, "_DRIVER_MAX_PAIRS", max_pairs)
    out = sparse_cosine_self_join_collapsed(feats, "id", min_sim=0.3)
    assert len(calls) == 1 and (calls[0] is None) == (max_pairs == 0)
    assert out.isLocal() == (max_pairs > 0)
    _assert_close(_rows(out), want)
    assert len(want) > 570  # the intra-group pairs alone are 3 × 190


def _executions(spark) -> dict[int, str]:
    xs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        xs.apply(i).executionId(): xs.apply(i).physicalPlanDescription()
        for i in range(xs.size())
    }


@pytest.mark.parametrize("mode", ["pair", "self"])
def test_small_text_inputs_run_on_driver(spark, mode):
    """At the default threshold each operator runs one collect, with
    no Python node in the plan it executes, and returns a local
    relation: no exchange and no Python node left to run."""
    from fuzzy_item_matching_spark.operators.similarity import (
        featurize_text,
        sparse_cosine_join,
    )

    docs = _docs(spark)

    def one_collect(build):
        before = _executions(spark)
        out = build()
        ran = [p for i, p in _executions(spark).items() if i not in before]
        assert len(ran) == 1, ran
        for p in ran:
            assert not re.search(r"Python|InPandas|InArrow", p), p
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange|Python|InPandas|InArrow", plan), plan
        return out

    feats = one_collect(lambda: featurize_text(docs, ["id"], "text", num_features=None))
    a = feats.withColumnRenamed("id", "id_a")
    b = feats.withColumnRenamed("id", "id_b")
    pairs = one_collect(lambda: sparse_cosine_join(
        a, b, "id_a", "id_b", min_sim=0.05, self_dedup=mode == "self"))
    assert pairs.count() > 0


@pytest.mark.parametrize("seed", [1, 2])
def test_fuzzy_match_pairs_on_benchmark_batches(spark, tmp_path, seed):
    """The benchmark's batch name join: equal pair sets and cosines
    within TOL at both placements."""
    from perfbench import gen

    from fuzzy_item_matching_spark.operators.similarity import fuzzy_match_pairs
    from fuzzy_item_matching_spark.tables import load_table

    gen.batch_inputs(seed, 800, str(tmp_path))
    left = load_table(spark, str(tmp_path), "left")
    right = load_table(spark, str(tmp_path), "right")
    got, want = _both(spark, lambda: fuzzy_match_pairs(
        left, right, "id", "name", min_sim=0.7, max_df_ratio=0.5))
    spark.catalog.clearCache()
    _assert_close(got, want)
    assert len(want) > 300
