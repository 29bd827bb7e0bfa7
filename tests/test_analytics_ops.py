"""Analytics batch: group-wise OLS, basket rules, funnel, snapshot
diff, BPE segmentation — oracle parity plus the semantic invariants
the oracles can't state (OLS matches numpy's fit, supports bound
pair supports, funnel is monotone, the diff partitions the key
space, BPE segments reassemble to their words).
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
    "train_ols_by_brand",
    "rel_basket_rules",
    "rel_event_funnel",
    "src_snapshot_diff",
    "text_bpe_segments",
]


@pytest.mark.parametrize("name", NEW_OPS)
def test_new_op_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert name in ORACLES, f"{name} must carry an exact oracle"
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES[name])


def test_ols_matches_numpy_polyfit(spark):
    from fuzzy_item_matching_spark.tables import load_table

    fits = {
        r["p_brand"]: r
        for r in REGISTRY["train_ols_by_brand"].fn(spark, SF_CHECK).collect()
    }
    pdf = (
        load_table(spark, SF_CHECK, "part")
        .select("p_brand", "p_size", "p_retailprice")
        .toPandas()
    )
    for brand, g in pdf.groupby("p_brand"):
        slope, intercept = np.polyfit(
            g["p_size"].to_numpy(float), g["p_retailprice"].to_numpy(float), 1
        )
        assert fits[brand]["slope"] == pytest.approx(slope, rel=1e-6)
        assert fits[brand]["intercept"] == pytest.approx(intercept, rel=1e-6)


def test_basket_rule_invariants(spark):
    rows = REGISTRY["rel_basket_rules"].fn(spark, SF_CHECK).collect()
    assert rows
    for r in rows:
        assert r["ante"] < r["cons"]
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0


def test_funnel_monotone(spark):
    [r] = REGISTRY["rel_event_funnel"].fn(spark, SF_CHECK).collect()
    assert r["n_view"] >= r["n_click"] >= r["n_purchase"] > 0
    assert 0 < r["view_to_click"] <= 1.0
    assert 0 < r["click_to_purchase"] <= 1.0


def test_snapshot_diff_partitions_key_space(spark):
    from fuzzy_item_matching_spark.tables import load_table

    rows = {
        r["status"]: r
        for r in REGISTRY["src_snapshot_diff"].fn(spark, SF_CHECK).collect()
    }
    assert set(rows) == {"added", "removed", "changed", "unchanged"}
    o = load_table(spark, SF_CHECK, "orders")
    keys = [r[0] for r in o.select("o_orderkey").collect()]
    v1 = {k for k in keys if k % 13 != 3}
    v2 = {k for k in keys if k % 11 != 5}
    assert rows["added"]["n"] == len(v2 - v1)
    assert rows["removed"]["n"] == len(v1 - v2)
    both = v1 & v2
    changed = {k for k in both if k % 7 == 0}
    assert rows["changed"]["n"] == len(changed)
    assert rows["unchanged"]["n"] == len(both - changed)
    # value drift: +5.00 per changed row, minus removed, plus added
    assert rows["changed"]["price_delta"] == pytest.approx(5.0 * len(changed))


def _bpe_encode(word: str, merges) -> list[str]:
    from fuzzy_item_matching_spark.queries.text import _BPE_PASSES

    s = " " + " ".join(word) + " "
    for a, b in merges:
        for _ in range(_BPE_PASSES):
            s = s.replace(f" {a} ", f" {b} ")
    return s.strip().split(" ")


def test_bpe_segments_reassemble(spark):
    from fuzzy_item_matching_spark.functions.text import regex_tokenize
    from fuzzy_item_matching_spark.queries.text import _BPE_MERGES
    from fuzzy_item_matching_spark.tables import load_table

    seg_counts = {
        r["segment"]: r["n"]
        for r in REGISTRY["text_bpe_segments"].fn(spark, SF_CHECK).collect()
    }
    # whole words that the merge table fully fuses come out as single
    # segments
    for w in ("value", "join", "key", "the"):
        assert w in seg_counts
    # python replica over the real corpus words agrees exactly
    words = (
        load_table(spark, SF_CHECK, "documents")
        .select(F.explode(regex_tokenize("text")).alias("w"))
        .collect()
    )
    expect: dict[str, int] = {}
    for r in words:
        for s in _bpe_encode(r["w"], _BPE_MERGES):
            expect[s] = expect.get(s, 0) + 1
        # reassembly: segments concatenate back to the word
        assert "".join(_bpe_encode(r["w"], _BPE_MERGES)) == r["w"]
    assert seg_counts == expect


@pytest.mark.parametrize("name", ["text_bpe_fit", "rel_pagerank_brands"])
def test_iterative_op_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert name in ORACLES, f"{name} must carry an exact oracle"
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES[name])


def test_bpe_fit_merge_table_is_valid(spark):
    rows = sorted(
        REGISTRY["text_bpe_fit"].fn(spark, SF_CHECK).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len({r["pair"] for r in rows}) == len(rows)
    for r in rows:
        a, b = r["pair"].split(" ")
        assert r["merged"] == a + b
        assert r["cnt"] > 0
    # greedy argmax: merge counts never increase (a later pair's count
    # is bounded by some pair's count at every earlier iteration)
    counts = [r["cnt"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_pagerank_is_a_distribution(spark):
    rows = REGISTRY["rel_pagerank_brands"].fn(spark, SF_CHECK).collect()
    assert len(rows) == 25
    assert all(r["pr"] > 0 for r in rows)
    # no dangling mass in this graph -> ranks stay a distribution
    assert sum(r["pr"] for r in rows) == pytest.approx(1.0, abs=1e-9)


def test_weighted_sample_oracle_and_bias(spark, duck):
    q = REGISTRY["train_weighted_sample"]
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES["train_weighted_sample"])
    from fuzzy_item_matching_spark.tables import load_table

    sample = q.fn(spark, SF_CHECK).collect()
    corpus_mean = (
        load_table(spark, SF_CHECK, "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    # weight-proportional selection overrepresents long documents
    sample_mean = sum(r["n_chars"] for r in sample) / len(sample)
    assert sample_mean > corpus_mean


def test_audio_windows_cover_payload_exactly(spark, duck):
    q = REGISTRY["mm_audio_windows"]
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES["mm_audio_windows"])
    from fuzzy_item_matching_spark.tables import load_table

    rows = REGISTRY["mm_audio_windows"].fn(spark, SF_CHECK).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_CHECK, "documents").collect()
        if r["text"]
    }
    assert set(by_doc) == set(docs)
    for doc_id, text in docs.items():
        wins = sorted(by_doc[doc_id], key=lambda r: r["win"])
        # windows tile the payload: counts sum to byte length, sums
        # reassemble to the total byte sum
        assert sum(r["n_samples"] for r in wins) == len(text)
        assert sum(r["sum_v"] for r in wins) == sum(
            ord(c) for c in text
        )
        assert [r["win"] for r in wins] == list(range(len(wins)))


def test_quarantine_counts_are_complete(spark, duck):
    q = REGISTRY["src_quarantine_split"]
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES["src_quarantine_split"])
    from fuzzy_item_matching_spark.tables import load_table

    rows = {r["reason"]: r["n"] for r in q.fn(spark, SF_CHECK).collect()}
    n_orders = load_table(spark, SF_CHECK, "orders").count()
    keys = [
        r[0]
        for r in load_table(spark, SF_CHECK, "orders")
        .select("o_orderkey")
        .collect()
    ]
    bad = {
        k
        for k in keys
        if k % 19 == 1 or k % 23 == 2 or k % 29 == 3
    }
    assert rows["valid"] == n_orders - len(bad)
    # multi-violation rows count once per reason
    assert sum(v for k, v in rows.items() if k != "valid") >= len(bad)
