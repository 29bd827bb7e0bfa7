"""Round-5 continuation ops: char-LM perplexity scoring, BM25
retrieval, Fellegi–Sunter linkage, Z-order clustering.

Oracle parity at sf0.01 plus the semantic guarantees the oracles
can't state: BM25 only returns docs containing query terms, FS
weights are monotone in agreement, the char-LM assigns worse scores
to out-of-distribution text, and a Z-ordered layout actually skips
files under a 2-D range predicate.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.queries import load_all
from oracles import oracle_sql
from tests.conftest import SF_CHECK, assert_matches_oracle

REGISTRY = load_all()
ORACLES = oracle_sql()

NEW_OPS = [
    "ts_charlm_score",
    "sim_bm25_topk",
    "serve_fs_linkage",
    "src_zorder_layout",
]


@pytest.mark.parametrize("name", NEW_OPS)
def test_new_op_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert name in ORACLES, f"{name} must carry an exact oracle"
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES[name])


def test_bm25_returns_only_matching_docs_ranked(spark):
    from fuzzy_item_matching_spark.queries.retrieval import _BM25_TERMS
    from fuzzy_item_matching_spark.tables import load_table

    rows = REGISTRY["sim_bm25_topk"].fn(spark, SF_CHECK).collect()
    assert 0 < len(rows) <= 20
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["score"] > 0 for r in rows)
    # every returned doc really contains >=1 query term
    ids = [r["doc_id"] for r in rows]
    docs = {
        r["doc_id"]: (r["text"] or "").lower()
        for r in load_table(spark, SF_CHECK, "documents")
        .filter(F.col("doc_id").isin(ids))
        .collect()
    }
    for r in rows:
        assert any(t in docs[r["doc_id"]] for t in _BM25_TERMS)
        assert 1 <= r["n_terms"] <= len(_BM25_TERMS)


def test_fs_weight_monotone_in_agreement(spark):
    rows = REGISTRY["serve_fs_linkage"].fn(spark, SF_CHECK).collect()
    assert rows
    # group weights by agreement pattern: adding an agreement on any
    # field must strictly increase the weight (m > u for every field
    # in this data, so each agree-term beats its disagree-term)
    by_pat = {}
    for r in rows:
        pat = (r["agr_type"], r["agr_tok1"], r["agr_tok2"])
        by_pat.setdefault(pat, r["weight"])
        # same pattern -> identical weight (pure function of pattern)
        assert abs(by_pat[pat] - r["weight"]) < 1e-12
    for pat, w in by_pat.items():
        for i in range(3):
            if pat[i] == 1:
                down = tuple(0 if j == i else pat[j] for j in range(3))
                if down in by_pat:
                    assert w > by_pat[down]


def test_charlm_scores_ood_text_worse(spark):
    """Score the corpus, then check in-distribution docs beat an
    out-of-distribution one: inject a gibberish doc and re-score —
    its nll must sit above the corpus median."""
    from fuzzy_item_matching_spark.queries.textstats import ts_charlm_score
    from fuzzy_item_matching_spark.tables import load_table

    base = ts_charlm_score(spark, SF_CHECK)
    rows = base.collect()
    assert all(r["nll"] > 0 and r["n_bigrams"] > 0 for r in rows)

    med = sorted(r["nll"] for r in rows)[len(rows) // 2]
    docs = load_table(spark, SF_CHECK, "documents").select("doc_id", "text")
    ood = spark.createDataFrame(
        [(10_000_000, "zqxj vwkp qzzx jjvw xkqz pjwv zzqx kjvp wxqz")],
        "doc_id long, text string",
    )
    # rebuild the model over corpus+ood exactly as the query does, via
    # a temp view the loader would read -- simplest: score inline with
    # the same code path by unioning before the query's internals run.
    # The query reads from sf_dir, so instead verify OOD ranking with
    # a direct perplexity comparison on the combined frame:
    from fuzzy_item_matching_spark.queries.textstats import _charlm_nll

    combined = docs.unionByName(ood)
    scored = {r["doc_id"]: r["nll"] for r in _charlm_nll(combined).collect()}
    assert scored[10_000_000] > med


def test_zorder_layout_skips_files_for_2d_range(spark):
    """Cluster-write orders by Morton key, then show a 2-D range
    predicate's min/max file pruning: far fewer files intersect the
    query box than exist — the property a date-only or cust-only sort
    cannot give for the OTHER dimension."""
    from fuzzy_item_matching_spark.operators.zorder import zorder_key
    from fuzzy_item_matching_spark.tables import load_table

    path = "/root/repo/.scratch/zorder_orders"
    shutil.rmtree(path, ignore_errors=True)
    o = load_table(spark, SF_CHECK, "orders").withColumn(
        "day",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")),
    )
    # the clustered write: range-partition on the z-key, sort each file
    (
        o.withColumn("_z", zorder_key("o_custkey", "day"))
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) >= 8

    # per-file min/max boxes (what parquet footer stats give a reader)
    boxes = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(
                F.min("o_custkey"),
                F.max("o_custkey"),
                F.min("day"),
                F.max("day"),
            )
            .collect()[0]
        )
        boxes.append(tuple(r))

    # a small 2-D query box: 10% of each dimension's range
    lo_c, hi_c = 100, 240
    lo_d, hi_d = 300, 540
    hit = [
        b
        for b in boxes
        if not (b[1] < lo_c or b[0] > hi_c or b[3] < lo_d or b[2] > hi_d)
    ]
    # Z-order keeps both dims tight per file: the box intersects a
    # strict minority of files. A single-dim sort would intersect ~all
    # files on the other dimension.
    assert len(hit) < len(files) / 2

    # and the skipped files really contain no matching rows
    matched = (
        spark.read.parquet(path)
        .filter(
            (F.col("o_custkey").between(lo_c, hi_c))
            & (F.col("day").between(lo_d, hi_d))
        )
        .count()
    )
    matched_in_hit = sum(
        spark.read.parquet(f)
        .filter(
            (F.col("o_custkey").between(lo_c, hi_c))
            & (F.col("day").between(lo_d, hi_d))
        )
        .count()
        for f in [files[boxes.index(b)] for b in hit]
    )
    assert matched == matched_in_hit
