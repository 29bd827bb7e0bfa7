"""Last-mile pipeline ops: sequence packing, PII redaction, ANN recall.

Oracle parity at sf0.01 (the driver's t2 contract) plus the semantic
invariants the oracles can't express: packing conserves tokens and
fills shards front-to-back, redaction leaves no digit behind, recall
is a valid ratio with the LSH index beating a random-candidate floor.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.queries import load_all
from oracles import oracle_sql
from tests.conftest import SF_CHECK, SF_SMOKE, assert_matches_oracle

REGISTRY = load_all()
ORACLES = oracle_sql()


@pytest.mark.parametrize(
    "name", ["ts_seq_packing", "ts_redact_pii", "sim_ann_recall"]
)
def test_pipeline_op_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert name in ORACLES, f"{name} must carry an exact oracle"
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES[name])


def test_seq_packing_conserves_tokens(spark):
    from fuzzy_item_matching_spark.functions.text import regex_tokenize
    from fuzzy_item_matching_spark.tables import load_table

    manifest = REGISTRY["ts_seq_packing"].fn(spark, SF_SMOKE)
    packed_total = manifest.agg(F.sum("seq_tokens")).collect()[0][0]
    docs = load_table(spark, SF_SMOKE, "documents")
    raw_total = docs.select(
        F.sum(F.size(regex_tokenize("text"))).alias("t")
    ).collect()[0][0]
    assert packed_total == raw_total

    # every shard's packing starts at sequence 0 and doc-id spans of
    # consecutive sequences never interleave (contiguous fill)
    rows = sorted(
        manifest.collect(), key=lambda r: (r["shard"], r["seq_id"])
    )
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard_rows in by_shard.values():
        assert shard_rows[0]["seq_id"] == 0
        for prev, cur in zip(shard_rows, shard_rows[1:]):
            assert prev["last_doc"] < cur["first_doc"]


def test_redact_pii_leaves_no_digits(spark):
    out = REGISTRY["ts_redact_pii"].fn(spark, SF_SMOKE)
    bad = out.filter(F.col("clean_note").rlike("[0-9]")).count()
    assert bad == 0
    # c_phone guarantees at least one structured phone per row
    assert out.filter(F.col("n_phones") < 1).count() == 0


def test_ann_recall_is_valid_ratio(spark):
    row = REGISTRY["sim_ann_recall"].fn(spark, SF_SMOKE).collect()[0]
    assert row["n_exact"] > 0
    assert 0 <= row["n_hits"] <= row["n_exact"]
    assert row["recall"] == pytest.approx(row["n_hits"] / row["n_exact"])
    # 16 tables x 5 bits on 64-dim unit-ish vectors should comfortably
    # beat a random-candidate baseline
    assert row["recall"] >= 0.3


@pytest.mark.parametrize(
    "name",
    ["dedup_decontaminate", "ts_corpus_shuffle", "train_stratified_sample"],
)
def test_curation_op_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert name in ORACLES, f"{name} must carry an exact oracle"
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES[name])


def test_decontaminate_covers_eval_split_only(spark):
    out = REGISTRY["dedup_decontaminate"].fn(spark, SF_SMOKE)
    rows = out.collect()
    assert rows, "eval split must be non-empty"
    for r in rows:
        assert r["doc_id"] % 10 == 0
        assert 0 <= r["n_contaminated"] <= r["n_grams"]
        assert 0.0 <= r["contamination"] <= 1.0


def test_corpus_shuffle_is_permutation(spark):
    out = REGISTRY["ts_corpus_shuffle"].fn(spark, SF_SMOKE)
    rows = out.collect()
    n = len(rows)
    assert sorted(r["shuffle_pos"] for r in rows) == list(range(1, n + 1))
    # sharded decomposition == the naive single-partition global window
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fuzzy_item_matching_spark.functions.sampling import keyed_uniform
    from fuzzy_item_matching_spark.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id")
    naive = d.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(keyed_uniform(F.col("doc_id"), seed=42), "doc_id"))
        .cast("long")
        .alias("shuffle_pos"),
    )
    assert {(r["doc_id"], r["shuffle_pos"]) for r in rows} == {
        (r["doc_id"], r["shuffle_pos"]) for r in naive.collect()
    }


def test_stratified_sample_keeps_min_class_whole(spark):
    rows = REGISTRY["train_stratified_sample"].fn(spark, SF_SMOKE).collect()
    assert rows
    min_row = min(rows, key=lambda r: r["n_orig"])
    assert min_row["n_sampled"] == min_row["n_orig"]  # rate 1.0 class
    for r in rows:
        assert r["n_sampled"] <= r["n_orig"]


@pytest.mark.parametrize("name", ["ts_repetition", "stream_ingest_dedup"])
def test_quality_stream_op_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert name in ORACLES, f"{name} must carry an exact oracle"
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES[name])


def test_repetition_fracs_bounded(spark):
    rows = REGISTRY["ts_repetition"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["dup_token_frac"] <= 1.0
        assert 0.0 <= r["dup_3gram_frac"] <= 1.0
        assert r["flagged"] == (
            r["dup_token_frac"] > 0.3 or r["dup_3gram_frac"] > 0.2
        )


def test_ingest_dedup_excludes_historical_content(spark):
    from fuzzy_item_matching_spark.tables import load_table

    out = REGISTRY["stream_ingest_dedup"].fn(spark, SF_SMOKE)
    n_new = out.agg(F.sum("n_new")).collect()[0][0]
    docs = load_table(spark, SF_SMOKE, "documents")
    hist_fps = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.md5(F.col("text").cast("binary")).alias("fp")
    )
    expected = (
        docs.withColumn("fp", F.md5(F.col("text").cast("binary")))
        .join(hist_fps.distinct(), "fp", "left_anti")
        .count()
    )
    assert n_new == expected
    # historical docs themselves always match their own fingerprint
    assert n_new < docs.count()


def test_tokenizer_null_text_yields_empty_not_null(spark):
    from fuzzy_item_matching_spark.functions.text import regex_tokenize

    df = spark.createDataFrame(
        [(1, "hello world"), (2, None), (3, "")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", F.size(regex_tokenize("text")).alias("n")
        ).collect()
    }
    assert rows[1]["n"] == 2
    assert rows[2]["n"] == 0  # null text == empty doc, not null metrics
    assert rows[3]["n"] == 0


def test_stream_stream_join_matches_batch(spark, duck):
    q = REGISTRY["stream_stream_join"]
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES["stream_stream_join"])


def test_stream_stream_join_respects_window(spark):
    rows = REGISTRY["stream_stream_join"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        delta = (r["b_ts"] - r["v_ts"]).total_seconds()
        assert 0 <= delta <= 2 * 3600


def test_sliding_window_covers_each_event_four_times(spark, duck):
    q = REGISTRY["stream_events_sliding"]
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES["stream_events_sliding"])
    from fuzzy_item_matching_spark.tables import load_table

    out = REGISTRY["stream_events_sliding"].fn(spark, SF_SMOKE)
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert out.agg(F.sum("n")).collect()[0][0] == 4 * n_events


def test_kmv_sketch_oracle_and_accuracy(spark, duck):
    q = REGISTRY["ts_distinct_kmv"]
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES["ts_distinct_kmv"])
    row = q.fn(spark, SF_CHECK).collect()[0]
    exact, est = row["exact_distinct"], row["kmv_estimate"]
    assert exact > 256, "cardinality must exceed k for the estimator path"
    # KMV stderr ~ 1/sqrt(k-2) ~ 6.3% at k=256; allow 4 sigma
    assert abs(est - exact) / exact < 0.25


def test_kmv_uses_takeordered_not_global_sort(spark):
    import io
    from contextlib import redirect_stdout

    df = REGISTRY["ts_distinct_kmv"].fn(spark, SF_CHECK)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "TakeOrderedAndProject" in buf.getvalue()


@pytest.mark.parametrize("name", ["ts_token_dominance", "ts_top_terms"])
def test_textstat_extras_oracle(spark, duck, name):
    q = REGISTRY[name]
    assert_matches_oracle(q.fn(spark, SF_CHECK), duck, ORACLES[name])


def test_token_dominance_bounds(spark):
    rows = REGISTRY["ts_token_dominance"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r["max_tf"] <= r["n_tokens"]
        assert 0.0 < r["top_token_frac"] <= 1.0


def test_bmp_codec_roundtrip():
    """encode_bmp -> decode_bmp is identity on geometry and pixels,
    including non-multiple-of-4 row widths (padding strip)."""
    from fuzzy_item_matching_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    for w, h in [(1, 1), (2, 3), (5, 4), (16, 8)]:
        n = w * h * 3
        px = bytes(i % 251 for i in range(n))
        got = decode_bmp(encode_bmp(w, h, px))
        assert got == (w, h, px)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp(b"NOTABMP" + bytes(64))


def test_wav_codec_roundtrip():
    """encode_wav -> decode_wav is identity on samples; non-WAV and
    unsupported encodings are rejected."""
    import numpy as np

    from fuzzy_item_matching_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    for samples in [b"", b"\x00", bytes(range(256)), b"hello world" * 9]:
        got = decode_wav(encode_wav(samples))
        assert bytes(got.astype(np.uint8)) == samples

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav(b"RIFX" + bytes(64))


def test_token_budget_water_filling_invariants(spark):
    """Allocation never exceeds supply or budget; unexhausted sources
    all receive the same (maximal) share — the water level."""
    from fuzzy_item_matching_spark.queries import load_all

    from .conftest import SF_CHECK

    rows = load_all()["pipe_token_budget"].fn(spark, SF_CHECK).collect()
    total = sum(r.n_tokens for r in rows)
    budget = 19 * total // 20
    assert sum(r.allocated for r in rows) <= budget
    for r in rows:
        assert 0 <= r.allocated <= r.n_tokens
        assert r.exhausted == int(r.allocated == r.n_tokens)
    levels = {r.allocated for r in rows if not r.exhausted}
    assert len(levels) <= 1  # one water level among unexhausted
    if levels:
        level = levels.pop()
        assert all(r.allocated <= level or r.exhausted for r in rows)
