"""Frozen outputs of the six block-scoring pair operators.

``tests/data/block_scorers.json`` records, for every case below, what
the operator returns, or the class of the error it raised. Rows are
encoded with floats as ``float.hex`` (so -0.0, NaN and the last ulp
all count) and sorted; the record keeps the schema, the row count, the
first rows and the SHA-256 of all of them (the full rows would come
to several MB). The test reruns each case and compares the
record exactly.

Cases cover the sf0.001 and sf0.01 embeddings, the capped and uncapped
LSH forms, both multiprobe forms, LSH pair, self and capped modes, a
dirty frame (a NULL, a 3-dim and a NaN vector, a duplicate id, a
one-row label block, a NULL label) and an empty frame.

Two more ``blocked_pair_stats`` cases hold a frame whose first vector
is the 3-dim one, and a double label with NaN (two bit patterns), -0.0
and 0.0 keys.

Three recorded cases differ on purpose from the plain outputs of the
code they were recorded from, each made by the recorder below:

- ``blocked_pair_stats`` on the dirty frame and on the ragged-first
  frame raised on the 3-dim vector; their rows are the output on the
  same frame without that row.
- ``lsh_multiprobe_topk`` with ``probe_budget=None`` used to run a
  separate SQL probe join; its dirty-frame rows are those of the
  directed path with ``probe_budget=bits_per_table, max_flip=1``,
  which is what ``None`` means now. The two agree on both clean
  frames; on the dirty one the SQL path ranked the NaN vector's NaN
  cosines first and scored a duplicated id with both of its vectors.

Every case runs twice: at the default broadcast threshold, where
``lsh_sqdist_join`` places the small frames on the driver, and at
``spark.sql.autoBroadcastJoinThreshold=-1``, where it keeps its
distributed plan. The hand-made rows are pandas-built local relations,
so the planner knows their size (but for the float-label rows, whose
NaN labels pandas would turn into NULLs).

Regenerate the file only when an output change is intended:

    PYTHONPATH=. python -m tests.test_block_scorers
"""

from __future__ import annotations

import builtins
import hashlib
import json
import os
import struct

import pyspark.errors
import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.operators import ivf, lsh, similarity
from fuzzy_item_matching_spark.tables import load_table

from .conftest import DISTRIBUTED, SF_CHECK, conf_set, local_frame

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "block_scorers.json")
SCHEMA = "vec_id long, embedding array<float>, label int"
TESTDATA = os.path.dirname(SF_CHECK)  # holds sf0.001 and sf0.01

_TOPK = dict(k=3, n_tables=16, bits_per_table=5, seed=42, dim=64)
_CAPPED = dict(k=4, n_tables=8, bits_per_table=4, seed=43, dim=64, bucket_cap=8)
_MP_NONE = dict(k=3, n_tables=4, bits_per_table=6, seed=42, dim=64)
_MP_NONE_AS_DIRECTED = dict(_MP_NONE, probe_budget=6, max_flip=1)
_MP_13 = dict(k=3, n_tables=2, bits_per_table=6, seed=42, dim=64,
              probe_budget=13, max_flip=3)
_IVF = dict(k=3, n_centroids=16, n_probe=8, refine_iters=1)
_CELLS = dict(min_cosine=0.4, n_centroids=16, n_probe=2, refine_iters=1)
_SQD = dict(threshold=1.5, n_tables=10, bucket_length=1.0, seed=42, dim=64)


def _frame(spark, name: str):
    if name.startswith("sf"):
        return load_table(spark, os.path.join(TESTDATA, name), "embeddings")
    if name == "empty":
        return local_frame(spark, [], SCHEMA)
    base = load_table(spark, os.path.join(TESTDATA, "sf0.001"), "embeddings")
    clean = base.filter(F.col("vec_id").isin(3, 5)).orderBy("vec_id").collect()
    v3, v5 = (list(r["embedding"]) for r in clean)
    extra = [
        (90001, None, 0),
        (90002, [1.0, 2.0, 3.0], 0),
        (90003, [float("nan")] + [0.5] * 63, 1),
        (17, v3, 3),  # a second row under an existing id
        (90004, [-x for x in v5], 99),  # the only row of its label
        (90005, v5, None),
    ]
    if name == "dirty_unragged":
        extra = [r for r in extra if r[0] != 90002]
    if name == "ragged_first":  # the first vector read is the 3-dim one
        return local_frame(spark, [extra[1]], SCHEMA).unionByName(base)
    if name == "float_labels":
        # NaN labels (two NaN bit patterns) form one block, and -0.0
        # joins the 0.0 block, as they do under an equi-join
        other_nan = struct.unpack(">d", bytes.fromhex("7ff8000000000123"))[0]
        extra = [
            (90010, v3, float("nan")),
            (90011, v5, other_nan),
            (90012, [-x for x in v3], float("nan")),
            (90013, v5, -0.0),
        ]
        return base.withColumn("label", F.col("label").cast("double")).unionByName(
            spark.createDataFrame(extra, SCHEMA.replace("label int", "label double"))
        )
    return base.unionByName(local_frame(spark, extra, SCHEMA))


def _split(df):
    return df.filter(F.col("vec_id") < 300), df.filter(F.col("vec_id") >= 200)


def _sqdist(df, mode: str):
    left, right = _split(df) if mode != "self" else (df, None)
    kw = dict(_SQD, bucket_cap=3) if mode == "capped" else _SQD
    return lsh.lsh_sqdist_join(left, right, "vec_id", "embedding", **kw)


OPS = {
    "lsh_topk": lambda df: lsh.lsh_cosine_topk(df, "vec_id", "embedding", **_TOPK),
    "lsh_topk_capped": lambda df: lsh.lsh_cosine_topk(
        df, "vec_id", "embedding", **_CAPPED),
    "multiprobe_none": lambda df: lsh.lsh_multiprobe_topk(
        df, "vec_id", "embedding", **_MP_NONE),
    "multiprobe_13": lambda df: lsh.lsh_multiprobe_topk(
        df, "vec_id", "embedding", **_MP_13),
    "ivf_topk": lambda df: ivf.ivf_cosine_topk(df, "vec_id", "embedding", **_IVF),
    "ivf_cells": lambda df: ivf.ivf_cell_pairs(df, "vec_id", "embedding", **_CELLS),
    "blocked": lambda df: similarity.blocked_pair_stats(
        df, "vec_id", "embedding", "label"),
    "sqdist_pair": lambda df: _sqdist(df, "pair"),
    "sqdist_self": lambda df: _sqdist(df, "self"),
    "sqdist_capped": lambda df: _sqdist(df, "capped"),
}

CASES = [f"{op}-{frame}" for frame in ("sf0.001", "sf0.01", "dirty", "empty")
         for op in OPS] + ["blocked-ragged_first", "blocked-float_labels"]


def _public_class(e: Exception) -> str:
    """The first class of ``e``'s MRO that ``pyspark.errors`` or
    builtins export."""
    for c in type(e).__mro__:
        if c in (getattr(pyspark.errors, c.__name__, None), getattr(builtins, c.__name__, None)):
            return c.__name__
    raise AssertionError(type(e))


def _encode(v):
    return v.hex() if isinstance(v, float) else v


def _run(op, df) -> dict:
    try:
        out = op(df)
        rows = out.collect()
    except Exception as e:  # noqa: BLE001 — the class is the record
        return {"raises": _public_class(e)}
    enc = sorted(json.dumps([_encode(v) for v in r]) for r in rows)
    return {
        "schema": out.schema.simpleString(),
        "n": len(enc),
        "head": [json.loads(r) for r in enc[:5]],
        "sha256": hashlib.sha256("\n".join(enc).encode()).hexdigest(),
    }


def _record(spark, case: str) -> dict:
    """The recorded expectation; see the module docstring for the
    two cases not taken verbatim."""
    op, frame = case.split("-", 1)
    df = _frame(spark, frame)
    if (op, frame) == ("blocked", "dirty"):
        df = _frame(spark, "dirty_unragged")
    if (op, frame) == ("blocked", "ragged_first"):
        df = _frame(spark, "sf0.001")
    if (op, frame) == ("multiprobe_none", "dirty"):
        return _run(lambda d: lsh.lsh_multiprobe_topk(
            d, "vec_id", "embedding", **_MP_NONE_AS_DIRECTED), df)
    return _run(OPS[op], df)


@pytest.fixture(scope="module")
def recorded():
    with open(FIXTURE) as fh:
        return json.load(fh)


@pytest.mark.parametrize("case", CASES)
def test_block_scorer_output_matches_recording(spark, recorded, case):
    op, frame = case.split("-", 1)
    assert _run(OPS[op], _frame(spark, frame)) == recorded[case]


@pytest.mark.parametrize("case", CASES)
def test_block_scorer_output_matches_recording_distributed(spark, recorded, case):
    op, frame = case.split("-", 1)
    with conf_set(spark, *DISTRIBUTED):
        assert _run(OPS[op], _frame(spark, frame)) == recorded[case]


def test_self_mode_pairs_distinct_ids_only(spark):
    """Self-mode pair operators emit id_a < id_b only: a row stored
    twice under one id pairs with neither copy of itself."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0)], SCHEMA
    )
    outs = [
        ivf.ivf_cell_pairs(df, "vec_id", "embedding", centroids=[[1.0, 0.0], [0.0, 1.0]]),
        similarity.blocked_pair_stats(df, "vec_id", "embedding", "label"),
        lsh.lsh_sqdist_join(df, None, "vec_id", "embedding", 1.0, n_tables=2, dim=2),
    ]
    for out in outs:
        assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(1, 2)}


if __name__ == "__main__":
    from fuzzy_item_matching_spark import get_spark

    spark = get_spark(app_name="record-block-scorers", shuffle_partitions=8)
    out = {}
    for case in CASES:
        out[case] = _record(spark, case)
        print(case, out[case].get("raises") or out[case]["n"], flush=True)
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(FIXTURE, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
