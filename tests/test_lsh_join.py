"""Equality pin for ``lsh_sqdist_join``'s sorted-run kernel.

The join's output is replayed in plain Python from the bucket rule
alone: two rows are candidates when they share a bucket in at least
one table, the right side of each (table, bucket) is cut to its
``bucket_cap`` lowest ids, and a candidate survives when its
squared distance, accumulated dimension by dimension, is within the
threshold. Arrow batches of 7 rows make bucket runs straddle batches.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from fuzzy_item_matching_spark.operators.lsh import (
    lsh_sqdist_join,
    random_hyperplanes,
)

DIM, TABLES, BUCKET, SEED, THRESHOLD = 6, 3, 0.5, 11, 0.6
SCHEMA = "id long, vec array<double>"


def _rows(rng, n, first_id, centres):
    """Clustered vectors, so buckets hold runs longer than a batch."""
    out = []
    for i in range(n):
        c = centres[i % len(centres)]
        v = c + rng.normal(0, 0.15, DIM)
        out.append((first_id + i, [float(x) for x in v]))
    return out


@pytest.fixture(scope="module")
def sides():
    rng = np.random.default_rng(5)
    centres = rng.normal(0, 0.6, (4, DIM))
    left = _rows(rng, 40, 0, centres)
    # duplicate ids with different vectors, a NULL and a ragged vector
    left += [(3, left[10][1]), (7, left[20][1]), (900, None), (901, [1.0] * (DIM - 1))]
    right = _rows(rng, 60, 1000, centres)
    # duplicate rows: equal vectors, so the cap's pick among them is moot
    right += [right[5], right[6], right[6], (950, None), (951, [0.0] * (DIM + 1))]
    return left, right


@pytest.fixture
def tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        yield spark
    finally:
        spark.conf.set(key, old)


def _buckets(v, planes):
    out = []
    for t, plane in enumerate(planes):
        acc = 0.0
        for x, p in zip(v, plane):
            acc += x * p
        out.append((t, math.floor(acc / BUCKET)))
    return out


def _sqdist(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def _replay(left, right, cap):
    """Pairs (id_a, id_b, sqdist) by the bucket rule; ``right=None`` is
    self mode (id_a < id_b)."""
    planes = random_hyperplanes(DIM, TABLES, SEED)
    valid = lambda rows: [(i, v) for i, v in rows if v is not None and len(v) == DIM]
    blocks: dict[tuple, tuple[list, list]] = {}
    for side, rows in ((0, valid(left)), (1, valid(right or []))):
        for i, v in rows:
            for key in _buckets(v, planes):
                blocks.setdefault(key, ([], []))[side].append((i, v))
    out = set()
    for a_rows, b_rows in blocks.values():
        if right is None:
            cands = [(a, b) for a in a_rows for b in a_rows if a[0] < b[0]]
        else:
            b_rows = sorted(b_rows, key=lambda r: r[0])[:cap]
            cands = [(a, b) for a in a_rows for b in b_rows]
        for (ia, va), (ib, vb) in cands:
            d = _sqdist(va, vb)
            if d <= THRESHOLD:
                out.add((ia, ib, d))
    return out


def _join(spark, left, right, cap):
    rdf = None if right is None else spark.createDataFrame(right, SCHEMA)
    rows = lsh_sqdist_join(
        spark.createDataFrame(left, SCHEMA), rdf, "id", "vec", THRESHOLD,
        n_tables=TABLES, bucket_length=BUCKET, seed=SEED, dim=DIM, bucket_cap=cap,
    ).collect()
    got = [(r.id_a, r.id_b, r.sqdist) for r in rows]
    assert len(got) == len(set(got)), "duplicate pairs in the output"
    return set(got)


@pytest.mark.parametrize(
    "mode,cap",
    [("pair", 4), ("pair", None), ("self", None)],
    ids=["pair_capped", "pair_uncapped", "self"],
)
def test_lsh_sqdist_join_equals_bucket_rule_replay(tiny_batches, sides, mode, cap):
    left, right = sides
    if mode == "self":
        right = None
    want = _replay(left, right, cap)
    assert len(want) > 20, "fixture too sparse to pin anything"
    if cap is not None:
        assert want != _replay(left, right, None), "the cap must bind"
    assert _join(tiny_batches, left, right, cap) == want  # exact sqdist


def test_lsh_sqdist_join_empty_side(tiny_batches, sides):
    left, right = sides
    assert _join(tiny_batches, left, [], 4) == set()
    assert _join(tiny_batches, [], right, 4) == set()
    assert _join(tiny_batches, [], None, None) == set()
