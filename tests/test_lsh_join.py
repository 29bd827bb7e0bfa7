"""Equality pin for ``lsh_sqdist_join``'s sorted-run kernel.

The join's output is replayed in plain Python from the bucket rule
alone: two rows are candidates when they share a bucket in at least
one table, the right side of each (table, bucket) is cut to its
``bucket_cap`` lowest ids, and a candidate survives when its
squared distance, accumulated dimension by dimension, is within the
threshold. Both placements are pinned: the distributed plan with Arrow
batches of 7 rows, so bucket runs straddle batches, and the driver
placement the small fixture gets at the default broadcast threshold
(and loses when its runs hold more work than the driver bound).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.operators import lsh
from fuzzy_item_matching_spark.operators.lsh import (
    lsh_sqdist_join,
    random_hyperplanes,
)

from .conftest import DISTRIBUTED, conf_set, local_frame

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
    """The distributed placement with 7-row Arrow batches."""
    with conf_set(spark, *DISTRIBUTED), conf_set(
        spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "7"
    ):
        yield spark


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


def _norm(i):
    """An id as a set member: NaN != NaN, so NaN ids become "NaN"."""
    return "NaN" if isinstance(i, float) and math.isnan(i) else i


def _replay(left, right, cap, order=lambda i: i):
    """Pairs (id_a, id_b, sqdist) by the bucket rule; ``right=None`` is
    self mode (id_a < id_b). The cap keeps the right rows first by
    ``order`` of their id."""
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
            b_rows = sorted(b_rows, key=lambda r: order(r[0]))[:cap]
            cands = [(a, b) for a in a_rows for b in b_rows]
        for (ia, va), (ib, vb) in cands:
            d = _sqdist(va, vb)
            if d <= THRESHOLD:
                out.add((_norm(ia), _norm(ib), d))
    return out


def _long_id_frame(spark, rows):
    return local_frame(spark, rows, SCHEMA)


def _join(spark, left, right, cap, frame=_long_id_frame, on_driver=None):
    rdf = None if right is None else frame(spark, right)
    out = lsh_sqdist_join(
        frame(spark, left), rdf, "id", "vec", THRESHOLD,
        n_tables=TABLES, bucket_length=BUCKET, seed=SEED, dim=DIM, bucket_cap=cap,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if on_driver is None:
        on_driver = spark.conf.get(DISTRIBUTED[0]) != DISTRIBUTED[1]
    assert ("MapInPandas" not in plan) == on_driver, plan
    rows = out.collect()
    got = [(_norm(r.id_a), _norm(r.id_b), r.sqdist) for r in rows]
    assert len(got) == len(set(got)), "duplicate pairs in the output"
    return set(got)


MODES = pytest.mark.parametrize(
    "mode,cap",
    [("pair", 4), ("pair", None), ("self", None)],
    ids=["pair_capped", "pair_uncapped", "self"],
)


def _check_replay(spark, sides, mode, cap, on_driver=None):
    left, right = sides
    if mode == "self":
        right = None
    want = _replay(left, right, cap)
    assert len(want) > 20, "fixture too sparse to pin anything"
    if cap is not None:
        assert want != _replay(left, right, None), "the cap must bind"
    assert _join(spark, left, right, cap, on_driver=on_driver) == want  # exact sqdist


def _check_empty_side(spark, sides):
    left, right = sides
    assert _join(spark, left, [], 4) == set()
    assert _join(spark, [], right, 4) == set()
    assert _join(spark, [], None, None) == set()


@MODES
def test_lsh_sqdist_join_equals_bucket_rule_replay(tiny_batches, sides, mode, cap):
    _check_replay(tiny_batches, sides, mode, cap)


def test_lsh_sqdist_join_empty_side(tiny_batches, sides):
    _check_empty_side(tiny_batches, sides)


@MODES
def test_lsh_sqdist_join_on_driver_equals_bucket_rule_replay(spark, sides, mode, cap):
    _check_replay(spark, sides, mode, cap)


def test_lsh_sqdist_join_on_driver_empty_side(spark, sides):
    _check_empty_side(spark, sides)


@MODES
def test_lsh_sqdist_join_over_driver_work_bound_runs_distributed(
    spark, sides, mode, cap, monkeypatch
):
    """An input within the broadcast threshold whose runs hold more
    work than the driver bound runs on the distributed plan."""
    monkeypatch.setattr(lsh, "_DRIVER_MAX_FOLDS", 0)
    _check_replay(spark, sides, mode, cap, on_driver=False)


def _float_id_frame(spark, rows):
    """``rows`` with double ids, NaN among them. A pandas-built frame
    reads a NaN as NULL, so the ids travel as strings and are cast."""
    rows = [(None if i is None else str(i), v) for i, v in rows]
    df = local_frame(spark, rows, "id string, vec array<double>")
    return df.withColumn("id", F.col("id").cast("double"))


def _null_first(i):
    return (0, 0.0) if i is None else (1, i)


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
def test_lsh_sqdist_join_nan_ids_are_null_ids(spark, sides, distributed):
    """Double ids: the distributed plan's pandas hop reads a NaN id as
    NULL, so under the cap it sorts first, with the NULLs, and comes
    out NULL; the driver placement does the same."""
    left, right = sides
    left = [(float(i), v) for i, v in left[:40]]
    # NaN and NULL ids on copies of right rows, so they share buckets
    right = [(float(i), v) for i, v in right[:60]]
    right += [(math.nan, right[k][1]) for k in range(0, 20, 2)] + [(None, right[1][1])]
    cap = 4
    as_null = [(None if i is None or math.isnan(i) else i, v) for i, v in right]
    want = _replay(left, as_null, cap, order=_null_first)
    nan_last = lambda i: (2, 0.0) if i is not None and math.isnan(i) else _null_first(i)
    other = {(a, None if b == "NaN" else b, d) for a, b, d in _replay(left, right, cap, nan_last)}
    assert want != other, "the NaN ids' place in the order must bind"
    with conf_set(spark, *(DISTRIBUTED if distributed else (DISTRIBUTED[0], "10485760"))):
        got = _join(spark, left, right, cap, frame=_float_id_frame)
    assert got == want
