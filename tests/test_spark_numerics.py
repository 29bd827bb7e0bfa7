"""operators/spark_numerics.py against the Spark it reproduces: fdlibm
``exp`` against ``java.lang.StrictMath.exp``, and the DECIMAL(38,18)
cast, DECIMAL -> DOUBLE cast and ``round(x, 10)`` against one Spark
DataFrame of the same values; the limb sums against Python's ints."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.operators import spark_numerics
from fuzzy_item_matching_spark.operators.spark_numerics import (
    limbs,
    masked_sums,
    round_half_up,
    strict_exp,
    strict_log,
    to_units,
    units_to_double,
)


def _bits(v: float) -> str:
    return "nan" if v != v else float(v).hex()


def test_strict_exp_matches_strictmath(spark):
    rng = np.random.default_rng(11)
    ln2 = math.log(2.0)
    xs = np.concatenate([
        rng.normal(0.0, 3.0, 1500),  # sigmoid / poisson scores
        rng.uniform(-2e-8, 2e-8, 200),  # |x| < 2^-28: 1 + x
        rng.uniform(0.5 * ln2, 1.5 * ln2, 300) * rng.choice([-1, 1], 300),
        rng.uniform(-760.0, 720.0, 600),  # subnormal results, overflow
        [0.0, -0.0, 709.782712893384, 709.79, -745.1332191019411,
         -745.14, -708.5, -1022 * ln2, math.inf, -math.inf, math.nan],
    ])
    strict = spark._jvm.java.lang.StrictMath
    want = [_bits(strict.exp(float(x))) for x in xs.tolist()]
    got = [_bits(v) for v in strict_exp(xs).tolist()]
    bad = [(x, w, g) for x, w, g in zip(xs.tolist(), want, got) if w != g]
    assert not bad, bad[:5]


def test_strict_log_matches_spark_log(spark):
    """Against Spark's ``LOG``, the expression the distributed TF-IDF
    plan computes its idf with: idf ratios (N+1)/(df+1) and values
    across the exponent range, subnormals and |x − 1| < 2^-20."""
    rng = np.random.default_rng(13)
    n = rng.integers(1, 10**6, 1500).astype(np.float64)
    xs = np.concatenate([
        (n + 1.0) / (np.floor(rng.uniform(0.0, 1.0, 1500) * n) + 1.0),
        np.exp(rng.uniform(-700.0, 700.0, 1000)),
        1.0 + rng.uniform(-2e-6, 2e-6, 300),
        rng.uniform(0.5, 2.0, 500),
        [5e-324, 1e-310, 2.2250738585072014e-308, 1.0, 2.0, 1.7976931348623157e308],
    ])
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    want = [_bits(r[0]) for r in df.select(F.log("x")).collect()]
    got = [_bits(v) for v in strict_log(xs).tolist()]
    bad = [(x, w, g) for x, w, g in zip(xs.tolist(), want, got) if w != g]
    assert not bad, bad[:5]


def test_decimal_cast_and_round_match_spark(spark):
    rng = np.random.default_rng(12)
    p = rng.uniform(0.0, 1.0, 1000)
    xs = np.concatenate([
        p - rng.integers(0, 2, 1000),  # logistic g
        p * (1.0 - p),  # logistic h
        rng.normal(0.0, 1.0, 500) * 10.0 ** rng.integers(-15, 8, 500),
        # score steps: an exact 10-place value plus ulp-level drift
        np.round(rng.normal(0.0, 2.0, 500), 10) + 0.3 * np.round(
            rng.normal(0.0, 0.5, 500), 9
        ),
        [0.0, -0.0, 5e-19, -5e-19, 1.5e-10, math.nan, math.inf],
        # past the 28 digits of Python's default decimal context
        [1.2345678901234567e11, -9.87654321e15, 9.9e19, -1.0000000000000002e19],
    ])
    rows = (
        spark.createDataFrame([(float(x),) for x in xs], "x double")
        .select(
            F.col("x").cast("decimal(38,18)").alias("d"),
            F.col("x").cast("decimal(38,18)").cast("double").alias("dd"),
            F.round("x", 10).alias("r"),
        )
        .collect()
    )
    units = to_units(xs)
    rounded = round_half_up(xs, 10)
    for x, u, r, row in zip(xs.tolist(), units, rounded.tolist(), rows):
        want_u = None if row.d is None else int(row.d.scaleb(18))
        assert u == want_u, (x, u, row.d)
        assert _bits(units_to_double(u) if u is not None else math.nan) == (
            _bits(row.dd if row.dd is not None else math.nan)
        ), (x, row.dd)
        assert _bits(r) == _bits(row.r), (x, r, row.r)


def test_limb_sums_exact_and_bounded(monkeypatch):
    rng = np.random.default_rng(13)
    units = [
        None if i % 7 == 0 else int(rng.integers(-(10**18), 10**18)) * 10**19 + i
        for i in range(300)
    ] + [10**38 - 1, -(10**38 - 1)]
    masks = rng.random((5, len(units))) < 0.5
    want = [
        sum(u or 0 for u, m in zip(units, row) if m) for row in masks.tolist()
    ]
    assert masked_sums(masks, limbs(units)) == want
    # past EXACT_ROWS an int64 limb sum could wrap: refuse instead
    monkeypatch.setattr(spark_numerics, "EXACT_ROWS", 4)
    assert limbs([1, -2, None]).shape == (3, 5)
    with pytest.raises(ValueError, match="exact DECIMAL sums"):
        limbs([1, 2, 3, 4])
