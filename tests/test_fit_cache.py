"""The iterative fits leave nothing cached.

Each fit persists its training frame for the K passes of its loop; the
returned trace reads only the eager per-iteration checkpoints, so the
training frame is unpersisted before the fit returns.
"""

from __future__ import annotations

import pytest

from fuzzy_item_matching_spark.operators.als import als_rank2_fit
from fuzzy_item_matching_spark.operators.fm import fm_gd_fit
from fuzzy_item_matching_spark.operators.logreg import (
    logistic_gd_fit,
    quantile_gd_fit,
    sparse_logistic_gd_fit,
)


def _pairs(spark):
    return spark.createDataFrame(
        [(i % 2, 0.1 * (i % 5), 0.2 * (i % 3)) for i in range(12)],
        "label int, x1 double, x2 double",
    )


def _sparse(spark):
    rows = spark.createDataFrame(
        [(i, i % 2) for i in range(8)], "row_id int, label int"
    )
    postings = spark.createDataFrame(
        [(i, 0, 1.0) for i in range(8)] + [(i, 1 + i % 2, 0.5) for i in range(8)],
        "row_id int, j int, x double",
    )
    return sparse_logistic_gd_fit(rows, postings, iters=2, n_features=2)


def _ratings(spark):
    return spark.createDataFrame(
        [(u, i, float(1 + (u + i) % 3)) for u in range(1, 5) for i in range(1, 4)],
        "u long, i long, r double",
    )


FITS = {
    "logistic_gd_fit": lambda s: logistic_gd_fit(_pairs(s), ["x1", "x2"], iters=2),
    "quantile_gd_fit": lambda s: quantile_gd_fit(_pairs(s), ["x1", "x2"], iters=2),
    "fm_gd_fit": lambda s: fm_gd_fit(_pairs(s), ["x1", "x2"], iters=2),
    "sparse_logistic_gd_fit": _sparse,
    "als_rank2_fit": lambda s: als_rank2_fit(_ratings(s), iters=1),
}


@pytest.mark.parametrize("fit", list(FITS))
def test_fit_leaves_nothing_cached(spark, fit):
    spark.catalog.clearCache()
    assert FITS[fit](spark).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
