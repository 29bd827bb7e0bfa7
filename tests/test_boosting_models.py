"""Frozen model rows for the six boosting fits.

``tests/data/boosting_models.json`` records, for every case below, the
model table a fit returns: its schema and every row, floats as
``float.hex`` (so -0.0, NaN and the last ulp all count), or the class
of the error the fit raised. The test refits each case and compares
the encoding exactly.

The recorded rows are the ones the fits returned when every round ran
as Spark plans, so any drift in the driver-side arithmetic shows here.
Regenerate the file only when a model change is intended:

    PYTHONPATH=. python -m tests.test_boosting_models
"""

from __future__ import annotations

import builtins
import json
import os

import pyspark.errors
import pytest

from fuzzy_item_matching_spark.operators import boosting, gboost_deep

from .conftest import SF_SMOKE

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "boosting_models.json")

# 40 rows with label noise, so every round reweights (AdaBoost) or
# moves the score (gradient boosting) and no split is ever perfect.
_LONG = [
    (
        int((i * 7) % 11 < 5),
        (i * 37 % 41) / 8.0,
        float(i % 5),
        ((i * 13) % 17) / 3.0 - 2.0,
        i,
    )
    for i in range(40)
]
_SCHEMA = "label int, x1 double, x2 double, x3 double, k long"


def _dirty(i: int, col: int, value) -> list[tuple]:
    rows = [list(r) for r in _LONG]
    rows[i][col] = value
    return [tuple(r) for r in rows]


_FRAMES = {
    "long": _LONG,
    # x2 constant: its 15 thresholds coincide
    "const": [(l, a, 3.0, c, k) for l, a, _, c, k in _LONG],
    # every feature constant: each root sends all rows to one side
    "allconst": [(l, 1.0, 2.0, 0.5, k) for l, _, _, _, k in _LONG[:4]],
    "null_x": _dirty(3, 1, None),
    "nan_x": _dirty(3, 1, float("nan")),
    "null_y": _dirty(5, 0, None),
    "null_k": _dirty(6, 4, None),
    "one_row": _LONG[:1],
    "empty": [],
}
FEATS = ["x1", "x2", "x3"]


def _frame(spark, name: str):
    if name == "lr":
        from fuzzy_item_matching_spark.queries.training import _lr_pairs

        return _lr_pairs(spark, SF_SMOKE)
    return spark.createDataFrame(_FRAMES[name], _SCHEMA)


def _cases() -> list[tuple[str, str, str, dict]]:
    """(id, fit, frame, kwargs) for every recorded fit."""
    out = []

    def add(fit, frame, **kw):
        tag = "-".join(f"{k}={v}" for k, v in kw.items())
        out.append((f"{fit}-{frame}-{tag}", fit, frame, kw))

    four = ["adaboost_stumps", "adaboost_depth2", "gboost_fit", "gboost_depth2_fit"]
    deep = ["gboost_deep_fit", "gboost_hist_fit"]
    for frame in ("lr", "long"):
        key = "id_a" if frame == "lr" else "k"
        for fit in four:
            for r in (1, 3, 5, 9, 10):
                add(fit, frame, rounds=r)
        for loss in ("squared", "poisson"):
            for r in (3, 10):
                add("gboost_fit", frame, rounds=r, loss=loss)
        for fit in deep:
            for r in (1, 2, 3, 9):
                add(fit, frame, rounds=r, depth=3)
            add(fit, frame, rounds=3, depth=3, subsample=0.7, colsample=0.67,
                min_child_weight=0.5, row_key=key)
            add(fit, frame, rounds=2, depth=3, colsample_bynode=0.5)
    for frame in ("const", "allconst", "null_x", "nan_x", "null_y", "one_row"):
        for fit in four:
            add(fit, frame, rounds=3)
        for fit in deep:
            add(fit, frame, rounds=3, depth=3)
    for frame in ("null_x", "null_y"):
        for loss in ("squared", "poisson"):
            add("gboost_fit", frame, rounds=3, loss=loss)
    for fit in deep:
        add(fit, "null_k", rounds=2, depth=2, subsample=0.5, row_key="k")
        add(fit, "null_y", rounds=2, depth=3, min_child_weight=0.5)
    for fit in four + deep:
        add(fit, "empty", rounds=1)
    return out


CASES = _cases()


def _public_class(e: Exception) -> str:
    """The first class of ``e``'s MRO that ``pyspark.errors`` or
    builtins export — a Spark-side error and a driver-side one of the
    same kind record alike."""
    for c in type(e).__mro__:
        if c in (getattr(pyspark.errors, c.__name__, None), getattr(builtins, c.__name__, None)):
            return c.__name__
    raise AssertionError(type(e))


def _encode(v):
    return v.hex() if isinstance(v, float) else v


def _run(fit: str, pairs, kw: dict) -> dict:
    fn = getattr(boosting, fit, None) or getattr(gboost_deep, fit)
    try:
        model = fn(pairs, FEATS, **kw)
        rows = model.collect()
    except Exception as e:  # noqa: BLE001 — the class is the record
        return {"raises": _public_class(e)}
    return {
        "schema": model.schema.simpleString(),
        "rows": [[_encode(v) for v in r] for r in rows],
    }


@pytest.fixture(scope="module")
def recorded():
    with open(FIXTURE) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def lr(spark):
    """The sf0.001 pair frame, read once for all its cases."""
    df = _frame(spark, "lr").persist()
    yield df
    df.unpersist()


@pytest.mark.parametrize("case", [c[0] for c in CASES])
def test_model_rows_match_recording(spark, recorded, lr, case):
    _, fit, frame, kw = next(c for c in CASES if c[0] == case)
    pairs = lr if frame == "lr" else _frame(spark, frame)
    assert _run(fit, pairs, kw) == recorded[case]


if __name__ == "__main__":
    from fuzzy_item_matching_spark import get_spark

    spark = get_spark(app_name="record-boosting-models", shuffle_partitions=8)
    out = {}
    for case, fit, frame, kw in CASES:
        out[case] = _run(fit, _frame(spark, frame), kw)
        print(case, "raises" in out[case] and out[case]["raises"] or "ok", flush=True)
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(FIXTURE, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
