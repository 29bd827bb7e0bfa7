"""The one boosted-tree scorer, checked on every recorded gradient model.

``tests/data/boosting_models.json`` holds the model rows of every
gboost_fit, gboost_depth2_fit, gboost_deep_fit and gboost_hist_fit case
in ``tests/test_boosting_models.py``. Each model scores the frame it
was fitted on three ways: ``boosting.score_column``,
``boosting.model_artifact`` after a ModelRegistry register/load round
trip, and a plain-Python walk written here with Spark's ``x <= thr``
(NaN above every number, a NULL x to the ``w_gt`` side). The three
must agree as ``float.hex``. The ``nan_x`` and ``null_x`` frames reach
the NaN-threshold and NULL cases; the empty frames' fits raised, so
their model has no rows and scores nothing.
"""

from __future__ import annotations

import ast
import json
import math
import pathlib

import pytest
from pyspark.sql import Row

from fuzzy_item_matching_spark.operators.boosting import (
    GB_ETA,
    model_artifact,
    score_column,
)
from fuzzy_item_matching_spark.operators.registry import ModelRegistry

from .test_boosting_models import CASES, FEATS, FIXTURE, _frame

ROOT = pathlib.Path(__file__).resolve().parents[1]
GBOOST = [c for c in CASES if c[1].startswith("gboost")]


def _model_rows(record: dict) -> list[Row]:
    """The recorded rows as collected model rows, hex floats decoded."""
    if "raises" in record:
        return []
    fields = [
        f.split(":") for f in record["schema"][len("struct<"):-1].split(",")
    ]
    return [
        Row(**{
            name: float.fromhex(v) if kind == "double" and v is not None else v
            for (name, kind), v in zip(fields, r)
        })
        for r in record["rows"]
    ]


def _le(x: float | None, thr: float) -> bool | None:
    """Spark SQL's ``x <= thr`` on doubles: NULL if x is NULL, NaN
    equal to itself and greater than every other value."""
    if x is None:
        return None
    if math.isnan(thr):
        return True
    return not math.isnan(x) and x <= thr


def _walk(model: list[Row], x: dict) -> float:
    """f(x) = Σ_t η·w_leaf, summed left to right in round order."""
    terms = []
    for t in sorted({m["round"] for m in model}):
        tree = [m.asDict() for m in model if m["round"] == t]
        if "node" in tree[0]:
            nodes = {m["node"]: m for m in tree}
            n, leaf = 1, None
            while leaf is None:
                p = nodes[n]
                side = _le(x[p["feature"]], p["thr"])
                if 2 * n in nodes:
                    n = 2 * n if side else 2 * n + 1
                else:
                    leaf = p["w_le"] if side else p["w_gt"]
        elif "f0" in tree[0]:
            [m] = tree
            if _le(x[m["f0"]], m["t0"]):
                leaf = m["w_ll"] if _le(x[m["fl"]], m["tl"]) else m["w_lr"]
            else:
                leaf = m["w_rl"] if _le(x[m["fr"]], m["tr"]) else m["w_rr"]
        else:
            [m] = tree
            leaf = m["w_le"] if _le(x[m["feature"]], m["thr"]) else m["w_gt"]
        terms.append(GB_ETA * leaf)
    score = terms[0] if terms else 0.0
    for term in terms[1:]:
        score = score + term
    return score


@pytest.fixture(scope="module")
def recorded():
    with open(FIXTURE) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def lr(spark):
    """The sf0.001 pair frame, read once for all its cases."""
    df = _frame(spark, "lr").select(*FEATS).persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def registry(tmp_path_factory):
    return ModelRegistry(str(tmp_path_factory.mktemp("scorer_registry")))


@pytest.mark.parametrize("case", [c[0] for c in GBOOST])
def test_scorer_matches_walk(spark, recorded, lr, registry, case):
    _, _, frame, _ = next(c for c in GBOOST if c[0] == case)
    model = _model_rows(recorded[case])
    pairs = lr if frame == "lr" else _frame(spark, frame).select(*FEATS)
    version = registry.register(case, model_artifact(model))
    served = registry.load(case, version=version)
    got = served.transform(
        pairs.withColumn("by_column", score_column(model))
    ).collect()
    assert len(got) == pairs.count()
    for r in got:
        want = _walk(model, r.asDict()).hex()
        assert (r["by_column"].hex(), r["score"].hex()) == (want, want), r


def test_queries_never_import_eta():
    """The queries score through ``boosting.score_column`` /
    ``model_artifact``; none reads the learning rate itself."""
    offenders = []
    queries = ROOT / "fuzzy_item_matching_spark" / "queries"
    for path in sorted(queries.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                hit = any(a.name == "GB_ETA" for a in node.names)
            else:
                hit = isinstance(node, ast.Attribute) and node.attr == "GB_ETA"
            if hit:
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert offenders == []
