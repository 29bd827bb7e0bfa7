"""The oracles live outside the engine and are read through one accessor.

Every oracle is registered under its query's name in the root
``oracles/`` package, and ``oracles.oracle_sql()`` is the one reader.
These checks need no SparkSession: they pin the accessor's output and
the package split.
"""

from __future__ import annotations

import ast
import dataclasses
import hashlib
import json
import pathlib

from fuzzy_item_matching_spark.queries import Query
from oracles import oracle_sql

ROOT = pathlib.Path(__file__).resolve().parents[1]
ENGINE = ROOT / "fuzzy_item_matching_spark"

# sha256 of json.dumps(sorted(oracle_sql().items())) before the twins
# left the engine: moving them must not change one byte of any oracle
ORACLES_SHA256 = "a41a21e34389ab53b59804085872e8e6eff0154e015e2a2ab840622bb85be30a"


def test_oracle_sql_is_unchanged_by_the_move():
    oracles = oracle_sql()
    assert len(oracles) == 357
    blob = json.dumps(sorted(oracles.items())).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLES_SHA256


def test_spark_entry_returns_the_accessor_output():
    import __spark_entry__

    assert __spark_entry__.oracle_sql() == oracle_sql()


def _modules(root: pathlib.Path):
    for path in sorted(root.rglob("*.py")):
        yield path, ast.parse(path.read_text())


def test_engine_never_imports_oracles():
    offenders = []
    for path, tree in _modules(ENGINE):
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                continue
            if any(n == "oracles" or n.startswith("oracles.") for n in names):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert offenders == []


def test_no_sql_twins_left_in_operators():
    """Operator modules hold engine code only. ``dedup.winnowing_sql``
    is not a twin: the engine's mapInArrow kernel runs it."""
    twins = [
        f"{path.stem}.{node.name}"
        for path, tree in _modules(ENGINE / "operators")
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.endswith(("_sql", "_ctes"))
    ]
    assert twins == ["dedup.winnowing_sql"]


def test_queries_declare_no_oracle():
    """Oracles have one home: no ``query(...)`` call in the engine
    passes ``oracle=``, and a ``Query`` holds no oracle field."""
    offenders = [
        f"{path.relative_to(ROOT)}:{node.lineno}"
        for path, tree in _modules(ENGINE)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == "query"
        and any(k.arg == "oracle" for k in node.keywords)
    ]
    assert offenders == []
    assert [f.name for f in dataclasses.fields(Query)] == ["name", "fn", "doc"]
