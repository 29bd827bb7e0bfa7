"""DuckDB oracles of the engine's named queries, outside the engine.

An oracle is DuckDB SQL over the pre-registered table views that must
return exactly what its query returns (row count, schema and an
order-insensitive value hash). The engine never imports this package;
read every oracle through :func:`oracle_sql`.

Every oracle is a function in this package registered under its
query's name with :func:`oracle`. ``boosting``, ``gboost_deep``,
``kmeans``, ``logreg``, ``unigram_lm``, ``als``, ``fm`` and ``zorder``
hold DuckDB twins of operators, one module per ``operators/`` module.
Every other module holds the oracles of one ``queries/`` module, with
the SQL helpers only oracles use; SQL text that a query itself runs
stays in the engine and is imported from there.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

ORACLES: dict[str, Callable[[], str]] = {}


def oracle(name: str) -> Callable[[Callable[[], str]], Callable[[], str]]:
    """Register ``fn`` as the builder of query ``name``'s oracle SQL."""

    def deco(fn: Callable[[], str]) -> Callable[[], str]:
        if name in ORACLES:
            raise ValueError(f"duplicate oracle for query: {name}")
        ORACLES[name] = fn
        return fn

    return deco


def oracle_sql() -> dict[str, str]:
    """{query name: DuckDB SQL} for every query that has an oracle, in
    registry order. Queries whose semantics are not SQL-expressible
    (LSH bucketing, streaming state, seeded sampling) have none."""
    from fuzzy_item_matching_spark.queries import load_all

    for m in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{m.name}")
    reg = load_all()
    unknown = sorted(ORACLES.keys() - reg.keys())
    if unknown:
        raise ValueError(f"oracles for unregistered queries: {unknown}")
    return {name: ORACLES[name]() for name in reg if name in ORACLES}
