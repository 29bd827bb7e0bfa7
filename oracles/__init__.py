"""DuckDB oracles of the engine's named queries, outside the engine.

An oracle is DuckDB SQL over the pre-registered table views that must
return exactly what its query returns (row count, schema and an
order-insensitive value hash). The engine never imports this package;
read every oracle through :func:`oracle_sql`.

Two places hold oracles today:

- ``Query.oracle`` in ``fuzzy_item_matching_spark.queries``: SQL
  strings written inline at the query's ``@query`` registration;
- the modules here, for queries whose oracle is generated by a DuckDB
  twin of an operator. ``boosting``, ``gboost_deep``, ``kmeans``,
  ``logreg``, ``unigram_lm``, ``als``, ``fm`` and ``zorder`` hold the
  twins, one module per ``operators/`` module. ``training``,
  ``vectors``, ``text``, ``serving``, ``sources`` and ``streaming``
  hold the oracles built from them, one module per ``queries/``
  module, each function registered under its query name with
  :func:`oracle`.
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
    out = {}
    for name, q in reg.items():
        if name in ORACLES:
            if q.oracle is not None:
                raise ValueError(f"query {name} has an inline and a built oracle")
            out[name] = ORACLES[name]()
        elif q.oracle is not None:
            out[name] = q.oracle
    return out
