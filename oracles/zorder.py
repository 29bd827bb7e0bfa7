"""DuckDB twin of operators/zorder.py: the Morton key expression."""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.zorder import BITS


def zorder_key_sql(x: str, y: str, bits: int = BITS) -> str:
    """DuckDB expression computing the identical Morton key — exact
    integer arithmetic, so oracle parity is bit-for-bit."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) * {1 << (2 * i + 1)})")
        terms.append(f"((({y} >> {i}) & 1) * {1 << (2 * i)})")
    return "(" + " + ".join(terms) + ")"
