"""Z-order (Morton) clustering for multi-dimensional data skipping.

A lakehouse table queried on TWO dimensions (customer AND date) can
only range-partition on one of them; files laid out by Z-order of the
bit-interleaved pair stay tight in BOTH dimensions, so parquet
row-group min/max stats prune a 2-D range predicate to a handful of
files instead of a full scan. This is the layout operator behind
Delta's OPTIMIZE ZORDER BY — here expressed as a pure Catalyst column
(integer arithmetic, whole-stage codegen) plus
``repartitionByRange(zkey).sortWithinPartitions(zkey)`` at write time.

Scale notes (100 TB): the z-key is a narrow per-row projection — no
shuffle beyond the single range-repartition any clustered write
needs; the range boundaries come from Spark's reservoir sampling of
the key, which handles skew without a driver-side pass. 16 bits per
dimension is the demonstration width; production widens the key or
first range-buckets each dimension into 2^16 quantile bins (same
plan, one extra ntile window over a sampled CDF).

The DuckDB twin lives in ``oracles/zorder.py``, outside the engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BITS = 16


def zorder_key(x: Column | str, y: Column | str, bits: int = BITS) -> Column:
    """Interleave the low ``bits`` of two non-negative ints: x takes
    odd bit positions, y even — a pure integer expression tree (no
    UDF) identical to the generated SQL of
    ``oracles/zorder.zorder_key_sql``.

    CONTRACT: inputs must be non-negative. Negative values
    two's-complement-truncate into the top of the ``bits``-wide range
    and alias silently once ``|value| >= 2**bits`` — callers must
    shift to a non-negative domain first (e.g. day offsets from an
    epoch at or below the data minimum)."""
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    terms = []
    for i in range(bits):
        terms.append(
            (F.shiftright(xc, i).bitwiseAND(F.lit(1)))
            * F.lit(1 << (2 * i + 1))
        )
        terms.append(
            (F.shiftright(yc, i).bitwiseAND(F.lit(1))) * F.lit(1 << (2 * i))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out
