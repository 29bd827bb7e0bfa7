"""Oracles of queries/sources.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.sources import _Z_EPOCH
from oracles import oracle
from oracles.zorder import zorder_key_sql


_Z_DUCK = zorder_key_sql(
    "o_custkey", f"date_diff('day', DATE '{_Z_EPOCH}', o_orderdate)"
)


@oracle("src_zorder_layout")
def _zorder_layout_oracle() -> str:
    return f"""
    WITH z AS (
      SELECT o_custkey,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS day,
             {_Z_DUCK} AS zkey
      FROM orders
    )
    SELECT CAST(zkey >> 16 AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
           MIN(day) AS min_day, MAX(day) AS max_day
    FROM z GROUP BY bucket
    """
