"""Execute EVERY oracle-bearing query at sf0.001 — the in-repo twin of
the driver's CORRECTNESS gate.

The driver's budget covers only the first 50 registry entries
(tests/test_registry_order.py DRIVER_PREFIX_BUDGET), so a query below
that boundary can ship with verification SQL that nothing executes
until a judge re-runs the harness by hand (round-6 ADVICE:
train_word2vec_lite / train_adaboost_* / text_bpe_fit_batched /
sim_struct_pairs landed exactly that way). And a PREFIX query broken
mid-round costs a whole round before the driver's red row appears.
This suite closes both gaps: one parametrized case per oracle-bearing
query — prefix and below — run Spark-vs-DuckDB at sf0.001 under the
driver's own comparison contract (assert_matches_oracle = row count +
sorted-column schema + order-insensitive value multiset).

sf0.001 keeps the sweep cheap (the oracle SQL is scale-free); the
driver still provides the durable sf0.01 record for prefix rows, and
the rotation ledger (queries/__init__.py CHECK_PRIORITY) remains the
path to a driver-green row for everything else.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from fuzzy_item_matching_spark.queries import load_all
from fuzzy_item_matching_spark.tables import TABLE_NAMES, table_path
from oracles import oracle_sql
from tests.conftest import SF_SMOKE, assert_matches_oracle

_REG = load_all()
_ORACLES = oracle_sql()
_ORACLED = list(_ORACLES)


@pytest.fixture(scope="module")
def duck_smoke():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = table_path(SF_SMOKE, name)
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", _ORACLED)
def test_oracle(spark, duck_smoke, name):
    assert_matches_oracle(_REG[name].fn(spark, SF_SMOKE), duck_smoke, _ORACLES[name])
