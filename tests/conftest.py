"""Shared test fixtures: one SparkSession per test run, DuckDB oracle.

The oracle comparison mirrors the driver's contract (see
__spark_entry__.py): row count + schema-insensitive column match +
order-insensitive value comparison, columns sorted by name.
"""

from __future__ import annotations

import math
import os
from contextlib import contextmanager

import duckdb
import pandas as pd
import pytest

# Per-process scratch isolation (see queries/sources.py SCRATCH): a
# test run must never share checkpoint/table dirs with a concurrent
# bench or driver process.
os.environ.setdefault(
    "SPARK_GRAFT_SCRATCH", f"/root/repo/.scratch/test-{os.getpid()}"
)

from fuzzy_item_matching_spark import get_spark
from fuzzy_item_matching_spark.tables import TABLE_NAMES, table_path

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

# ---------------------------------------------------------------------------
# Fast default profile (r15, VERDICT r14 ask #1): the full suite's
# 1,900+ s outran the driver's pytest window (r14 VERIFY tests_ok:
# false with zero visible failures — a timeout, not a failure). The
# default run SKIPS the tests in tests/slow_tests.txt (a committed
# ledger of every test measured >= 2 s in the r15 full run, ~70% of
# suite wall time, leaving a ~580 s broad-coverage profile);
# SPARK_GRAFT_FULL_TESTS=1 restores the full suite — the builder's
# round-close runs and records it. Ledger ids are matched exactly;
# renamed/new tests simply run (fast by default until measured slow).
# ---------------------------------------------------------------------------
_SLOW_LEDGER = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    try:
        with open(_SLOW_LEDGER) as fh:
            slow = {
                ln.strip()
                for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return
    mark = pytest.mark.skip(
        reason="fast profile (tests/slow_tests.txt); "
        "SPARK_GRAFT_FULL_TESTS=1 runs the full suite"
    )
    for item in items:
        if f"tests/{item.nodeid}" in slow or item.nodeid in slow:
            item.add_marker(mark)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fuzzy-engine-tests", shuffle_partitions=8)
    yield s
    s.stop()


@contextmanager
def conf_set(spark, key: str, value: str):
    """Set the SQL conf ``key`` to ``value`` for the ``with`` body."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield spark
    finally:
        spark.conf.set(key, old)


# spark.sql.autoBroadcastJoinThreshold at -1 keeps the operators that
# place small inputs on the driver (lsh_sqdist_join,
# tfidf_features and sparse_cosine_join, all gated by
# operators/placement.fits_driver) on their distributed plan
DISTRIBUTED = ("spark.sql.autoBroadcastJoinThreshold", "-1")


def local_frame(spark, rows: list[tuple], schema: str):
    """``rows`` as a local relation, whose size the planner knows (a
    frame made from a Python list, or from an empty pandas frame, has
    no estimate); no rows: an empty one."""
    names = spark.createDataFrame([], schema).schema.fieldNames()
    pdf = pd.DataFrame(rows or [(None,) * len(names)], columns=names)
    df = spark.createDataFrame(pdf, schema)
    return df if rows else df.limit(0)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = table_path(SF_CHECK, name)
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def _norm_cell(v):
    """Normalize one value for order-insensitive comparison."""
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return round(f, 9) if math.isfinite(f) else f
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    return v


def assert_matches_oracle(spark_df, duck_con, oracle_sql: str, float_tol: float = 0.0):
    """Compare a Spark DataFrame against DuckDB oracle output.

    Columns are matched by (sorted) name; rows are compared as sorted
    multisets. float_tol > 0 switches float columns to approximate
    comparison (for queries documented as tolerance-checked rather than
    hash-checked).
    """
    sdf = spark_df.toPandas()
    ddf = duck_con.execute(oracle_sql).df()

    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"column mismatch: spark={sorted(sdf.columns)} oracle={sorted(ddf.columns)}"
    )
    cols = sorted(sdf.columns)
    assert len(sdf) == len(ddf), f"row count: spark={len(sdf)} oracle={len(ddf)}"

    srows = sorted(
        (tuple(_norm_cell(v) for v in row) for row in sdf[cols].itertuples(index=False)),
        key=repr,
    )
    drows = sorted(
        (tuple(_norm_cell(v) for v in row) for row in ddf[cols].itertuples(index=False)),
        key=repr,
    )
    if float_tol == 0.0:
        for i, (a, b) in enumerate(zip(srows, drows)):
            assert a == b, f"row {i} differs:\n  spark : {a}\n  oracle: {b}"
    else:
        for i, (a, b) in enumerate(zip(srows, drows)):
            for x, y in zip(a, b):
                if isinstance(x, float) and isinstance(y, float):
                    assert math.isclose(x, y, rel_tol=float_tol, abs_tol=float_tol), (
                        f"row {i}: {x} != {y}\n  spark : {a}\n  oracle: {b}"
                    )
                else:
                    assert x == y, f"row {i} differs:\n  spark : {a}\n  oracle: {b}"
