"""k-means operator properties (operators/kmeans.py).

The oracle equivalence is covered by tests/test_all_oracles.py and the
driver; here the LLOYD properties that equivalence alone can't pin:
monotone inertia, assignment optimality, empty-cluster dropout
agreement between engines, and centroid-update exactness vs numpy.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.operators.kmeans import KM_Q, kmeans_fit
from fuzzy_item_matching_spark.tables import load_table
from oracles.kmeans import kmeans_centroids_sql

from .conftest import SF_SMOKE


def _inertia(spark, e, cent_rows) -> float:
    cent = spark.createDataFrame(
        cent_rows, "c int, cent array<double>, n long"
    )
    pts = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    d = pts.crossJoin(F.broadcast(cent.select("c", "cent"))).select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(x, cent, (x, y) -> (x - y) * (x - y)),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
        ).alias("d"),
    )
    [r] = (
        d.groupBy("vec_id").agg(F.min("d").alias("dm"))
        .agg(F.sum("dm").alias("s"))
        .collect()
    )
    return float(r["s"])


def test_lloyd_inertia_monotone(spark):
    """More Lloyd iterations never increase the optimal-assignment
    inertia — the convergence property that makes the operator
    k-means rather than an arbitrary relabeling."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    prev = None
    for it in (1, 2, 3):
        rows = kmeans_fit(e, k=4, iters=it, seed=7).collect()
        cur = _inertia(spark, e, rows)
        if prev is not None:
            assert cur <= prev + 1e-9, (it, cur, prev)
        prev = cur


def test_centroid_update_matches_numpy(spark):
    """One Lloyd iteration from known seeds on a tiny frame equals the
    numpy mean up to the documented 2^-40 fixed-point quantum."""
    rows = [
        (0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.25, 0.5]),
        (3, [10.0, 10.0]), (4, [11.0, 9.0]),
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    got = {
        r["c"]: (r["cent"], r["n"])
        for r in kmeans_fit(e, k=2, iters=1, seed=7).collect()
    }
    assert len(got) == 2
    xs = {i: np.array(v) for i, v in rows}
    # replay the hash init: rank by keyed uniform — recompute via duckdb
    u = duckdb.sql(
        "SELECT vec_id FROM (VALUES (0),(1),(2),(3),(4)) t(vec_id)"
        " ORDER BY CAST(CAST('0x' || substr(md5('7:' ||"
        " CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
        " / 4294967296.0, vec_id LIMIT 2"
    ).fetchall()
    seeds = [xs[r[0]] for r in u]
    assign = {
        i: min(
            range(2),
            key=lambda c: (float(((x - seeds[c]) ** 2).sum()), c),
        )
        for i, x in xs.items()
    }
    for c in (1, 2):
        members = [xs[i] for i, a in assign.items() if a == c - 1]
        want = np.mean(members, axis=0)
        cent, n = got[c]
        assert n == len(members)
        assert np.allclose(cent, want, atol=2.0 / KM_Q), (c, cent, want)


def test_empty_cluster_drops_in_both_engines(spark):
    """A centroid that attracts no points vanishes from BOTH engines'
    centroid frames identically (no reseeding): k=3 over 2 distinct
    points — at most 2 clusters can survive."""
    rows = [(i, [float(i % 2), float(i % 2)]) for i in range(6)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kmeans_fit(e, k=3, iters=2, seed=7).collect()
    values = ", ".join(f"({i}, [{v[0]!r}, {v[1]!r}]::FLOAT[])" for i, v in rows)
    sql = kmeans_centroids_sql(
        f"SELECT * FROM (VALUES {values}) AS t(vec_id, embedding)",
        dim=2, k=3, iters=2,
    )
    oracle = duckdb.sql(sql).fetchall()
    o_clusters = {r[0] for r in oracle}
    s_clusters = {r["c"] for r in got}
    assert s_clusters == o_clusters
    assert len(s_clusters) <= 2
    o_map = {(r[0], r[1]): (r[2], r[3]) for r in oracle}
    for r in got:
        for j, v in enumerate(r["cent"]):
            ov, on_ = o_map[(r["c"], j)]
            assert v == pytest.approx(ov, abs=0.0), (r["c"], j)
            assert r["n"] == on_


def test_elbow_inertia_monotone_in_k(spark):
    """More clusters never increase the optimal-assignment inertia."""
    from fuzzy_item_matching_spark.queries.vectors import vec_kmeans_elbow

    from .conftest import SF_SMOKE

    rows = sorted(
        vec_kmeans_elbow(spark, SF_SMOKE).collect(), key=lambda r: r.k
    )
    assert [r.k for r in rows] == [2, 4, 8]
    for lo, hi in zip(rows, rows[1:]):
        assert hi.inertia <= lo.inertia + 1e-9, (lo, hi)
