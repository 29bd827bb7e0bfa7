"""Oracles of queries/vectors.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.kmeans import KM_ITERS
from fuzzy_item_matching_spark.queries.vectors import (
    _KC_K,
    _KM_DIM,
    _KM_ELBOW_KS,
    _KM_EQ,
)
from oracles import oracle
from oracles.kmeans import (
    _D_SQD,
    kmeans_centroids_sql,
    kmeans_ctes,
    kmeans_silhouette_sql,
)


_KM_EMB_SQL = "SELECT vec_id, embedding FROM embeddings"


@oracle("vec_kmeans_centroids")
def _km_centroids_oracle() -> str:
    return kmeans_centroids_sql(_KM_EMB_SQL, _KM_DIM)


@oracle("vec_kmeans_silhouette")
def _km_sil_oracle() -> str:
    return kmeans_silhouette_sql(_KM_EMB_SQL, _KM_DIM)


@oracle("vec_kmeans_elbow")
def _km_elbow_oracle() -> str:
    blocks, arms = [], []
    for k in _KM_ELBOW_KS:
        pfx = f"k{k}_"
        ctes = kmeans_ctes(_KM_EMB_SQL, _KM_DIM, k=k, pfx=pfx)
        if blocks:
            ctes = ctes[len("WITH "):]  # one WITH for the whole union
        blocks.append(ctes)
        sqd = _D_SQD.format(a="e.x", b="c.cent")
        blocks.append(f"""{pfx}dm AS MATERIALIZED (
      SELECT e.vec_id, MIN({sqd}) AS dmin
      FROM {pfx}emb e, {pfx}cent{KM_ITERS} c
      GROUP BY e.vec_id
    )""")
        arms.append(f"""SELECT {k} AS k,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {pfx}cent{KM_ITERS})
             AS n_clusters,
           CAST(SUM(CAST(floor(dmin * {_KM_EQ!r}) AS BIGINT)) AS DOUBLE)
             / {_KM_EQ!r} AS inertia
    FROM {pfx}dm""")
    return ",\n".join(blocks) + "\n" + "\nUNION ALL\n".join(arms)


@oracle("vec_kcenter_init")
def _kcenter_oracle() -> str:
    sqd = _D_SQD.format(a="e.v", b="c.v")
    parts = [
        "emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        """c0 AS (
      SELECT 0 AS center_idx, vec_id, v, 0.0 AS d2_at_selection
      FROM emb ORDER BY vec_id LIMIT 1
    )""",
        "cs0 AS (SELECT * FROM c0)",
    ]
    for j in range(1, _KC_K):
        p = j - 1
        parts += [
            f"""m{j} AS (
      SELECT e.vec_id, e.v, MIN({sqd}) AS dmin
      FROM emb e CROSS JOIN cs{p} c GROUP BY e.vec_id, e.v
    )""",
            f"""pick{j} AS (
      SELECT {j} AS center_idx, vec_id, v, dmin AS d2_at_selection
      FROM m{j} ORDER BY dmin DESC, vec_id ASC LIMIT 1
    )""",
            f"cs{j} AS (SELECT * FROM cs{p} UNION ALL"
            f" SELECT * FROM pick{j})",
        ]
    last = _KC_K - 1
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT center_idx, vec_id, d2_at_selection FROM cs{last}
    """
    )
