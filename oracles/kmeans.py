"""DuckDB twins of operators/kmeans.py: the seeded Lloyd fit and the
centroid silhouette.
"""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.kmeans import KM_ITERS, KM_K, KM_Q, KM_SEED


_D_SQD = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " s -> (s[1]-s[2])*(s[1]-s[2])))"
)


def kmeans_ctes(
    emb_sql: str,
    dim: int,
    k: int = KM_K,
    iters: int = KM_ITERS,
    seed: int = KM_SEED,
    pfx: str = "",
) -> str:
    """The unrolled fit as a WITH-clause body ending in
    ``cent{iters}`` (c, cent DOUBLE[], n) — shared by the centroid
    query and the silhouette query (the gboost_ctes convention).
    ``emb_sql`` must yield (vec_id, embedding)."""
    u = (
        "CAST(CAST('0x' || substr(md5('"
        + str(seed)
        + ":' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
        " / 4294967296.0"
    )
    parts = [
        f"WITH {pfx}emb AS MATERIALIZED (SELECT vec_id,"
        f" embedding::DOUBLE[] AS x FROM ({emb_sql})"
        f" WHERE embedding IS NOT NULL AND len(embedding) = {dim}"
        f" AND len(list_filter(embedding::DOUBLE[],"
        f" v -> isnan(v))) = 0)",
        f"""{pfx}cent0 AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY u, vec_id) AS c, x AS cent
      FROM (SELECT vec_id, x, {u} AS u FROM {pfx}emb)
      ORDER BY u, vec_id LIMIT {k}
    )""",
    ]
    for t in range(1, iters + 1):
        sqd = _D_SQD.format(a="e.x", b="c.cent")
        parts.append(f"""{pfx}d{t} AS MATERIALIZED (
      SELECT e.vec_id, c.c, {sqd} AS d FROM {pfx}emb e, {pfx}cent{t - 1} c
    )""")
        parts.append(f"""{pfx}a{t} AS MATERIALIZED (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
        FROM {pfx}d{t}
      ) WHERE rn = 1
    )""")
        parts.append(f"""{pfx}u{t} AS MATERIALIZED (
      SELECT a.c, g.j,
             SUM(CAST(floor(e.x[g.j] * {KM_Q!r}) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM {pfx}a{t} a, {pfx}emb e, (SELECT unnest(range(1, {dim + 1})) AS j) g
      WHERE a.vec_id = e.vec_id
      GROUP BY a.c, g.j
    )""")
        parts.append(f"""{pfx}cent{t} AS MATERIALIZED (
      SELECT c,
             array_agg(CAST(s AS DOUBLE) / {KM_Q!r} / n ORDER BY j) AS cent,
             MAX(n) AS n
      FROM {pfx}u{t} GROUP BY c
    )""")
    return ",\n".join(parts)


def kmeans_centroids_sql(
    emb_sql: str,
    dim: int,
    k: int = KM_K,
    iters: int = KM_ITERS,
    seed: int = KM_SEED,
) -> str:
    """DuckDB twin of the centroid query: fitted centroids in long
    (c, dim_idx, v, n) format."""
    return (
        kmeans_ctes(emb_sql, dim, k, iters, seed)
        + f"""
    SELECT c AS cluster,
           CAST(g.j - 1 AS INTEGER) AS dim_idx,
           cent[g.j] AS v,
           n AS cluster_size
    FROM cent{iters}, (SELECT unnest(range(1, {dim + 1})) AS j) g
    """
    )


def kmeans_silhouette_sql(
    emb_sql: str,
    dim: int,
    k: int = KM_K,
    iters: int = KM_ITERS,
    seed: int = KM_SEED,
    q: float = 2.0**30,
) -> str:
    """DuckDB twin of the silhouette query: per final cluster the
    size, mean centroid-silhouette, and fixed-point inertia. The
    simplified (centroid) silhouette uses a = d(point, own centroid)
    = min over centroids, b = second-min — because the assignment IS
    the argmin; s = 1 − a/b (0 when b = 0: coincident centroids)."""
    n_c = iters  # final centroid CTE index
    return (
        kmeans_ctes(emb_sql, dim, k, iters, seed)
        + f""",
    fd AS MATERIALIZED (
      SELECT e.vec_id, c.c,
             {_D_SQD.format(a="e.x", b="c.cent")} AS d,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id ORDER BY
               {_D_SQD.format(a="e.x", b="c.cent")}, c.c) AS rn
      FROM emb e, cent{n_c} c
    ),
    ab AS MATERIALIZED (
      SELECT a.vec_id, a.c, a.d AS da, b.d AS db
      FROM (SELECT * FROM fd WHERE rn = 1) a
      JOIN (SELECT * FROM fd WHERE rn = 2) b USING (vec_id)
    )
    SELECT c AS cluster,
           COUNT(*) AS n_points,
           round(CAST(SUM(CAST(CASE WHEN db = 0.0 THEN 0.0
                                    ELSE 1.0 - da / db END
                               AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_silhouette,
           CAST(SUM(CAST(floor(da * {q!r}) AS BIGINT)) AS DOUBLE)
             / {q!r} AS inertia
    FROM ab GROUP BY c
    """
    )
