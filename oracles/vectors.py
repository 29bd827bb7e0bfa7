"""Oracles of queries/vectors.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.kmeans import KM_ITERS
from fuzzy_item_matching_spark.queries.vectors import (
    _GD_H,
    _GD_MINPTS,
    _GD_MUL,
    _GD_OFF,
    _GD_ROUNDS,
    _JL_QMOD,
    _KC_K,
    _KM_DIM,
    _KM_ELBOW_KS,
    _KM_EQ,
    _MAH_TOPK,
    _MA_SHORT,
    _PCA_ITERS,
    _PCA_Q,
    _Q_DIM,
    _Q_K,
    _RC_TOPK,
    _RFF_D,
    _RFF_GAMMA,
    _RFF_QMOD,
    _SKM_ITERS,
    _SKM_K,
    _SKM_Q,
    _jl_params,
    _rc_splits,
    _rff_params,
)
from oracles import oracle
from oracles.kmeans import _D_SQD as _KM_SQD
from oracles.kmeans import kmeans_centroids_sql, kmeans_ctes, kmeans_silhouette_sql


# DuckDB fragments mirroring functions/vector.py exactly.
_D_SQ = "list_sum(list_transform({v}::DOUBLE[], x -> x*x))"

_D_NORM = f"sqrt({_D_SQ})"

_D_DOT = "list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]), s -> s[1]*s[2]))"

_D_SQD = (
    "list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
    " s -> (s[1]-s[2])*(s[1]-s[2])))"
)


@oracle("vec_l2_norm")
def _vec_l2_norm_oracle() -> str:
    return f"""
    SELECT vec_id,
           {_D_NORM.format(v="embedding")} AS norm,
           embedding[1]::DOUBLE / {_D_NORM.format(v="embedding")} AS e0_unit
    FROM embeddings
    """


@oracle("vec_label_pair_stats")
def _vec_label_pair_stats_oracle() -> str:
    return f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_D_DOT.format(a="a.embedding", b="b.embedding")} AS dp,
           {_D_SQD.format(a="a.embedding", b="b.embedding")} AS sqdist,
           {_D_DOT.format(a="a.embedding", b="b.embedding")}
             / ({_D_NORM.format(v="a.embedding")} * {_D_NORM.format(v="b.embedding")}) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    """


@oracle("vec_centroid_by_label")
def _vec_centroid_by_label_oracle() -> str:
    return """
    SELECT label, i - 1 AS pos, AVG(x) AS centroid
    FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
    GROUP BY label, i ORDER BY label, pos
    """


@oracle("vec_knn_bruteforce")
def _vec_knn_bruteforce_oracle() -> str:
    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             {_D_DOT.format(a="a.embedding", b="b.embedding")}
               / ({_D_NORM.format(v="a.embedding")} * {_D_NORM.format(v="b.embedding")}) AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT qid, nid, cosine, rnk FROM (
      SELECT qid, nid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
      FROM pairs) t
    WHERE rnk <= 3
    """


@oracle("vec_int8_topk")
def _vec_int8_topk_oracle() -> str:
    return f"""
    WITH sc AS (
      SELECT u.i, MAX(abs(e.embedding[u.i]::DOUBLE)) AS s
      FROM embeddings e, unnest(range(1, {_Q_DIM + 1})) AS u(i)
      GROUP BY u.i
    ),
    sarr AS (SELECT list(s ORDER BY i) AS arr FROM sc),
    q AS (
      SELECT e.vec_id,
             list_transform(range(1, {_Q_DIM + 1}), i ->
               CASE WHEN sarr.arr[i] = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(127.0 * e.embedding[i]::DOUBLE
                                    / sarr.arr[i]) AS BIGINT)
               END) AS qv
      FROM embeddings e, sarr
    ),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, {_Q_DIM + 1}),
                  i -> a.qv[i] * b.qv[i])) AS BIGINT) AS qdot
      FROM q a JOIN q b ON b.vec_id <> a.vec_id
      WHERE a.vec_id % 50 = 0
    ),
    ranked AS (
      SELECT query_id, neighbor_id, qdot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY qdot DESC, neighbor_id) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, qdot, rnk
    FROM ranked WHERE rnk <= {_Q_K}
    """


_D_DOT8 = (
    "list_sum(list_transform(list_zip({a}[1:8]::DOUBLE[], {b}[1:8]::DOUBLE[]),"
    " s -> s[1]*s[2]))"
)


@oracle("vec_matryoshka_topk")
def _vec_matryoshka_topk_oracle() -> str:
    return f"""
    WITH coarse AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_D_DOT8.format(a="a.embedding", b="b.embedding")} AS cdot
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id % 50 = 0
    ),
    short AS (
      SELECT query_id, neighbor_id, cdot FROM (
        SELECT query_id, neighbor_id, cdot,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cdot DESC, neighbor_id) AS crnk
        FROM coarse
      ) WHERE crnk <= {_MA_SHORT}
    ),
    fullx AS (
      SELECT s.query_id, s.neighbor_id, s.cdot,
             {_D_DOT.format(a="a.embedding", b="b.embedding")} AS fdot
      FROM short s
      JOIN embeddings a ON a.vec_id = s.query_id
      JOIN embeddings b ON b.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cdot, fdot, rnk FROM (
      SELECT query_id, neighbor_id, cdot, fdot,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY fdot DESC, neighbor_id) AS rnk
      FROM fullx
    ) WHERE rnk <= {_Q_K}
    """


# One decimal-exact matvec step as a DuckDB CTE pair: w = C·v
# (DECIMAL-accumulated), n = ||w|| (DECIMAL-accumulated), v' = w/n.
_D_PCA_STEP = """
    w{t} AS (
      SELECT c.i, CAST(SUM(CAST(c.c * v{p}.v AS DECIMAL(38,18)))
                       AS DOUBLE) AS w
      FROM cov c JOIN v{p} ON v{p}.i = c.j GROUP BY c.i
    ),
    n{t} AS (
      SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE))
               AS nrm
      FROM w{t}
    ),
    v{t} AS (SELECT i, w / nrm AS v FROM w{t}, n{t})
"""


@oracle("vec_pca_power")
def _vec_pca_power_oracle() -> str:
    return f"""
    WITH xs AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    cov AS (
      SELECT a.i, b.i AS j,
             CAST(SUM(CAST(floor(a.x * b.x * {_PCA_Q!r}) AS BIGINT)) AS DOUBLE)
               / {_PCA_Q!r} / nn.n AS c
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id, nn
      GROUP BY a.i, b.i, nn.n
    ),
    v0 AS (SELECT DISTINCT i, 1.0 AS v FROM xs),
    {",".join(_D_PCA_STEP.format(t=t, p=t - 1) for t in range(1, _PCA_ITERS + 1))}
    SELECT v{_PCA_ITERS}.i - 1 AS dim_idx, v{_PCA_ITERS}.v AS loading,
           n{_PCA_ITERS}.nrm AS eigenvalue
    FROM v{_PCA_ITERS}, n{_PCA_ITERS}
    """


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
        sqd = _KM_SQD.format(a="e.x", b="c.cent")
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


@oracle("vec_arrow_map_norms")
def _vec_arrow_map_norms_oracle() -> str:
    return f"""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           {_D_NORM.format(v="embedding")} AS norm
    FROM embeddings
    """


@oracle("vec_kcenter_init")
def _kcenter_oracle() -> str:
    sqd = _KM_SQD.format(a="e.v", b="c.v")
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


_D_PCA2_STEP = """
    {w} AS (
      SELECT c.i, CAST(SUM(CAST(c.c * {vp}.v AS DECIMAL(38,18)))
                       AS DOUBLE) AS w
      FROM {cov} c JOIN {vp} ON {vp}.i = c.j GROUP BY c.i
    ),
    {n} AS (
      SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(38,18))) AS DOUBLE))
               AS nrm
      FROM {w}
    ),
    {v} AS (SELECT i, w / nrm AS v FROM {w}, {n})
"""


@oracle("vec_pca_deflation")
def _pca2_oracle() -> str:
    steps1 = ",".join(
        _D_PCA2_STEP.format(
            cov="cov", w=f"w{t}", n=f"n{t}", v=f"v{t}", vp=f"v{t - 1}"
        )
        for t in range(1, _PCA_ITERS + 1)
    )
    steps2 = ",".join(
        _D_PCA2_STEP.format(
            cov="cov2", w=f"u{t}", n=f"m{t}", v=f"y{t}", vp=f"y{t - 1}"
        )
        for t in range(1, _PCA_ITERS + 1)
    )
    T = _PCA_ITERS
    return f"""
    WITH xs AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    cov AS (
      SELECT a.i, b.i AS j,
             CAST(SUM(CAST(floor(a.x * b.x * {_PCA_Q!r}) AS BIGINT)) AS DOUBLE)
               / {_PCA_Q!r} / nn.n AS c
      FROM xs a JOIN xs b ON a.vec_id = b.vec_id, nn
      GROUP BY a.i, b.i, nn.n
    ),
    v0 AS (SELECT DISTINCT i, 1.0 AS v FROM xs),
    {steps1},
    cov2 AS (
      SELECT c.i, c.j, c.c - n{T}.nrm * va.v * vb.v AS c
      FROM cov c
      JOIN v{T} va ON va.i = c.i
      JOIN v{T} vb ON vb.i = c.j, n{T}
    ),
    y0 AS (SELECT DISTINCT i, 1.0 AS v FROM xs),
    {steps2}
    SELECT 1 AS component, v{T}.i - 1 AS dim_idx, v{T}.v AS loading,
           n{T}.nrm AS eigenvalue
    FROM v{T}, n{T}
    UNION ALL
    SELECT 2 AS component, y{T}.i - 1 AS dim_idx, y{T}.v AS loading,
           m{T}.nrm AS eigenvalue
    FROM y{T}, m{T}
    """


@oracle("vec_rff_features")
def _rff_oracle() -> str:
    w, b = _rff_params()

    def sqld(av: str, bv: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({av}, {bv}),"
            " s -> (s[1]-s[2])*(s[1]-s[2])))"
        )

    def plane(vec: str, j: int) -> str:
        lits = "[" + ",".join(repr(x) for x in w[j]) + "]"
        return (
            f"cos(list_sum(list_transform(list_zip({vec}, {lits}),"
            f" s -> s[1]*s[2])) + {b[j]!r})"
        )

    scale = repr(2.0 / _RFF_D)
    zdot = " + ".join(
        f"({plane('a.embedding::DOUBLE[]', j)})"
        f" * ({plane('b.embedding::DOUBLE[]', j)})"
        for j in range(_RFF_D)
    )
    return f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(exp(-{_RFF_GAMMA!r}
                 * ({sqld('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')})),
                 9) AS k_exact,
           round({scale} * ({zdot}), 9) AS k_rff,
           round(abs(round(exp(-{_RFF_GAMMA!r}
                 * ({sqld('a.embedding::DOUBLE[]', 'b.embedding::DOUBLE[]')})),
                 9)
               - round({scale} * ({zdot}), 9)), 9) AS abs_err
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id % {_RFF_QMOD} = 0
    """


@oracle("vec_grid_density_clusters")
def _grid_density_oracle() -> str:
    cx = f"CAST(floor((embedding::DOUBLE[])[1] / {_GD_H!r}) AS BIGINT)"
    cy = f"CAST(floor((embedding::DOUBLE[])[2] / {_GD_H!r}) AS BIGINT)"
    levels = [
        f"""cells AS (
      SELECT {cx} AS cx, {cy} AS cy, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
      GROUP BY 1, 2
    ),
    core AS (
      SELECT cx, cy, n, cx * {_GD_MUL} + cy + {_GD_OFF} AS key
      FROM cells WHERE n >= {_GD_MINPTS}
    ),
    adj AS (
      SELECT a.key AS ka, b.key AS kb
      FROM core a JOIN core b
        ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
    ),
    l0 AS (SELECT key, key AS lbl FROM core)"""
    ]
    for t in range(1, _GD_ROUNDS + 1):
        levels.append(f"""l{t} AS (
      SELECT a.ka AS key, MIN(l.lbl) AS lbl
      FROM adj a JOIN l{t - 1} l ON l.key = a.kb
      GROUP BY a.ka
    )""")
    return f"""
    WITH {",".join(levels)},
    clusters AS (
      SELECT l.lbl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(SUM(c.n) AS BIGINT) AS n_points
      FROM l{_GD_ROUNDS} l JOIN core c ON c.key = l.key
      GROUP BY l.lbl
    ),
    noise AS (
      SELECT CAST(-1 AS BIGINT) AS cluster,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_points
      FROM cells WHERE n < {_GD_MINPTS}
    )
    SELECT * FROM clusters UNION ALL SELECT * FROM noise
    """


@oracle("vec_mahalanobis_outliers")
def _mahalanobis_oracle() -> str:
    return f"""
    WITH ex AS (
      SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
             generate_subscripts(embedding::DOUBLE[], 1) AS d
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    stats AS (
      SELECT d,
             CAST(SUM(CAST(round(x, 12) AS DECIMAL(38,18))) AS DOUBLE)
               / COUNT(*) AS mu,
             CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38,18))) AS DOUBLE)
               / COUNT(*) AS ex2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ex GROUP BY d
    ),
    var_ AS (
      SELECT d, mu, ex2 - mu * mu AS v FROM stats
    ),
    scored AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(round((e.x - s.mu) * (e.x - s.mu) / s.v, 9)
                  AS DECIMAL(38,18))) AS DOUBLE) AS score
      FROM ex e JOIN var_ s ON s.d = e.d AND s.v > 0
      GROUP BY e.vec_id
    )
    SELECT vec_id, round(score, 9) AS mahalanobis_sq, rnk FROM (
      SELECT vec_id, score,
             CAST(ROW_NUMBER() OVER (ORDER BY round(score, 9) DESC, vec_id)
                  AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= {_MAH_TOPK}
    """


@oracle("vec_random_cut_density")
def _rc_oracle() -> str:
    trees = _rc_splits()
    leaf_cols = []
    for ti, splits in enumerate(trees):
        bits = " || ".join(
            f"(CASE WHEN (embedding::DOUBLE[])[{d + 1}] < {t!r}"
            " THEN '0' ELSE '1' END)"
            for d, t in splits
        )
        leaf_cols.append(f"{bits} AS leaf{ti}")
    occ_joins = "\n".join(
        f"JOIN (SELECT leaf{ti} AS lf{ti}, CAST(COUNT(*) AS BIGINT)"
        f" AS c{ti} FROM leaves GROUP BY leaf{ti}) o{ti}"
        f" ON o{ti}.lf{ti} = l.leaf{ti}"
        for ti in range(len(trees))
    )
    score = " + ".join(
        f"CAST(round(ln(CAST(c{ti} AS DOUBLE)), 12) AS DECIMAL(38,18))"
        for ti in range(len(trees))
    )
    return f"""
    WITH leaves AS (
      SELECT vec_id, {", ".join(leaf_cols)}
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    scored AS (
      SELECT l.vec_id,
             round(CAST(({score}) AS DOUBLE) / {len(trees)}, 9) AS density
      FROM leaves l
      {occ_joins}
    )
    SELECT vec_id, density, rnk FROM (
      SELECT vec_id, density,
             CAST(ROW_NUMBER() OVER (ORDER BY density, vec_id) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= {_RC_TOPK}
    """


@oracle("vec_jl_projection")
def _jl_oracle() -> str:
    from oracles.similarity import _sql_plane_dot

    planes = _jl_params()
    sqd = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " s -> (s[1]-s[2])*(s[1]-s[2])))"
    )
    dproj = " + ".join(
        f"(({_sql_plane_dot('a.embedding::DOUBLE[]', p)})"
        f" - ({_sql_plane_dot('b.embedding::DOUBLE[]', p)}))"
        f" * (({_sql_plane_dot('a.embedding::DOUBLE[]', p)})"
        f" - ({_sql_plane_dot('b.embedding::DOUBLE[]', p)}))"
        for p in planes
    )
    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {sqd.format(a="a.embedding::DOUBLE[]",
                         b="b.embedding::DOUBLE[]")} AS d_orig,
             {dproj} AS d_proj
      FROM embeddings a
      JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % {_JL_QMOD} = 0
        AND a.embedding IS NOT NULL AND len(a.embedding) = 64
        AND b.embedding IS NOT NULL AND len(b.embedding) = 64
    ),
    ratios AS (
      SELECT round(d_proj / d_orig, 9) AS ratio
      FROM pairs WHERE d_orig > 0
    )
    SELECT CAST(least(19, CAST(floor(ratio * 10) AS BIGINT)) AS INT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(ratio AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*), 9) AS avg_ratio
    FROM ratios GROUP BY 1
    """


@oracle("vec_spherical_kmeans")
def _skm_oracle() -> str:
    q = repr(_SKM_Q)
    sumsq = "list_sum(list_transform({v}, w -> w * w))"
    parts = [
        f"""WITH emb AS MATERIALIZED (
      SELECT vec_id,
             list_transform(x, v -> v / sqrt({sumsq.format(v="x")})) AS xh
      FROM (
        SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
          AND len(list_filter(embedding::DOUBLE[], v -> isnan(v))) = 0
          AND {sumsq.format(v="embedding::DOUBLE[]")} > 0
      )
    ),
    cent0 AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS c, xh AS cent
      FROM emb ORDER BY vec_id LIMIT {_SKM_K}
    )"""
    ]
    for t in range(1, _SKM_ITERS + 1):
        parts.append(f"""d{t} AS MATERIALIZED (
      SELECT e.vec_id, c.c,
             list_sum(list_transform(list_zip(e.xh, c.cent),
                                     s -> s[1] * s[2])) AS d
      FROM emb e, cent{t - 1} c
    ),
    a{t} AS MATERIALIZED (
      SELECT vec_id, c FROM (
        SELECT vec_id, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d DESC, c) AS rn
        FROM d{t}
      ) WHERE rn = 1
    ),
    upd{t} AS MATERIALIZED (
      SELECT c, j,
             CAST(SUM(CAST(floor(v * {q}) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT a.c, generate_subscripts(e.xh, 1) AS j, unnest(e.xh) AS v
        FROM a{t} a JOIN emb e USING (vec_id)
      ) GROUP BY c, j
    ),
    m{t} AS (
      SELECT c, j, (CAST(s AS DOUBLE) / {q}) / n AS m, n FROM upd{t}
    ),
    nrm{t} AS (
      SELECT c,
             sqrt(list_sum(list_transform(list(m ORDER BY j),
                                          v -> v * v))) AS nrm
      FROM m{t} GROUP BY c
    ),
    cent{t} AS MATERIALIZED (
      SELECT m.c, list(m.m / nr.nrm ORDER BY m.j) AS cent
      FROM m{t} m JOIN nrm{t} nr USING (c)
      GROUP BY m.c, nr.nrm
    ),
    sz{t} AS (SELECT c, MIN(n) AS n FROM upd{t} GROUP BY c)""")
    k = _SKM_ITERS
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT f.c, CAST(f.j AS INT) AS j, f.coord, s.n
    FROM (
      SELECT c, generate_subscripts(cent, 1) AS j, unnest(cent) AS coord
      FROM cent{k}
    ) f JOIN sz{k} s USING (c)
    """
    )
