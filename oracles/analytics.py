"""Oracles of queries/analytics.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.analytics import (
    _AA_ADJ_CAP,
    _AA_EVAL_CAPS,
    _AA_TOPK,
    _BASKET_CAP,
    _BFS_ROUNDS,
    _BFS_SEED_MOD,
    _CUPED_CUT,
    _CUPED_SEED,
    _CUPED_STATS,
    _CUPED_THETA,
    _HITS_TOPK,
    _KCORE_K,
    _KCORE_ROUNDS,
    _LPA_ITERS,
    _MIN_SUPPORT,
    _MK_ITERS,
    _PPR_ALPHA,
    _PPR_ITERS,
    _PPR_SEED_MOD,
    _PR_DAMP,
    _PR_ITERS,
    _RE_CHANNELS,
    _RE_CONV,
    _RE_T,
)
from oracles import oracle


@oracle("train_ols_by_brand")
def _train_ols_by_brand_oracle() -> str:
    return """
    WITH s AS (
      SELECT p_brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p_size AS BIGINT)) AS BIGINT) AS sx,
             SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS sy,
             CAST(SUM(CAST(p_size AS BIGINT) * CAST(p_size AS BIGINT))
                  AS BIGINT) AS sxx,
             SUM(p_size * CAST(p_retailprice AS DECIMAL(18,2))) AS sxy
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, n,
           (n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS slope,
           (CAST(sy AS DOUBLE) -
              (n * CAST(sxy AS DOUBLE) - sx * CAST(sy AS DOUBLE))
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) * sx)
             / n AS intercept
    FROM s
    """


@oracle("rel_basket_rules")
def _rel_basket_rules_oracle() -> str:
    return f"""
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT okey) AS DOUBLE) AS n_orders FROM basket),
    item AS (SELECT item, COUNT(*) AS s FROM basket GROUP BY item),
    pair AS (
      SELECT a.item AS ante, b.item AS cons, COUNT(*) AS s_ab
      FROM basket a JOIN basket b
        ON a.okey = b.okey AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT ante, cons, s_ab,
           CAST(s_ab AS DOUBLE) / ia.s AS confidence,
           CAST(s_ab AS DOUBLE) * nb.n_orders / (ia.s * CAST(ic.s AS DOUBLE))
             AS lift
    FROM pair
    JOIN item ia ON ia.item = pair.ante
    JOIN item ic ON ic.item = pair.cons
    CROSS JOIN nb
    WHERE s_ab >= {_MIN_SUPPORT}
    """


@oracle("rel_event_funnel")
def _rel_event_funnel_oracle() -> str:
    return """
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
             / (SELECT COUNT(*) FROM v) AS view_to_click,
           CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
             / (SELECT COUNT(*) FROM c) AS click_to_purchase
    """


@oracle("rel_pagerank_brands")
def _pagerank_oracle() -> str:
    """Unrolled-iteration DuckDB twin of the PageRank loop (same
    technique as the IVF Lloyd and BPE-fit oracles)."""
    head = """
    WITH basket AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    e AS (
      SELECT a.item AS src, b.item AS dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM basket a JOIN basket b
        ON a.okey = b.okey AND a.item != b.item
      GROUP BY a.item, b.item
    ),
    outd AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
    nn AS (SELECT CAST(COUNT(DISTINCT item) AS DOUBLE) AS n FROM basket),
    r0 AS (SELECT item AS node, 1.0 / nn.n AS r
           FROM (SELECT DISTINCT item FROM basket), nn)"""
    levels = []
    for k in range(1, _PR_ITERS + 1):
        levels.append(f"""
    r{k} AS (
      SELECT e.dst AS node,
             {1.0 - _PR_DAMP} / MAX(nn.n)
               + {_PR_DAMP} * CAST(SUM(CAST(
                   r{k - 1}.r * e.w / outd.outw AS DECIMAL(38,18)))
                 AS DOUBLE) AS r
      FROM e
      JOIN r{k - 1} ON r{k - 1}.node = e.src
      JOIN outd ON outd.src = e.src
      CROSS JOIN nn
      GROUP BY e.dst
    )""")
    return (
        head
        + ","
        + ",".join(levels)
        + f"""
    SELECT node AS brand, r AS pr FROM r{_PR_ITERS}"""
    )


@oracle("rel_triangle_clustering")
def _rel_triangle_clustering_oracle() -> str:
    return """
    WITH basket AS (
      SELECT DISTINCT l_orderkey AS okey, p_brand AS item
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    edges AS (
      SELECT DISTINCT a.item AS u, b.item AS v
      FROM basket a JOIN basket b
        ON a.okey = b.okey AND a.item < b.item
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    node_tri AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    )
    SELECT d.node, d.degree,
           COALESCE(t.n_tri, 0) AS n_tri,
           CASE WHEN d.degree < 2 THEN 0.0
                ELSE CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
                     / (d.degree * (d.degree - 1))
           END AS clustering
    FROM deg d LEFT JOIN node_tri t USING (node)
    """


_COPURCHASE_EDGES_SQL = """lines AS (
      SELECT okey, pid FROM (
        SELECT okey, pid,
               ROW_NUMBER() OVER (PARTITION BY okey ORDER BY pid) AS bn
        FROM (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pid
              FROM lineitem)
      ) WHERE bn <= {cap}
    ),
    e AS (
      SELECT a.pid AS src, b.pid AS dst, CAST(COUNT(*) AS {wtype}) AS w
      FROM lines a JOIN lines b ON a.okey = b.okey AND a.pid != b.pid
      GROUP BY 1, 2
    )"""


@oracle("rel_label_propagation")
def _lpa_oracle() -> str:
    """Unrolled-iteration DuckDB twin of the LPA loop (the PageRank /
    Lloyd discipline: one CTE level per synchronous round)."""
    head = f"""
    WITH {_COPURCHASE_EDGES_SQL.format(wtype="BIGINT", cap=_BASKET_CAP)},
    l0 AS (SELECT pid AS id, pid AS label FROM (SELECT DISTINCT pid FROM lines))"""
    levels = []
    for t in range(1, _LPA_ITERS + 1):
        levels.append(f"""
    v{t} AS (
      SELECT id, label, CAST(SUM(v) AS BIGINT) AS v FROM (
        SELECT e.dst AS id, l.label, CAST(SUM(e.w) AS BIGINT) AS v
        FROM e JOIN l{t - 1} l ON l.id = e.src GROUP BY 1, 2
        UNION ALL
        SELECT id, label, 1 FROM l{t - 1}
      ) GROUP BY id, label
    ),
    l{t} AS (
      SELECT id, label FROM (
        SELECT id, label,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY v DESC, label) AS rn
        FROM v{t}
      ) WHERE rn = 1
    )"""
        )
    return (
        head
        + ","
        + ",".join(levels)
        + f"""
    SELECT id, label AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
    FROM l{_LPA_ITERS}"""
    )


@oracle("rel_ppr_parts")
def _ppr_oracle() -> str:
    head = f"""
    WITH {_COPURCHASE_EDGES_SQL.format(wtype="DOUBLE", cap=_BASKET_CAP)},
    outd AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
    seeds AS (
      SELECT pid AS node FROM (SELECT DISTINCT pid FROM lines)
      WHERE pid % {_PPR_SEED_MOD} = 0
    ),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seeds),
    r0 AS (SELECT node, 1.0 / ns.n AS r FROM seeds, ns)"""
    levels = []
    for k in range(1, _PPR_ITERS + 1):
        levels.append(f"""
    walk{k} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(r{k - 1}.r * e.w / outd.outw
               AS DECIMAL(38,18))) AS DOUBLE) AS m
      FROM e
      JOIN r{k - 1} ON r{k - 1}.node = e.src
      JOIN outd ON outd.src = e.src
      GROUP BY e.dst
    ),
    r{k} AS (
      SELECT COALESCE(w.node, s.node) AS node,
             CASE WHEN s.node IS NOT NULL
                  THEN {1.0 - _PPR_ALPHA} / ns.n ELSE 0.0 END
               + {_PPR_ALPHA} * COALESCE(w.m, 0.0) AS r
      FROM walk{k} w FULL OUTER JOIN seeds s ON s.node = w.node
      CROSS JOIN ns
    )""")
    return (
        head
        + ","
        + ",".join(levels)
        + f"""
    SELECT node, r AS ppr FROM r{_PPR_ITERS} WHERE r > 0.0"""
    )


@oracle("rel_kcore_parts")
def _kcore_oracle() -> str:
    """Unrolled-iteration DuckDB twin of the peeling loop (the LPA /
    PPR discipline: one CTE level per synchronous round)."""
    head = f"""
    WITH {_COPURCHASE_EDGES_SQL.format(wtype="BIGINT", cap=_BASKET_CAP)},
    n0 AS (SELECT DISTINCT pid AS id FROM lines)"""
    levels = []
    for t in range(1, _KCORE_ROUNDS + 1):
        levels.append(f"""
    d{t} AS (
      SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS deg
      FROM e
      JOIN n{t - 1} a ON a.id = e.src
      JOIN n{t - 1} b ON b.id = e.dst
      GROUP BY e.src
    ),
    n{t} AS (SELECT id FROM d{t} WHERE deg >= {_KCORE_K})"""
        )
    return (
        head
        + ","
        + ",".join(levels)
        + f"""
    SELECT id, deg AS core_degree FROM d{_KCORE_ROUNDS}
    WHERE deg >= {_KCORE_K}"""
    )


@oracle("rel_hits_scores")
def _hits_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY p),
    h1 AS (SELECT e.c, CAST(SUM(a1.a) AS BIGINT) AS h
           FROM e JOIN a1 USING (p) GROUP BY e.c),
    a2 AS (SELECT e.p, CAST(SUM(h1.h) AS BIGINT) AS a,
                  CAST(COUNT(*) AS BIGINT) AS degree
           FROM e JOIN h1 USING (c) GROUP BY e.p)
    SELECT p AS p_partkey, a AS authority, degree
    FROM a2
    ORDER BY a DESC, p
    LIMIT {_HITS_TOPK}
    """


@oracle("rel_cuped_adjustment")
def _cuped_oracle() -> str:
    u = (
        f"(CAST(CAST('0x' || substr(md5('{_CUPED_SEED}:'"
        " || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)"
        " / 4294967296.0)"
    )
    stats = ", ".join(_CUPED_STATS)
    return f"""
    WITH pu AS (
      SELECT user_id,
             CASE WHEN {u} < 0.5 THEN 'treat' ELSE 'control' END AS arm,
             SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                 THEN CAST(value AS DECIMAL(18,2)) ELSE 0.00 END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                 THEN CAST(value AS DECIMAL(18,2)) ELSE 0.00 END) AS y
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS gn,
             CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS gsx,
             CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS gsy,
             CAST(SUM(CAST(x AS DECIMAL(38,4)) * CAST(x AS DECIMAL(38,4)))
                  AS DOUBLE) AS gsxx,
             CAST(SUM(CAST(x AS DECIMAL(38,4)) * CAST(y AS DECIMAL(38,4)))
                  AS DOUBLE) AS gsxy
      FROM pu
    ),
    gt AS (SELECT {_CUPED_THETA} AS theta, gsx / gn AS meanx FROM g),
    a AS (
      SELECT arm,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(y AS DECIMAL(38,4)) * CAST(y AS DECIMAL(38,4)))
                  AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(38,4)) * CAST(x AS DECIMAL(38,4)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(38,4)) * CAST(y AS DECIMAL(38,4)))
                  AS DOUBLE) AS sxy
      FROM pu GROUP BY arm
    )
    SELECT arm, CAST(n AS BIGINT) AS n_users, {stats}
    FROM a CROSS JOIN gt
    """


@oracle("rel_markov_stationary")
def _markov_oracle() -> str:
    parts = [
        """bg AS (
      SELECT prev, event_type AS nxt FROM (
        SELECT event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
      ) WHERE prev IS NOT NULL
    )""",
        """tc AS (
      SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY prev, nxt
    )""",
        """tp AS (
      SELECT prev, nxt,
             CAST(c AS DOUBLE)
               / CAST(SUM(c) OVER (PARTITION BY prev) AS DOUBLE) AS p
      FROM tc
    )""",
        """states AS (SELECT DISTINCT event_type AS s FROM events)""",
        """v0 AS (
      SELECT s, 1.0 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM states) AS p
      FROM states
    )""",
    ]
    for t in range(1, _MK_ITERS + 1):
        parts.append(f"""v{t} AS (
      SELECT tp.nxt AS s,
             CAST(SUM(CAST(v{t - 1}.p * tp.p AS DECIMAL(38,18)))
                  AS DOUBLE) AS p
      FROM v{t - 1} JOIN tp ON tp.prev = v{t - 1}.s
      GROUP BY tp.nxt
    )""")
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT s.s AS event_type, COALESCE(v.p, 0.0) AS stationary_prob
    FROM states s LEFT JOIN v{_MK_ITERS} v ON v.s = s.s
    """
    )


@oracle("rel_markov_removal_attribution")
def _removal_oracle() -> str:
    scen = ", ".join(f"('{c}')" for c in ("full", *_RE_CHANNELS))
    parts = [
        """seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )""",
        f"""cut AS (
      SELECT user_id, event_type, rn,
             MIN(CASE WHEN event_type = '{_RE_CONV}' THEN rn END)
               OVER (PARTITION BY user_id) AS prn
      FROM seq
    )""",
        """jny AS (
      SELECT user_id, event_type, rn FROM cut
      WHERE prn IS NULL OR rn <= prn
    )""",
        """bg AS (
      SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id
                                            ORDER BY rn), '__start')
               AS prev,
             event_type AS nxt
      FROM jny
    )""",
        """tc AS (
      SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY prev, nxt
    )""",
        f"""tp AS (
      SELECT prev, nxt,
             CAST(c AS DOUBLE)
               / CAST(SUM(c) OVER (PARTITION BY prev) AS DOUBLE) AS tpp
      FROM tc
      UNION ALL
      SELECT '{_RE_CONV}', '{_RE_CONV}', 1.0
    )""",
        f"""scen AS (SELECT * FROM (VALUES {scen}) AS t(scenario))""",
        """sp AS (
      SELECT s.scenario, tp.prev, tp.nxt, tp.tpp
      FROM scen s JOIN tp
        ON s.scenario = 'full'
        OR (tp.prev <> s.scenario AND tp.nxt <> s.scenario)
    )""",
        """v0 AS (SELECT scenario, '__start' AS st, 1.0 AS vp FROM scen)""",
    ]
    for t in range(1, _RE_T + 1):
        parts.append(f"""v{t} AS (
      SELECT v.scenario, sp.nxt AS st,
             CAST(SUM(CAST(v.vp * sp.tpp AS DECIMAL(38,18)))
                  AS DOUBLE) AS vp
      FROM v{t - 1} v JOIN sp
        ON sp.scenario = v.scenario AND sp.prev = v.st
      GROUP BY v.scenario, sp.nxt
    )""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
    pconv AS (
      SELECT s.scenario, COALESCE(v.vp, 0.0) AS p
      FROM scen s LEFT JOIN v{_RE_T} v
        ON v.scenario = s.scenario AND v.st = '{_RE_CONV}'
    ),
    eff AS (
      SELECT c.scenario AS channel, f.p AS p_full, c.p AS p_removed,
             CASE WHEN f.p > 0 THEN (f.p - c.p) / f.p ELSE 0.0 END
               AS removal_effect
      FROM pconv c CROSS JOIN (SELECT p FROM pconv
                               WHERE scenario = 'full') f
      WHERE c.scenario <> 'full'
    )
    SELECT channel, p_full, p_removed, removal_effect,
           CASE WHEN CAST(SUM(CAST(removal_effect AS DECIMAL(38,18)))
                          OVER () AS DOUBLE) > 0
                THEN removal_effect
                     / CAST(SUM(CAST(removal_effect AS DECIMAL(38,18)))
                            OVER () AS DOUBLE)
                ELSE 0.0 END AS share
    FROM eff
    """
    )


@oracle("rel_adamic_adar")
def _adamic_adar_oracle() -> str:
    edges = _COPURCHASE_EDGES_SQL.format(wtype="BIGINT", cap=_BASKET_CAP)
    return f"""
    WITH {edges},
    g AS (SELECT DISTINCT src, dst FROM e),
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM g GROUP BY src),
    gc AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS nr
        FROM g
      ) WHERE nr <= {_AA_ADJ_CAP}
    ),
    paths AS (
      SELECT a.src AS u, a.dst AS v, b.dst AS w
      FROM gc a JOIN gc b ON a.dst = b.src AND a.src < b.dst
    ),
    open_pairs AS (
      SELECT p.u, p.w,
             SUM(CAST(ROUND(1.0 / ln(deg.d), 12) AS DECIMAL(38,18))) AS aa_dec,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors
      FROM paths p
      JOIN deg ON deg.v = p.v
      LEFT JOIN g ON g.src = p.u AND g.dst = p.w
      WHERE g.src IS NULL
      GROUP BY p.u, p.w
    )
    SELECT u AS part_a, w AS part_b, common_neighbors,
           CAST(aa_dec AS DOUBLE) AS adamic_adar
    FROM open_pairs
    ORDER BY aa_dec DESC, u, w
    LIMIT {_AA_TOPK}
    """


@oracle("rel_bfs_distances")
def _bfs_oracle() -> str:
    edges = _COPURCHASE_EDGES_SQL.format(wtype="BIGINT", cap=_BASKET_CAP)
    levels = [
        f"d0 AS (SELECT DISTINCT pid AS id, 0 AS dist FROM lines"
        f" WHERE pid % {_BFS_SEED_MOD} = 0)"
    ]
    for t in range(1, _BFS_ROUNDS + 1):
        levels.append(f"""
    d{t} AS (
      SELECT id, MIN(dist) AS dist FROM (
        SELECT id, dist FROM d{t - 1}
        UNION ALL
        SELECT e.dst AS id, d.dist + 1 AS dist
        FROM e JOIN d{t - 1} d ON d.id = e.src
      ) GROUP BY id
    )"""
        )
    return f"""
    WITH {edges},
    {",".join(levels)}
    SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MIN(id) AS BIGINT) AS min_part,
           CAST(MAX(id) AS BIGINT) AS max_part
    FROM d{_BFS_ROUNDS}
    GROUP BY dist
    """


@oracle("rel_adamic_adar_recall")
def _aa_recall_oracle() -> str:
    edges = _COPURCHASE_EDGES_SQL.format(wtype="BIGINT", cap=_BASKET_CAP)
    exact = """exact AS (
      SELECT u, w, aa_dec,
             ROW_NUMBER() OVER (ORDER BY aa_dec DESC, u, w) AS rnk
      FROM (
        SELECT p.u, p.w,
               SUM(CAST(ROUND(1.0 / ln(deg.d), 12) AS DECIMAL(38,18)))
                 AS aa_dec
        FROM (SELECT a.src AS u, a.dst AS v, b.dst AS w
              FROM g a JOIN g b ON a.dst = b.src AND a.src < b.dst) p
        JOIN deg ON deg.v = p.v
        LEFT JOIN g ON g.src = p.u AND g.dst = p.w
        WHERE g.src IS NULL
        GROUP BY p.u, p.w
      )
    )"""
    arms = []
    for cap in _AA_EVAL_CAPS:
        arms.append(f"""gc_{cap} AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS nr
        FROM g
      ) WHERE nr <= {cap}
    ),
    top_{cap} AS (
      SELECT u, w FROM (
        SELECT u, w,
               ROW_NUMBER() OVER (ORDER BY aa_dec DESC, u, w) AS rnk
        FROM (
          SELECT p.u, p.w,
                 SUM(CAST(ROUND(1.0 / ln(deg.d), 12) AS DECIMAL(38,18)))
                   AS aa_dec
          FROM (SELECT a.src AS u, a.dst AS v, b.dst AS w
                FROM gc_{cap} a JOIN gc_{cap} b
                  ON a.dst = b.src AND a.src < b.dst) p
          JOIN deg ON deg.v = p.v
          LEFT JOIN g ON g.src = p.u AND g.dst = p.w
          WHERE g.src IS NULL
          GROUP BY p.u, p.w
        )
      ) WHERE rnk <= {_AA_TOPK}
    ),
    row_{cap} AS (
      SELECT CAST({cap} AS INT) AS adj_cap,
             CAST({_AA_TOPK} AS BIGINT) AS k,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM top_{cap} t JOIN exact e
                ON e.u = t.u AND e.w = t.w AND e.rnk <= {_AA_TOPK}) AS overlap,
             (SELECT CAST(SUM(e.aa_dec) AS DOUBLE) / COUNT(*)
              FROM top_{cap} t JOIN exact e
                ON e.u = t.u AND e.w = t.w) AS mean_true_of_capped,
             (SELECT CAST(SUM(aa_dec) AS DOUBLE) / COUNT(*)
              FROM exact WHERE rnk <= {_AA_TOPK}) AS mean_exact
    )""")
    out = "\n    UNION ALL\n    ".join(
        f"SELECT adj_cap, k, overlap,"
        f" round(CAST(overlap AS DOUBLE) / k, 9) AS recall,"
        f" round(mean_true_of_capped / mean_exact, 9) AS effectiveness"
        f" FROM row_{cap}"
        for cap in _AA_EVAL_CAPS
    )
    return f"""
    WITH {edges},
    g AS (SELECT DISTINCT src, dst FROM e),
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d
            FROM g GROUP BY src),
    {exact},
    {",".join(arms)}
    {out}
    """
