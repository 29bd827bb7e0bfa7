"""Oracles of queries/similarity.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.similarity import (
    SQDIST_THRESHOLD,
    _GX_BITS,
    _GX_CAP,
    _GX_G,
    _GX_K,
    _GX_PANEL,
    _GX_SEED,
    _GX_TABLES,
    _IVFPQ_CELLS,
    _IVFPQ_PROBE,
    _IVFPQ_SHORTLIST,
    _IVF_SAMPLE_CAP,
    _MAXSCORE_K,
    _MAXSCORE_QMOD,
    _MAXSCORE_THETA,
    _MMR_K,
    _MMR_LAM,
    _MMR_POOL,
    _MP_BITS,
    _MP_BUDGETS,
    _MP_K,
    _MP_PROBES,
    _MP_SEED,
    _MP_TABLES,
    _MS_DIMS,
    _MS_QUERIES,
    _MS_TOPK,
    _PQ_DSUB,
    _PQ_K,
    _PQ_KSUB,
    _PQ_M,
    _PQ_STRIDE,
    _SWEEP_CELLS,
    _SWEEP_ITERS,
    _SWEEP_K,
    _SWEEP_PROBES,
    _SWEEP_STRIDE,
)
from fuzzy_item_matching_spark.tables import EMB_DIM
from oracles import oracle
from oracles.text import _D_TOKENS


_D_SQD_ZIP = (
    "list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),"
    " s -> (s[1]-s[2])*(s[1]-s[2])))"
)


@oracle("sim_exact_sqdist_pairs")
def _sim_exact_sqdist_pairs_oracle() -> str:
    return f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_D_SQD_ZIP} AS sqdist
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_D_SQD_ZIP} <= {SQDIST_THRESHOLD}
    """


def _sql_plane_dot(vec_expr: str, plane: list[float]) -> str:
    lits = "[" + ",".join(repr(x) for x in plane) + "]"
    return (
        f"list_sum(list_transform(list_zip({vec_expr}, {lits}),"
        " s -> s[1]*s[2]))"
    )


def _lsh_sqdist_oracle(
    n_tables: int, bucket_length: float, seed: int, dim: int, threshold: float
) -> str:
    from fuzzy_item_matching_spark.operators.lsh import random_hyperplanes

    planes = random_hyperplanes(dim, n_tables, seed)
    bkt = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, {t} AS tbl,"
        f" CAST(floor(({_sql_plane_dot('embedding::DOUBLE[]', p)})"
        f" / {bucket_length!r}) AS BIGINT) AS bucket FROM embeddings"
        for t, p in enumerate(planes)
    )
    return f"""
    WITH bkt AS (
{bkt}
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM bkt x JOIN bkt y
        ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT c.id_a, c.id_b, {_D_SQD_ZIP} AS sqdist
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.id_a
    JOIN embeddings b ON b.vec_id = c.id_b
    WHERE {_D_SQD_ZIP} <= {threshold}
    """


@oracle("sim_lsh_sqdist_pairs")
def _sim_lsh_sqdist_pairs_oracle() -> str:
    return _lsh_sqdist_oracle(
        n_tables=10, bucket_length=1.0, seed=42, dim=EMB_DIM,
        threshold=SQDIST_THRESHOLD,
    )


def _lsh_topk_oracle(
    n_tables: int, bits_per_table: int, seed: int, dim: int, k: int
) -> str:
    from fuzzy_item_matching_spark.operators.lsh import random_hyperplanes

    planes = random_hyperplanes(dim, n_tables * bits_per_table, seed)
    buckets = []
    for t in range(n_tables):
        bits = " || ".join(
            "(CASE WHEN"
            f" ({_sql_plane_dot('embedding::DOUBLE[]', planes[t * bits_per_table + b])})"
            " >= 0 THEN '1' ELSE '0' END)"
            for b in range(bits_per_table)
        )
        buckets.append(
            f"      SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM embeddings"
        )
    bkt = "\n      UNION ALL\n".join(buckets)
    norm = "sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))"
    pair_dot = (
        "list_sum(list_transform("
        "list_zip(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), s -> s[1]*s[2]))"
    )
    return f"""
    WITH bkt AS (
{bkt}
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
      FROM bkt x JOIN bkt y
        ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
    ),
    norms AS (SELECT vec_id, {norm} AS nrm FROM embeddings),
    scored AS (
      SELECT c.qid, c.nid,
             CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0
                  ELSE {pair_dot} / (nq.nrm * nn.nrm) END AS cosine
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.qid
      JOIN embeddings n ON n.vec_id = c.nid
      JOIN norms nq ON nq.vec_id = c.qid
      JOIN norms nn ON nn.vec_id = c.nid
    )
    SELECT qid, nid, cosine, rnk FROM (
      SELECT qid, nid, cosine,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= {k}
    """


@oracle("sim_ann_lsh_topk")
def _sim_ann_lsh_topk_oracle() -> str:
    return _lsh_topk_oracle(n_tables=16, bits_per_table=5, seed=42, dim=EMB_DIM, k=3)


# Fold-order dot product over DuckDB lists — the list_sum fold matches
# F.aggregate's left-to-right IEEE accumulation (functions/vector.py dot).
_D_DOT_T = "list_sum(list_transform(list_zip({a}, {b}), s -> s[1]*s[2]))"


def _ivf_centroid_blocks(
    n_centroids: int,
    iters: int,
    sample_cap: int = 100_000,
    seed: int = 42,
) -> tuple[list[str], str]:
    """The CTE blocks replaying ``operators/ivf.py`` centroid
    construction over `embeddings` — init = lowest-id rows unit-
    normalized, ``iters`` unrolled Lloyd passes over the content-keyed
    refinement sample (exact DECIMAL means, double cast once) — plus
    the name of the final centroid CTE. Shared by the IVF top-k oracle
    below and the semantic-dedup oracle (`queries/dedup.py`), so the
    two queries verify the SAME index build."""
    _unit = (
        "list_transform({v}, x -> x / (CASE WHEN"
        " sqrt(list_sum(list_transform({v}, y -> y*y))) = 0 THEN 1.0"
        " ELSE sqrt(list_sum(list_transform({v}, y -> y*y))) END))"
    )
    dot = _D_DOT_T
    # keyed uniform, functions/sampling.py twin (same md5 construction
    # as _D_U in queries/sources.py)
    u = (
        f"(CAST(CAST('0x' || substr(md5('{seed}:' || CAST(vec_id AS VARCHAR)),"
        " 1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0)"
    )
    blocks = [
        "emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "ns AS (SELECT COUNT(*) AS n FROM emb)",
        f"""ref AS (
      SELECT vec_id, v FROM emb, ns
      WHERE ns.n <= {sample_cap}
         OR {u} < CAST({sample_cap} AS DOUBLE) / ns.n
    )""",
        f"""init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {n_centroids})
    )""",
        f"c0 AS (SELECT cell, {_unit.format(v='v')} AS c FROM init)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        blocks += [
            f"""a{i} AS (
      SELECT e.vec_id, c{p}.cell,
             {dot.format(a='e.v', b=f'c{p}.c')} AS score
      FROM ref e CROSS JOIN c{p}
    )""",
            f"""b{i} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell, row_number() OVER (
          PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
        FROM a{i}
      ) WHERE rn = 1
    )""",
            f"""m{i} AS (
      SELECT cell, i - 1 AS pos,
             CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
      FROM (
        SELECT b{i}.cell, unnest(e.v) AS x, generate_subscripts(e.v, 1) AS i
        FROM b{i} JOIN emb e USING (vec_id)
      ) GROUP BY cell, i
    )""",
            f"""n{i} AS (
      SELECT cell, list(m ORDER BY pos) AS mv FROM m{i} GROUP BY cell
    )""",
            f"""c{i} AS (
      SELECT c{p}.cell,
             CASE WHEN n{i}.mv IS NULL THEN c{p}.c
                  ELSE {_unit.format(v=f'n{i}.mv')} END AS c
      FROM c{p} LEFT JOIN n{i} USING (cell)
    )""",
        ]
    return blocks, f"c{iters}"


def _ivf_topk_oracle(
    k: int,
    n_centroids: int,
    n_probe: int,
    iters: int,
    sample_cap: int = 100_000,
    seed: int = 42,
) -> str:
    """Full SQL replica of ivf_cosine_topk: init centroids = lowest-id
    rows unit-normalized, ``iters`` unrolled Lloyd passes (assign by
    dot DESC / cell DESC, per-(cell,pos) mean via exact DECIMAL sum
    cast double — the same order-insensitive mean the operator
    computes, so refined centroids are bitwise reproducible), then
    nearest-cell indexing, n_probe probing, exact cosine, global
    top-k. Every float op replays the operator's sequence (fold-order
    dots, single-op divisions), so the whole approximate index is
    exactly verifiable.

    Lloyd passes run over the SAME bounded refinement sample as the
    operator (``operators/ivf.py refinement_sample``): a content-keyed
    u = f(md5(seed:vec_id)) < sample_cap/n filter, inert while
    n <= sample_cap and bitwise-identical to the Spark draw above it —
    closing the r04 divergence where the oracle ran Lloyd over the
    full table while the operator sampled."""
    dot = _D_DOT_T
    blocks, cf = _ivf_centroid_blocks(n_centroids, iters, sample_cap, seed)
    return (
        "\n    WITH "
        + ",\n    ".join(blocks)
        + f""",
    sc AS (
      SELECT e.vec_id, {cf}.cell,
             {dot.format(a='e.v', b=f'{cf}.c')} AS score
      FROM emb e CROSS JOIN {cf}
    ),
    ranked AS (
      SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
      FROM sc
    ),
    idx AS (SELECT vec_id AS nid, cell FROM ranked WHERE rn = 1),
    prb AS (SELECT vec_id AS qid, cell FROM ranked WHERE rn <= {n_probe}),
    nrm AS (
      SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
      FROM emb
    ),
    cand AS (
      SELECT p.qid, i.nid FROM prb p JOIN idx i USING (cell)
      WHERE p.qid <> i.nid
    ),
    scored AS (
      SELECT c.qid, c.nid,
             CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0
                  ELSE {dot.format(a='q.v', b='n.v')} / (nq.nrm * nn.nrm)
             END AS cosine
      FROM cand c
      JOIN emb q ON q.vec_id = c.qid
      JOIN emb n ON n.vec_id = c.nid
      JOIN nrm nq ON nq.vec_id = c.qid
      JOIN nrm nn ON nn.vec_id = c.nid
    )
    SELECT qid, nid, cosine, rnk FROM (
      SELECT qid, nid, cosine,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= {k}
    """
    )


@oracle("sim_ann_ivf_topk")
def _sim_ann_ivf_topk_oracle() -> str:
    return _ivf_topk_oracle(
        k=3, n_centroids=16, n_probe=8, iters=1, sample_cap=_IVF_SAMPLE_CAP
    )


# Full SQL replica of featurize_text(num_features=None, binary=True,
# max_df_ratio=0.15) + sparse_cosine_join(min_sim=0.8, self_dedup) on part.p_name.
_FUZZY_PART_ORACLE = f"""
WITH toks AS (
  SELECT p_partkey AS id,
         flatten(list_transform(
           list_filter({_D_TOKENS.format(c="p_name")},
                       t -> NOT list_contains({{stopwords}}, t)),
           w -> list_transform(generate_series(1, greatest(length(w)-2, 0)),
                               i -> w[i:i+2]))) AS grams
  FROM part
),
tf AS (
  SELECT id, term, 1.0::DOUBLE AS tf
  FROM (SELECT id, unnest(grams) AS term FROM toks)
  GROUP BY id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(DISTINCT id)::DOUBLE AS n FROM tf),
idf AS (
  SELECT term, ln((n + 1.0) / (df + 1.0)) AS idf
  FROM dfreq, nd WHERE df <= 0.15 * n
),
w AS (
  SELECT tf.id, tf.term, tf.tf * idf.idf AS weight
  FROM tf JOIN idf USING (term)
),
nrm AS (SELECT id, sqrt(SUM(weight * weight)) AS nrm FROM w GROUP BY id),
wn AS (
  SELECT w.id, w.term,
         CASE WHEN nrm.nrm = 0 THEN w.weight ELSE w.weight / nrm.nrm END AS weight
  FROM w JOIN nrm USING (id)
)
SELECT a.id AS id_a, b.id AS id_b, SUM(a.weight * b.weight) AS cosine
FROM wn a JOIN wn b ON a.term = b.term AND a.id < b.id
GROUP BY 1, 2
HAVING SUM(a.weight * b.weight) >= {{min_sim}}
"""


@oracle("sim_fuzzy_part_pairs")
def _fuzzy_part_oracle() -> str:
    from fuzzy_item_matching_spark.functions.text import ENGLISH_STOPWORDS

    sw = "[" + ", ".join(
        "'" + s.replace("'", "''") + "'" for s in ENGLISH_STOPWORDS
    ) + "]"
    return _FUZZY_PART_ORACLE.format(stopwords=sw, min_sim=0.8)


# Word-unigram binary TF-IDF CTE chain over documents, ending in
# wn(id, term, weight) — shared by the fuzzy doc self-join (max_df
# 0.3) and the MaxScore top-k oracle (max_df 0.9: the synthetic docs
# share most of their template vocabulary, so 0.3 leaves only 25 docs
# with any weight — retrieval needs the whole corpus indexed).
def _doc_wn_ctes(max_df: float) -> str:
    return f"""tf AS (
  SELECT doc_id AS id, term, 1.0::DOUBLE AS tf
  FROM (SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS term FROM documents)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(DISTINCT id)::DOUBLE AS n FROM tf),
idf AS (
  SELECT term, ln((n + 1.0) / (df + 1.0)) AS idf
  FROM dfreq, nd WHERE df <= {max_df} * n
),
w AS (
  SELECT tf.id, tf.term, tf.tf * idf.idf AS weight
  FROM tf JOIN idf USING (term)
),
nrm AS (SELECT id, sqrt(SUM(weight * weight)) AS nrm FROM w GROUP BY id),
wn AS (
  SELECT w.id, w.term,
         CASE WHEN nrm.nrm = 0 THEN w.weight ELSE w.weight / nrm.nrm END AS weight
  FROM w JOIN nrm USING (id)
)"""


_FUZZY_DOC_ORACLE = f"""
WITH {_doc_wn_ctes(0.3)}
SELECT a.id AS id_a, b.id AS id_b, SUM(a.weight * b.weight) AS cosine
FROM wn a JOIN wn b ON a.term = b.term AND a.id < b.id
GROUP BY 1, 2
HAVING SUM(a.weight * b.weight) >= 0.5
"""


@oracle("sim_fuzzy_doc_pairs")
def _sim_fuzzy_doc_pairs_oracle() -> str:
    return _FUZZY_DOC_ORACLE


@oracle("sim_ann_recall")
def _ann_recall_oracle() -> str:
    from oracles.vectors import _D_DOT, _D_NORM

    cosine = (
        f"{_D_DOT.format(a='a.embedding', b='b.embedding')}"
        f" / ({_D_NORM.format(v='a.embedding')} * {_D_NORM.format(v='b.embedding')})"
    )
    return f"""
    WITH ann AS ({_lsh_topk_oracle(n_tables=16, bits_per_table=5, seed=42, dim=EMB_DIM, k=3)}),
    bf AS (
      SELECT qid, nid FROM (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               row_number() OVER (
                 PARTITION BY a.vec_id ORDER BY {cosine} DESC, b.vec_id) AS rnk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      ) WHERE rnk <= 3
    )
    SELECT COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN ann.nid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN ann.nid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT)::DOUBLE / COUNT(*) AS recall
    FROM bf LEFT JOIN ann ON bf.qid = ann.qid AND bf.nid = ann.nid
    """


def _pq_topk_oracle(m: int, ksub: int, dsub: int, k: int, stride: int) -> str:
    """DuckDB replica of the PQ index: codebooks from the ksub
    lowest-id vectors' subvectors, argmin-sqdist code assignment
    (ties -> lower code), ADC scores summed as DECIMAL(38,18)."""
    sqd = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " s -> (s[1]-s[2])*(s[1]-s[2])))"
    )
    dot = "list_sum(list_transform(list_zip({a}, {b}), s -> s[1]*s[2]))"
    return f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    base AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {ksub})
    ),
    cb AS (
      SELECT u.m, b.j,
             list_slice(b.v, u.m*{dsub}+1, u.m*{dsub}+{dsub}) AS c
      FROM base b, unnest(range({m})) AS u(m)
    ),
    sub AS (
      SELECT e.vec_id, u.m,
             list_slice(e.v, u.m*{dsub}+1, u.m*{dsub}+{dsub}) AS s
      FROM emb e, unnest(range({m})) AS u(m)
    ),
    asg AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, cb.j,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {sqd.format(a="s.s", b="cb.c")}, cb.j) AS rn
        FROM sub s JOIN cb USING (m)
      ) WHERE rn = 1
    ),
    terms AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
             {dot.format(
                 a=f"list_slice(q.v, a.m*{dsub}+1, a.m*{dsub}+{dsub})",
                 b="cb.c")} AS t
      FROM emb q
      JOIN asg a ON a.vec_id <> q.vec_id
      JOIN cb ON cb.m = a.m AND cb.j = a.code
      WHERE q.vec_id % {stride} = 0
    ),
    score AS (
      SELECT query_id, neighbor_id,
             CAST(SUM(CAST(t AS DECIMAL(38,18))) AS DOUBLE) AS adc
      FROM terms GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adc, rnk FROM (
      SELECT query_id, neighbor_id, adc,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adc DESC, neighbor_id) AS INT) AS rnk
      FROM score
    ) WHERE rnk <= {k}
    """


@oracle("sim_ann_pq_topk")
def _sim_ann_pq_topk_oracle() -> str:
    return _pq_topk_oracle(_PQ_M, _PQ_KSUB, _PQ_DSUB, _PQ_K, _PQ_STRIDE)


def _ivfpq_topk_oracle(
    m: int, ksub: int, dsub: int, k: int, stride: int,
    n_centroids: int, n_probe: int, shortlist: int,
) -> str:
    """DuckDB replica of the composed IVF+PQ index: lowest-id unit
    centroids partition the space; candidates come from the query's
    probed cells only; an ADC shortlist of ``shortlist`` per query is
    re-ranked by the EXACT cosine (FAISS IndexRefine) — codes computed
    as direct subspace dots, bitwise equal to the engine's lookup
    tables (same left-to-right folds)."""
    dot = "list_sum(list_transform(list_zip({a}, {b}), s -> s[1]*s[2]))"
    sqd = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " s -> (s[1]-s[2])*(s[1]-s[2])))"
    )
    return f"""
    WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS r FROM embeddings),
    emb AS (
      SELECT vec_id,
             CASE WHEN sqrt(list_sum(list_transform(r, x -> x*x))) = 0 THEN r
                  ELSE list_transform(r, x ->
                       x / sqrt(list_sum(list_transform(r, y -> y*y))))
             END AS v
      FROM raw
    ),
    init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {n_centroids})
    ),
    c0 AS (
      SELECT cell,
             CASE WHEN sqrt(list_sum(list_transform(v, x -> x*x))) = 0 THEN v
                  ELSE list_transform(v, x ->
                       x / sqrt(list_sum(list_transform(v, y -> y*y))))
             END AS c
      FROM init
    ),
    sc AS (
      SELECT e.vec_id, c0.cell, {dot.format(a="e.v", b="c0.c")} AS score
      FROM emb e CROSS JOIN c0
    ),
    cellranked AS (
      SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
      FROM sc
    ),
    idx AS (SELECT vec_id AS nid, cell FROM cellranked WHERE rn = 1),
    prb AS (SELECT vec_id AS qid, cell FROM cellranked
            WHERE rn <= {n_probe} AND vec_id % {stride} = 0),
    base AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {ksub})
    ),
    cb AS (
      SELECT u.m, b.j,
             list_slice(b.v, u.m*{dsub}+1, u.m*{dsub}+{dsub}) AS c
      FROM base b, unnest(range({m})) AS u(m)
    ),
    sub AS (
      SELECT e.vec_id, u.m,
             list_slice(e.v, u.m*{dsub}+1, u.m*{dsub}+{dsub}) AS s
      FROM emb e, unnest(range({m})) AS u(m)
    ),
    asg AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, cb.j,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {sqd.format(a="s.s", b="cb.c")}, cb.j) AS rn
        FROM sub s JOIN cb USING (m)
      ) WHERE rn = 1
    ),
    cand AS (
      SELECT p.qid, i.nid FROM prb p JOIN idx i USING (cell)
      WHERE p.qid <> i.nid
    ),
    terms AS (
      SELECT c.qid, c.nid,
             {dot.format(
                 a=f"list_slice(q.v, a.m*{dsub}+1, a.m*{dsub}+{dsub})",
                 b="cb.c")} AS t
      FROM cand c
      JOIN emb q ON q.vec_id = c.qid
      JOIN asg a ON a.vec_id = c.nid
      JOIN cb ON cb.m = a.m AND cb.j = a.code
    ),
    score AS (
      SELECT qid, nid,
             CAST(SUM(CAST(t AS DECIMAL(38,18))) AS DOUBLE) AS adc
      FROM terms GROUP BY qid, nid
    ),
    short AS (
      SELECT qid, nid, adc FROM (
        SELECT qid, nid, adc, row_number() OVER (PARTITION BY qid
          ORDER BY adc DESC, nid) AS srn
        FROM score
      ) WHERE srn <= {shortlist}
    ),
    rer AS (
      SELECT s.qid, s.nid, s.adc,
             {dot.format(a="q.v", b="n.v")} AS exact_cos
      FROM short s
      JOIN emb q ON q.vec_id = s.qid
      JOIN emb n ON n.vec_id = s.nid
    )
    SELECT qid AS query_id, nid AS neighbor_id, adc, exact_cos, rnk FROM (
      SELECT qid, nid, adc, exact_cos,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY exact_cos DESC, nid) AS INT) AS rnk
      FROM rer
    ) WHERE rnk <= {k}
    """


@oracle("sim_ann_ivfpq_topk")
def _sim_ann_ivfpq_topk_oracle() -> str:
    return _ivfpq_topk_oracle(
        _PQ_M, _PQ_KSUB, _PQ_DSUB, _PQ_K, _PQ_STRIDE,
        _IVFPQ_CELLS, _IVFPQ_PROBE, _IVFPQ_SHORTLIST,
    )


@oracle("sim_ann_ivfpq_recall")
def _ivfpq_recall_oracle() -> str:
    dot = "list_sum(list_transform(list_zip({a}, {b}), s -> s[1]*s[2]))"
    nrm = "sqrt(list_sum(list_transform({v}, x -> x*x)))"
    cosine = (
        f"{dot.format(a='a.embedding::DOUBLE[]', b='b.embedding::DOUBLE[]')}"
        f" / ({nrm.format(v='a.embedding::DOUBLE[]')}"
        f" * {nrm.format(v='b.embedding::DOUBLE[]')})"
    )
    return f"""
    WITH ann AS ({_ivfpq_topk_oracle(
        _PQ_M, _PQ_KSUB, _PQ_DSUB, _PQ_K, _PQ_STRIDE,
        _IVFPQ_CELLS, _IVFPQ_PROBE, _IVFPQ_SHORTLIST,
    )}),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {cosine} DESC, b.vec_id) AS rnk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % {_PQ_STRIDE} = 0
      ) WHERE rnk <= {_PQ_K}
    )
    SELECT COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN ann.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT)::DOUBLE / COUNT(*) AS recall
    FROM bf LEFT JOIN ann
      ON bf.query_id = ann.query_id AND bf.neighbor_id = ann.neighbor_id
    """


@oracle("sim_ann_ivf_probe_sweep")
def _ivf_probe_sweep_oracle() -> str:
    dot = _D_DOT_T
    blocks, cf = _ivf_centroid_blocks(
        _SWEEP_CELLS, _SWEEP_ITERS, _IVF_SAMPLE_CAP
    )
    max_p = max(_SWEEP_PROBES)
    lv = ", ".join(str(p) for p in _SWEEP_PROBES)
    cosine = (
        "CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0"
        f" ELSE {dot.format(a='q.v', b='n.v')} / (nq.nrm * nn.nrm) END"
    )
    return (
        "\n    WITH "
        + ",\n    ".join(blocks)
        + f""",
    sc AS (
      SELECT e.vec_id, {cf}.cell,
             {dot.format(a='e.v', b=f'{cf}.c')} AS score
      FROM emb e CROSS JOIN {cf}
    ),
    ranked AS (
      SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
      FROM sc
    ),
    idx AS (SELECT vec_id AS nid, cell FROM ranked WHERE rn = 1),
    prb AS (
      SELECT vec_id AS qid, cell, rn AS prnk FROM ranked
      WHERE rn <= {max_p} AND vec_id % {_SWEEP_STRIDE} = 0
    ),
    nrm AS (
      SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
      FROM emb
    ),
    cand AS (
      SELECT p.qid, i.nid, p.prnk FROM prb p JOIN idx i USING (cell)
      WHERE p.qid <> i.nid
    ),
    lv AS (SELECT unnest([{lv}]) AS n_probe),
    ann AS (
      SELECT n_probe, qid, nid FROM (
        SELECT l.n_probe, c.qid, c.nid, row_number() OVER (
          PARTITION BY l.n_probe, c.qid
          ORDER BY {cosine} DESC, c.nid) AS rnk
        FROM cand c
        JOIN lv l ON c.prnk <= l.n_probe
        JOIN emb q ON q.vec_id = c.qid
        JOIN emb n ON n.vec_id = c.nid
        JOIN nrm nq ON nq.vec_id = c.qid
        JOIN nrm nn ON nn.vec_id = c.nid
      ) WHERE rnk <= {_SWEEP_K}
    ),
    bf AS (
      SELECT qid, nid FROM (
        SELECT q.vec_id AS qid, n.vec_id AS nid, row_number() OVER (
          PARTITION BY q.vec_id ORDER BY {cosine} DESC, n.vec_id) AS rnk
        FROM emb q
        JOIN emb n ON q.vec_id <> n.vec_id
        JOIN nrm nq ON nq.vec_id = q.vec_id
        JOIN nrm nn ON nn.vec_id = n.vec_id
        WHERE q.vec_id % {_SWEEP_STRIDE} = 0
      ) WHERE rnk <= {_SWEEP_K}
    )
    SELECT l.n_probe,
           COUNT(*) AS n_exact,
           CAST(SUM(CASE WHEN ann.nid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN ann.nid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT)::DOUBLE / COUNT(*) AS recall
    FROM lv l CROSS JOIN bf
    LEFT JOIN ann ON ann.n_probe = l.n_probe
                 AND ann.qid = bf.qid AND ann.nid = bf.nid
    GROUP BY l.n_probe
    ORDER BY l.n_probe
    """
    )


@oracle("sim_struct_pairs")
def _sim_struct_pairs_oracle() -> str:
    return f"""
    SELECT base.id_a,
           la.label AS label_a,
           base.id_b,
           lb.label AS label_b,
           base.sqdist AS dist
    FROM ({_lsh_sqdist_oracle(
        n_tables=10, bucket_length=1.0, seed=42, dim=EMB_DIM,
        threshold=SQDIST_THRESHOLD,
    )}) base
    JOIN embeddings la ON la.vec_id = base.id_a
    JOIN embeddings lb ON lb.vec_id = base.id_b
    """


@oracle("sim_mmr_topk")
def _mmr_oracle() -> str:
    cos_ab = (
        "list_sum(list_transform(list_zip({a}.embedding::DOUBLE[],"
        " {b}.embedding::DOUBLE[]), s -> s[1]*s[2]))"
        " / (sqrt(list_sum(list_transform({a}.embedding::DOUBLE[],"
        " x -> x*x)))"
        " * sqrt(list_sum(list_transform({b}.embedding::DOUBLE[],"
        " x -> x*x))))"
    )
    ctes = [
        "qv AS MATERIALIZED (SELECT embedding FROM embeddings"
        " WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings))",
        "cand AS MATERIALIZED (SELECT e.vec_id, "
        + cos_ab.format(a="e", b="q")
        + " AS rel FROM embeddings e, qv q"
        " WHERE e.vec_id <> (SELECT MIN(vec_id) FROM embeddings)"
        f" ORDER BY rel DESC, e.vec_id LIMIT {_MMR_POOL})",
        "pair AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib, "
        + cos_ab.format(a="ea", b="eb")
        + " AS s FROM cand a JOIN cand b ON a.vec_id <> b.vec_id"
        " JOIN embeddings ea ON ea.vec_id = a.vec_id"
        " JOIN embeddings eb ON eb.vec_id = b.vec_id)",
        "p1 AS MATERIALIZED (SELECT vec_id, rel, rel AS score FROM cand"
        " ORDER BY rel DESC, vec_id LIMIT 1)",
        "sel1 AS MATERIALIZED (SELECT 1 AS rank, vec_id, rel, score FROM p1)",
    ]
    for t in range(2, _MMR_K + 1):
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT c.vec_id, c.rel,"
            f" c.rel - {_MMR_LAM!r} * ("
            f"SELECT MAX(p.s) FROM pair p JOIN sel{t - 1} s"
            " ON p.ib = s.vec_id WHERE p.ia = c.vec_id) AS score"
            " FROM cand c WHERE c.vec_id NOT IN"
            f" (SELECT vec_id FROM sel{t - 1})"
            " ORDER BY score DESC, c.vec_id LIMIT 1)"
        )
        ctes.append(
            f"sel{t} AS MATERIALIZED (SELECT * FROM sel{t - 1} UNION ALL"
            f" SELECT {t}, vec_id, rel, score FROM p{t})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(rank AS INT) AS rank, vec_id,"
        f" rel AS relevance, score AS mmr_score FROM sel{_MMR_K}"
    )


@oracle("sim_maxscore_topk")
def _maxscore_oracle() -> str:
    return f"""
    WITH {_doc_wn_ctes(0.9)},
    ub AS (SELECT term, MAX(weight) AS ub FROM wn GROUP BY term),
    wq AS (SELECT id AS q, term, weight AS wq FROM wn
           WHERE id % {_MAXSCORE_QMOD} = 0),
    qt AS (SELECT q, wq.term, wq.wq, wq.wq * ub.ub AS c
           FROM wq JOIN ub USING (term)),
    qc AS (SELECT q, term,
                  SUM(c) OVER (PARTITION BY q ORDER BY c, term
                               ROWS UNBOUNDED PRECEDING) AS csum
           FROM qt),
    ess AS (SELECT q, term FROM qc WHERE csum >= {_MAXSCORE_THETA}),
    cand AS (SELECT DISTINCT e.q, wn.id AS d
             FROM ess e JOIN wn ON wn.term = e.term
             WHERE wn.id != e.q),
    sc AS (SELECT c.q, c.d,
                  ROUND(SUM(wq.wq * wd.weight), 9) AS score
           FROM cand c
           JOIN wq ON wq.q = c.q
           JOIN wn wd ON wd.id = c.d AND wd.term = wq.term
           GROUP BY 1, 2
           HAVING ROUND(SUM(wq.wq * wd.weight), 9) >= {_MAXSCORE_THETA})
    SELECT q, d, score, rnk FROM (
      SELECT q, d, score,
             ROW_NUMBER() OVER (PARTITION BY q
                                ORDER BY score DESC, d) AS rnk
      FROM sc
    ) WHERE rnk <= {_MAXSCORE_K}"""


def _flip(expr: str, j: str) -> str:
    """Bucket string ``expr`` with bit ``j`` flipped; NULL ``j`` flips
    nothing."""
    return (
        f"(CASE WHEN {j} IS NULL THEN {expr}"
        f" ELSE substr({expr}, 1, {j} - 1) ||"
        f" (CASE WHEN substr({expr}, {j}, 1) = '1' THEN '0' ELSE '1' END) ||"
        f" substr({expr}, {j} + 1, {_MP_BITS} - {j}) END)"
    )


# a probe set's bucket: b.bucket with its bits f.j1..f.j3 flipped
_MP_PROBE_BUCKET = _flip(_flip(_flip("b.bucket", "f.j1"), "f.j2"), "f.j3")


@oracle("sim_ann_multiprobe_lsh")
def _multiprobe_oracle() -> str:
    from fuzzy_item_matching_spark.operators.lsh import random_hyperplanes

    planes = random_hyperplanes(64, _MP_TABLES * _MP_BITS, _MP_SEED)
    buckets = []
    margins = []
    for t in range(_MP_TABLES):
        bits = " || ".join(
            "(CASE WHEN"
            f" ({_sql_plane_dot('embedding::DOUBLE[]', planes[t * _MP_BITS + b])})"
            " >= 0 THEN '1' ELSE '0' END)"
            for b in range(_MP_BITS)
        )
        buckets.append(
            f"      SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM embeddings"
        )
        margins.extend(
            f"      SELECT vec_id, {t} AS tbl, {b + 1} AS j,"
            f" abs({_sql_plane_dot('embedding::DOUBLE[]', planes[t * _MP_BITS + b])})"
            " AS m FROM embeddings"
            for b in range(_MP_BITS)
        )
    bkt = "\n      UNION ALL\n".join(buckets)
    mgn = "\n      UNION ALL\n".join(margins)
    norm = "sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))"
    pair_dot = (
        "list_sum(list_transform("
        "list_zip(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), s -> s[1]*s[2]))"
    )
    # Query-directed probe sets (Lv et al.): every 1/2/3-bit subset
    # scored by left-to-right margin sum, ranked by (score, j1, j2
    # NULLS FIRST, j3 NULLS FIRST) — the identical (score, subset
    # tuple) stable ranking the engine's argsort applies over the
    # identical fold-order dots — and the best _MP_PROBES spliced
    # into probe buckets by nested single-bit flips.
    return f"""
    WITH bkt AS (
{bkt}
    ),
    mgn AS (
{mgn}
    ),
    sets AS (
      SELECT vec_id, tbl, j AS j1, NULL::INT AS j2, NULL::INT AS j3,
             m AS s FROM mgn
      UNION ALL
      SELECT a.vec_id, a.tbl, a.j, b.j, NULL::INT, a.m + b.m
      FROM mgn a JOIN mgn b
        ON a.vec_id = b.vec_id AND a.tbl = b.tbl AND a.j < b.j
      UNION ALL
      SELECT a.vec_id, a.tbl, a.j, b.j, c.j, a.m + b.m + c.m
      FROM mgn a
      JOIN mgn b ON a.vec_id = b.vec_id AND a.tbl = b.tbl AND a.j < b.j
      JOIN mgn c ON b.vec_id = c.vec_id AND b.tbl = c.tbl AND b.j < c.j
    ),
    flips AS (
      SELECT vec_id, tbl, j1, j2, j3 FROM (
        SELECT vec_id, tbl, j1, j2, j3,
               row_number() OVER (
                 PARTITION BY vec_id, tbl
                 ORDER BY s, j1, j2 NULLS FIRST, j3 NULLS FIRST) AS r
        FROM sets
      ) WHERE r <= {_MP_PROBES}
    ),
    probes AS (
      SELECT vec_id, tbl, bucket AS probe FROM bkt
      UNION ALL
      SELECT b.vec_id, b.tbl, {_MP_PROBE_BUCKET} AS probe
      FROM bkt b JOIN flips f ON b.vec_id = f.vec_id AND b.tbl = f.tbl
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
      FROM probes x JOIN bkt y
        ON x.tbl = y.tbl AND x.probe = y.bucket AND x.vec_id <> y.vec_id
    ),
    norms AS (SELECT vec_id, {norm} AS nrm FROM embeddings),
    scored AS (
      SELECT c.qid, c.nid,
             CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0
                  ELSE {pair_dot} / (nq.nrm * nn.nrm) END AS cosine
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.qid
      JOIN embeddings n ON n.vec_id = c.nid
      JOIN norms nq ON nq.vec_id = c.qid
      JOIN norms nn ON nn.vec_id = c.nid
    )
    SELECT qid, nid, cosine, rnk FROM (
      SELECT qid, nid, cosine,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= {_MP_K}
    """


def _ms_sql_dim(d: int) -> str:
    """DuckDB: dim d of the md5 token embedding, from hex chars
    [1+4d, 4] — (v + 0.5)/65536 − 0.5 ∈ (−0.5, 0.5)."""
    return (
        f"((CAST(CAST('0x' || substr(h, {1 + 4 * d}, 4) AS BIGINT)"
        " AS DOUBLE) + 0.5) / 65536.0 - 0.5)"
    )


def _ms_norm_sql() -> str:
    return "sqrt(" + " + ".join(f"e{d}*e{d}" for d in range(_MS_DIMS)) + ")"


@oracle("sim_maxsim_topk")
def _ms_oracle() -> str:
    qrows = ", ".join(
        f"('{qid}', '{t}')" for qid, toks in _MS_QUERIES for t in toks
    )
    dims = ", ".join(f"{_ms_sql_dim(d)} AS e{d}" for d in range(_MS_DIMS))
    dot = " + ".join(f"d.e{i} * q.e{i}" for i in range(_MS_DIMS))
    return f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id,
                   unnest({_D_TOKENS.format(c="text")}) AS tok
            FROM documents)
    ),
    dh AS (SELECT doc_id, tok, md5(tok) AS h FROM dt),
    de0 AS (SELECT doc_id, tok, {dims} FROM dh),
    de AS (SELECT *, {_ms_norm_sql()} AS nrm FROM de0),
    qt AS (SELECT * FROM (VALUES {qrows}) AS t(query_id, tok)),
    qh AS (SELECT query_id, tok, md5(tok) AS h FROM qt),
    qe0 AS (SELECT query_id, tok, {dims} FROM qh),
    qe AS (SELECT *, {_ms_norm_sql()} AS nrm FROM qe0),
    mx AS (
      SELECT q.query_id, d.doc_id, q.tok,
             MAX(({dot}) / (d.nrm * q.nrm)) AS ms
      FROM de d CROSS JOIN qe q
      GROUP BY q.query_id, d.doc_id, q.tok
    ),
    sc AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(ms AS DECIMAL(38,18))) AS DOUBLE) AS score
      FROM mx GROUP BY query_id, doc_id
    ),
    rk AS (
      SELECT query_id, doc_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id)
                  AS BIGINT) AS rnk
      FROM sc
    )
    SELECT query_id, doc_id, score, rnk FROM rk WHERE rnk <= {_MS_TOPK}
    """


@oracle("sim_ann_graph_expand")
def _graph_expand_oracle() -> str:
    from fuzzy_item_matching_spark.operators.lsh import random_hyperplanes

    planes = random_hyperplanes(64, _GX_TABLES * _GX_BITS, _GX_SEED)
    buckets = []
    for t in range(_GX_TABLES):
        bits = " || ".join(
            "(CASE WHEN"
            f" ({_sql_plane_dot('embedding::DOUBLE[]', planes[t * _GX_BITS + b])})"
            " >= 0 THEN '1' ELSE '0' END)"
            for b in range(_GX_BITS)
        )
        buckets.append(
            f"      SELECT vec_id, {t} AS tbl, {bits} AS bucket"
            " FROM embeddings"
        )
    bkt = "\n      UNION ALL\n".join(buckets)
    norm = "sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))"
    pair_dot = (
        "list_sum(list_transform("
        "list_zip(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),"
        " s -> s[1]*s[2]))"
    )
    cos = f"""
      SELECT c.qid, c.nid,
             CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0
                  ELSE {pair_dot} / (nq.nrm * nn.nrm) END AS cosine
      FROM {{cand}} c
      JOIN embeddings q ON q.vec_id = c.qid
      JOIN embeddings n ON n.vec_id = c.nid
      JOIN norms nq ON nq.vec_id = c.qid
      JOIN norms nn ON nn.vec_id = c.nid
    """
    return f"""
    WITH bkt AS (
{bkt}
    ),
    idx AS (
      SELECT vec_id, tbl, bucket FROM (
        SELECT vec_id, tbl, bucket,
               row_number() OVER (PARTITION BY tbl, bucket
                                  ORDER BY vec_id) AS brn
        FROM bkt
      ) WHERE brn <= {_GX_CAP}
    ),
    cand0 AS (
      SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
      FROM bkt x JOIN idx y
        ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
    ),
    norms AS (SELECT vec_id, {norm} AS nrm FROM embeddings),
    gsc AS ({cos.format(cand="cand0")}),
    g AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               row_number() OVER (
                 PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rn
        FROM gsc
      ) WHERE rn <= {_GX_G}
    ),
    h1 AS (SELECT qid, nid FROM g WHERE qid % {_GX_PANEL} = 0),
    h2 AS (SELECT h1.qid, g2.nid FROM h1 JOIN g g2 ON g2.qid = h1.nid),
    cand AS (
      SELECT DISTINCT qid, nid
      FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
      WHERE qid <> nid
    ),
    scored AS ({cos.format(cand="cand")})
    SELECT qid, nid, cosine, rnk FROM (
      SELECT qid, nid, cosine,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INT)
               AS rnk
      FROM scored
    ) WHERE rnk <= {_GX_K}
    """


@oracle("sim_ann_probe_sensitivity")
def _probe_sensitivity_oracle() -> str:
    from fuzzy_item_matching_spark.operators.lsh import random_hyperplanes

    planes = random_hyperplanes(64, _MP_TABLES * _MP_BITS, _MP_SEED)
    buckets, margins = [], []
    for t in range(_MP_TABLES):
        bits = " || ".join(
            "(CASE WHEN"
            f" ({_sql_plane_dot('embedding::DOUBLE[]', planes[t * _MP_BITS + b])})"
            " >= 0 THEN '1' ELSE '0' END)"
            for b in range(_MP_BITS)
        )
        buckets.append(
            f"      SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM embeddings"
        )
        margins.extend(
            f"      SELECT vec_id, {t} AS tbl, {b + 1} AS j,"
            f" abs({_sql_plane_dot('embedding::DOUBLE[]', planes[t * _MP_BITS + b])})"
            " AS m FROM embeddings"
            for b in range(_MP_BITS)
        )
    bkt = "\n      UNION ALL\n".join(buckets)
    mgn = "\n      UNION ALL\n".join(margins)
    norm = "sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x)))"
    pair_dot = (
        "list_sum(list_transform("
        "list_zip(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),"
        " s -> s[1]*s[2]))"
    )

    arms = []
    for bud in _MP_BUDGETS:
        arms.append(f"""flips_{bud} AS (
      SELECT vec_id, tbl, j1, j2, j3 FROM ranked_sets WHERE r <= {bud}
    ),
    probes_{bud} AS (
      SELECT vec_id, tbl, bucket AS probe FROM bkt
      UNION ALL
      SELECT b.vec_id, b.tbl, {_MP_PROBE_BUCKET} AS probe
      FROM bkt b JOIN flips_{bud} f
        ON b.vec_id = f.vec_id AND b.tbl = f.tbl
    ),
    top_{bud} AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               CAST(row_number() OVER (
                 PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS INT)
                 AS rnk
        FROM (
          SELECT c.qid, c.nid,
                 CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0
                      ELSE {pair_dot} / (nq.nrm * nn.nrm) END AS cosine
          FROM (
            SELECT DISTINCT x.vec_id AS qid, y.vec_id AS nid
            FROM probes_{bud} x JOIN bkt y
              ON x.tbl = y.tbl AND x.probe = y.bucket
                 AND x.vec_id <> y.vec_id
          ) c
          JOIN embeddings q ON q.vec_id = c.qid
          JOIN embeddings n ON n.vec_id = c.nid
          JOIN norms nq ON nq.vec_id = c.qid
          JOIN norms nn ON nn.vec_id = c.nid
        )
      ) WHERE rnk <= {_MP_K}
    ),
    row_{bud} AS (
      SELECT CAST({bud} AS INT) AS probe_budget,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
             CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM exact e JOIN top_{bud} t ON e.qid = t.qid AND e.nid = t.nid
    )""")
    out = "\n    UNION ALL\n    ".join(
        f"SELECT probe_budget, n_exact, n_hits,"
        f" round(CAST(n_hits AS DOUBLE) / n_exact, 9) AS recall"
        f" FROM row_{bud}"
        for bud in _MP_BUDGETS
    )
    return f"""
    WITH bkt AS MATERIALIZED (
{bkt}
    ),
    mgn AS MATERIALIZED (
{mgn}
    ),
    ranked_sets AS MATERIALIZED (
      SELECT vec_id, tbl, j1, j2, j3,
             row_number() OVER (
               PARTITION BY vec_id, tbl
               ORDER BY s, j1, j2 NULLS FIRST, j3 NULLS FIRST) AS r
      FROM (
        SELECT vec_id, tbl, j AS j1, NULL::INT AS j2, NULL::INT AS j3,
               m AS s FROM mgn
        UNION ALL
        SELECT a.vec_id, a.tbl, a.j, b.j, NULL::INT, a.m + b.m
        FROM mgn a JOIN mgn b
          ON a.vec_id = b.vec_id AND a.tbl = b.tbl AND a.j < b.j
        UNION ALL
        SELECT a.vec_id, a.tbl, a.j, b.j, c.j, a.m + b.m + c.m
        FROM mgn a
        JOIN mgn b ON a.vec_id = b.vec_id AND a.tbl = b.tbl AND a.j < b.j
        JOIN mgn c ON b.vec_id = c.vec_id AND b.tbl = c.tbl AND b.j < c.j
      )
    ),
    norms AS MATERIALIZED (SELECT vec_id, {norm} AS nrm FROM embeddings),
    exact AS MATERIALIZED (
      SELECT qid, nid FROM (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
                   ELSE list_sum(list_transform(
                          list_zip(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]),
                          s -> s[1]*s[2])) / (na.nrm * nb.nrm) END DESC,
                   b.vec_id) AS rnk
        FROM embeddings a
        JOIN embeddings b ON a.vec_id <> b.vec_id
        JOIN norms na ON na.vec_id = a.vec_id
        JOIN norms nb ON nb.vec_id = b.vec_id
      ) WHERE rnk <= {_MP_K}
    ),
    {",".join(arms)}
    {out}
    """
