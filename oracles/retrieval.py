"""Oracles of queries/retrieval.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.retrieval import (
    _BM25_B,
    _BM25_K,
    _BM25_K1,
    _BM25_TERMS,
    _FS_EM_INIT,
    _FS_EM_ITERS,
    _FS_FIELDS,
    _FS_M_TOK1,
    _FS_M_TOK2,
    _FS_M_TYPE,
    _FS_SCORE_TOP,
    _RRF_K,
    _RRF_QUERIES,
    _RRF_TOP,
)
from oracles import oracle
from oracles.text import _D_TOKENS


@oracle("sim_bm25_topk")
def _sim_bm25_topk_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    corp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
             FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}', '{_BM25_TERMS[2]}')
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    terms AS (
      SELECT tf.doc_id,
             ln((corp.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
               * ((tf.tf * {_BM25_K1 + 1.0}) /
                  (tf.tf + {_BM25_K1} * ({1.0 - _BM25_B} +
                   {_BM25_B} * dl.dl / corp.avgdl))) AS t
      FROM tf
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN corp
    )
    SELECT doc_id, n_terms, score FROM (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(CAST(t AS DECIMAL(38,18))) AS DOUBLE) AS score,
             row_number() OVER (
               ORDER BY CAST(SUM(CAST(t AS DECIMAL(38,18))) AS DOUBLE) DESC,
                        doc_id) AS rnk
      FROM terms GROUP BY doc_id
    ) WHERE rnk <= {_BM25_K}
    """


@oracle("serve_fs_linkage")
def _serve_fs_linkage_oracle() -> str:
    return f"""
    WITH p AS (
      SELECT p_partkey, p_brand, p_size,
             coalesce(p_type, '') AS f_type,
             split_part(coalesce(p_name, ''), ' ', 1) AS f_tok1,
             split_part(coalesce(p_name, ''), ' ', 2) AS f_tok2
      FROM part
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM p),
    u_type AS (SELECT SUM(c * (c - 1.0)) / (nn.n * (nn.n - 1.0)) AS u FROM
               (SELECT f_type, COUNT(*) AS c FROM p GROUP BY f_type), nn
               GROUP BY nn.n),
    u_tok1 AS (SELECT SUM(c * (c - 1.0)) / (nn.n * (nn.n - 1.0)) AS u FROM
               (SELECT f_tok1, COUNT(*) AS c FROM p GROUP BY f_tok1), nn
               GROUP BY nn.n),
    u_tok2 AS (SELECT SUM(c * (c - 1.0)) / (nn.n * (nn.n - 1.0)) AS u FROM
               (SELECT f_tok2, COUNT(*) AS c FROM p GROUP BY f_tok2), nn
               GROUP BY nn.n),
    pairs AS (
      SELECT a.p_partkey AS id1, b.p_partkey AS id2,
             CASE WHEN a.f_type = b.f_type THEN 1 ELSE 0 END AS agr_type,
             CASE WHEN a.f_tok1 = b.f_tok1 THEN 1 ELSE 0 END AS agr_tok1,
             CASE WHEN a.f_tok2 = b.f_tok2 THEN 1 ELSE 0 END AS agr_tok2
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
    )
    SELECT id1, id2, agr_type, agr_tok1, agr_tok2,
           CAST(
             CAST(CASE WHEN agr_type = 1 THEN ln({_FS_M_TYPE} / u_type.u)
                  ELSE ln({1.0 - _FS_M_TYPE} / (1.0 - u_type.u)) END
                  AS DECIMAL(38,18))
           + CAST(CASE WHEN agr_tok1 = 1 THEN ln({_FS_M_TOK1} / u_tok1.u)
                  ELSE ln({1.0 - _FS_M_TOK1} / (1.0 - u_tok1.u)) END
                  AS DECIMAL(38,18))
           + CAST(CASE WHEN agr_tok2 = 1 THEN ln({_FS_M_TOK2} / u_tok2.u)
                  ELSE ln({1.0 - _FS_M_TOK2} / (1.0 - u_tok2.u)) END
                  AS DECIMAL(38,18))
           AS DOUBLE) AS weight
    FROM pairs, u_type, u_tok1, u_tok2
    """


# Shared blocked-pair + agreement-pattern SQL (the serve_fs_linkage
# comparison space, compressed to ≤2^3 pattern rows before EM).
_FS_PAT_SQL = """
    p AS (
      SELECT p_partkey, p_brand, p_size,
             coalesce(p_type, '') AS f_type,
             split_part(coalesce(p_name, ''), ' ', 1) AS f_tok1,
             split_part(coalesce(p_name, ''), ' ', 2) AS f_tok2
      FROM part
    ),
    pat AS (
      SELECT CASE WHEN a.f_type = b.f_type THEN 1 ELSE 0 END AS g1,
             CASE WHEN a.f_tok1 = b.f_tok1 THEN 1 ELSE 0 END AS g2,
             CASE WHEN a.f_tok2 = b.f_tok2 THEN 1 ELSE 0 END AS g3,
             COUNT(*) AS n
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      GROUP BY 1, 2, 3
    )
"""


@oracle("serve_fs_em_fit")
def _fs_em_oracle() -> str:
    m, u, lam = _FS_EM_INIT
    parts = [
        "WITH" + _FS_PAT_SQL,
        f"""em0 AS (
      SELECT {m!r} AS m1, {m!r} AS m2, {m!r} AS m3,
             {u!r} AS u1, {u!r} AS u2, {u!r} AS u3, {lam!r} AS lam
    )""",
    ]
    for t in range(1, _FS_EM_ITERS + 1):
        pm = (
            "lam * (CASE WHEN g1 = 1 THEN m1 ELSE 1.0 - m1 END)"
            " * (CASE WHEN g2 = 1 THEN m2 ELSE 1.0 - m2 END)"
            " * (CASE WHEN g3 = 1 THEN m3 ELSE 1.0 - m3 END)"
        )
        pu = (
            "(1.0 - lam) * (CASE WHEN g1 = 1 THEN u1 ELSE 1.0 - u1 END)"
            " * (CASE WHEN g2 = 1 THEN u2 ELSE 1.0 - u2 END)"
            " * (CASE WHEN g3 = 1 THEN u3 ELSE 1.0 - u3 END)"
        )
        parts.append(f"""e{t} AS (
      SELECT g1, g2, g3, n, pm / (pm + pu) AS g
      FROM (SELECT pat.*, {pm} AS pm, {pu} AS pu FROM pat, em{t - 1})
    )""")
        dsum = "CAST(SUM(CAST({x} AS DECIMAL(38,18))) AS DOUBLE)"
        sg = dsum.format(x="n * g")
        sng = dsum.format(x="n * (1.0 - g)")
        ms = ", ".join(
            dsum.format(x=f"n * g * g{j}") + f" / {sg} AS m{j}"
            for j in (1, 2, 3)
        )
        us = ", ".join(
            dsum.format(x=f"n * (1.0 - g) * g{j}") + f" / {sng} AS u{j}"
            for j in (1, 2, 3)
        )
        parts.append(f"""em{t} AS (
      SELECT {ms}, {us},
             {sg} / CAST(SUM(n) AS DOUBLE) AS lam
      FROM e{t}
    )""")
    fin = f"em{_FS_EM_ITERS}"
    arms = " UNION ALL ".join(
        f"SELECT '{f}' AS field, round(m{j}, 9) AS m, round(u{j}, 9) AS u,"
        f" round(lam, 9) AS lam FROM {fin}"
        for j, f in enumerate(_FS_FIELDS, start=1)
    )
    return ",\n".join(parts) + "\n" + arms


@oracle("sim_blocking_eval")
def _blocking_eval_oracle() -> str:
    from oracles.similarity import (
        _fuzzy_part_oracle,
    )

    return f"""
    WITH truth AS MATERIALIZED (
      SELECT id_a, id_b FROM ({_fuzzy_part_oracle()}) t
    ),
    cand AS MATERIALIZED (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
    ),
    nn AS (SELECT COUNT(*) AS n FROM part),
    nt AS (SELECT COUNT(*) AS n_truth FROM truth),
    nc AS (SELECT COUNT(*) AS n_cand FROM cand),
    nh AS (SELECT COUNT(*) AS n_hit
           FROM truth SEMI JOIN cand
             ON truth.id_a = cand.id_a AND truth.id_b = cand.id_b)
    SELECT CAST(nt.n_truth AS BIGINT) AS n_truth,
           CAST(nc.n_cand AS BIGINT) AS n_cand,
           CAST(nh.n_hit AS BIGINT) AS n_hit,
           CASE WHEN nt.n_truth = 0 THEN 1.0
                ELSE CAST(nh.n_hit AS DOUBLE) / nt.n_truth
           END AS pairs_completeness,
           CASE WHEN nn.n < 2 THEN 1.0
                ELSE 1.0 - CAST(nc.n_cand AS DOUBLE)
                     / (CAST(nn.n AS DOUBLE) * (nn.n - 1.0) / 2.0)
           END AS reduction_ratio
    FROM nn, nt, nc, nh
    """


@oracle("sim_rrf_fusion")
def _rrf_oracle() -> str:
    q_rows = " UNION ALL ".join(
        f"SELECT '{qid}' AS qid, '{t}' AS term"
        for qid, terms in _RRF_QUERIES
        for t in terms
    )
    all_terms = sorted({t for _, ts in _RRF_QUERIES for t in ts})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    corp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
             FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ({in_list}) GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    qs AS ({q_rows}),
    terms AS (
      SELECT qs.qid, tf.doc_id,
             ln((corp.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
               * ((tf.tf * {_BM25_K1 + 1.0}) /
                  (tf.tf + {_BM25_K1} * ({1.0 - _BM25_B} +
                   {_BM25_B} * dl.dl / corp.avgdl))) AS t
      FROM qs
      JOIN tf USING (term)
      JOIN dfreq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN corp
    ),
    ranked AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY CAST(SUM(CAST(t AS DECIMAL(38,18))) AS DOUBLE)
                        DESC, doc_id) AS r
      FROM terms GROUP BY qid, doc_id
    ),
    fused AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_lists,
             CAST(SUM(CAST(1.0 / ({_RRF_K} + r) AS DECIMAL(38,18)))
                  AS DOUBLE) AS rrf
      FROM ranked GROUP BY doc_id
    )
    SELECT doc_id, n_lists, rrf FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rnk
      FROM fused
    ) WHERE rnk <= {_RRF_TOP}
    """


@oracle("serve_fs_em_scores")
def _fs_em_scores_oracle() -> str:
    fin = f"em{_FS_EM_ITERS}"
    w_terms = []
    for j, _f in enumerate(_FS_FIELDS, start=1):
        w_terms.append(
            f"CAST(CASE WHEN g{j} = 1 THEN ln(round(m{j}, 9)"
            f" / round(u{j}, 9))"
            f" ELSE ln((1.0 - round(m{j}, 9)) / (1.0 - round(u{j}, 9)))"
            f" END AS DECIMAL(38,18))"
        )
    em_ctes = _fs_em_oracle()
    # reuse the EM oracle's CTE chain; its final SELECT is replaced by
    # a pair-scoring tail, so wrap the whole statement as a CTE
    return f"""
    WITH fit AS MATERIALIZED (SELECT * FROM ({em_ctes}) t),
    p AS (
      SELECT p_partkey, p_brand, p_size,
             coalesce(p_type, '') AS f_type,
             split_part(coalesce(p_name, ''), ' ', 1) AS f_tok1,
             split_part(coalesce(p_name, ''), ' ', 2) AS f_tok2
      FROM part
    ),
    prm AS (
      SELECT MAX(CASE WHEN field = 'f_type' THEN m END) AS m1,
             MAX(CASE WHEN field = 'f_tok1' THEN m END) AS m2,
             MAX(CASE WHEN field = 'f_tok2' THEN m END) AS m3,
             MAX(CASE WHEN field = 'f_type' THEN u END) AS u1,
             MAX(CASE WHEN field = 'f_tok1' THEN u END) AS u2,
             MAX(CASE WHEN field = 'f_tok2' THEN u END) AS u3
      FROM fit
    ),
    pairs AS (
      SELECT a.p_partkey AS id1, b.p_partkey AS id2,
             CASE WHEN a.f_type = b.f_type THEN 1 ELSE 0 END AS g1,
             CASE WHEN a.f_tok1 = b.f_tok1 THEN 1 ELSE 0 END AS g2,
             CASE WHEN a.f_tok2 = b.f_tok2 THEN 1 ELSE 0 END AS g3
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
    )
    SELECT id1, id2, weight FROM (
      SELECT id1, id2,
             CAST({" + ".join(w_terms)} AS DOUBLE) AS weight,
             ROW_NUMBER() OVER (ORDER BY
               CAST({" + ".join(w_terms)} AS DOUBLE) DESC,
               id1 ASC, id2 ASC) AS rnk
      FROM pairs, prm
    ) WHERE rnk <= {_FS_SCORE_TOP}
    """


@oracle("serve_fs_match_curve")
def _fs_match_curve_oracle() -> str:
    em_ctes = _fs_em_oracle()
    # token-field weight only (m2/u2, m3/u3) — f_type is the HELD-OUT
    # truth, so it must not contribute to the score
    w_terms = []
    for j in (2, 3):
        w_terms.append(
            f"CAST(CASE WHEN g{j} = 1 THEN ln(round(m{j}, 9)"
            f" / round(u{j}, 9))"
            f" ELSE ln((1.0 - round(m{j}, 9)) / (1.0 - round(u{j}, 9)))"
            f" END AS DECIMAL(38,18))"
        )
    w = f"CAST({' + '.join(w_terms)} AS DOUBLE)"
    return f"""
    WITH fit AS MATERIALIZED (SELECT * FROM ({em_ctes}) t),
    p AS (
      SELECT p_partkey, p_brand, p_size,
             coalesce(p_type, '') AS f_type,
             split_part(coalesce(p_name, ''), ' ', 1) AS f_tok1,
             split_part(coalesce(p_name, ''), ' ', 2) AS f_tok2
      FROM part
    ),
    prm AS (
      SELECT MAX(CASE WHEN field = 'f_tok1' THEN m END) AS m2,
             MAX(CASE WHEN field = 'f_tok2' THEN m END) AS m3,
             MAX(CASE WHEN field = 'f_tok1' THEN u END) AS u2,
             MAX(CASE WHEN field = 'f_tok2' THEN u END) AS u3
      FROM fit
    ),
    pat AS MATERIALIZED (
      SELECT CASE WHEN a.f_tok1 = b.f_tok1 THEN 1 ELSE 0 END AS g2,
             CASE WHEN a.f_tok2 = b.f_tok2 THEN 1 ELSE 0 END AS g3,
             CASE WHEN a.f_type = b.f_type THEN 1 ELSE 0 END AS truth,
             COUNT(*) AS n
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      GROUP BY g2, g3, truth
    ),
    wt AS MATERIALIZED (
      SELECT {w} AS weight,
             CAST(SUM(CASE WHEN truth = 1 THEN n ELSE 0 END) AS BIGINT)
               AS pos,
             CAST(SUM(n) AS BIGINT) AS tot
      FROM pat, prm GROUP BY weight
    ),
    cum AS (
      SELECT weight,
             SUM(pos) OVER (ORDER BY weight DESC
                            ROWS UNBOUNDED PRECEDING) AS tp,
             SUM(tot) OVER (ORDER BY weight DESC
                            ROWS UNBOUNDED PRECEDING) AS n_pred,
             SUM(pos) OVER () AS all_pos
      FROM wt
    )
    SELECT round(weight, 9) AS weight,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(tp AS BIGINT) AS tp,
           round(tp * 1.0 / n_pred, 9) AS precision,
           CASE WHEN all_pos = 0 THEN 0.0
                ELSE round(tp * 1.0 / all_pos, 9) END AS recall,
           round(2.0 * tp / (n_pred + all_pos), 9) AS f1
    FROM cum ORDER BY weight DESC
    """
