"""Oracles of queries/serving.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.lsh import random_hyperplanes
from fuzzy_item_matching_spark.queries.serving import (
    _E2E_BUCKET_CAP,
    _E2E_CAND_CAP,
    _E2E_FEATS,
    _E2E_ROUNDS,
)
from fuzzy_item_matching_spark.queries.similarity import _sql_plane_dot
from oracles import oracle
from oracles.boosting import best_froms, gb_score, gboost_ctes


def _e2e_pairs_sql(
    n_tables: int, bucket_length: float, seed: int, dim: int, threshold: float
) -> str:
    """The labeled-pair CTE chain of the end-to-end flow: MERGE →
    LSH candidate join → golden union → left-join labeling →
    full/head/tail squared distances. Shared structure with
    _incremental_scoring_oracle; the output SELECT exposes exactly
    what a booster fit needs (id_a, id_b, label, features)."""
    planes = random_hyperplanes(dim, n_tables, seed)

    def bkt(src: str) -> str:
        return "\n      UNION ALL\n".join(
            f"      SELECT vec_id, {t} AS tbl,"
            f" CAST(floor(({_sql_plane_dot('emb', p)})"
            f" / {bucket_length!r}) AS BIGINT) AS bucket FROM {src}"
            for t, p in enumerate(planes)
        )

    sqd = (
        "list_sum(list_transform(list_zip(a.emb[{lo}:{hi}], b.emb[{lo}:{hi}]),"
        " s -> (s[1]-s[2])*(s[1]-s[2])))"
    )
    return f"""
    WITH upd AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[], x -> x * 1.1::DOUBLE) AS emb
      FROM embeddings WHERE vec_id % 7 = 0
    ),
    ins AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(embedding::DOUBLE[], x -> x * 0.9::DOUBLE) AS emb
      FROM embeddings WHERE vec_id % 9 = 0
    ),
    src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
    tgt AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    merged AS (
      SELECT * FROM src
      UNION ALL
      SELECT t.* FROM tgt t ANTI JOIN src s USING (vec_id)
    ),
    newitems AS (SELECT * FROM merged WHERE vec_id >= 1000000),
    stored AS (SELECT * FROM merged WHERE vec_id < 1000000),
    nb AS (
{bkt('newitems')}
    ),
    sb AS (
      SELECT vec_id, tbl, bucket FROM (
        SELECT vec_id, tbl, bucket,
               row_number() OVER (PARTITION BY tbl, bucket
                                  ORDER BY vec_id) AS brn
        FROM (
{bkt('stored')}
        )
      ) WHERE brn <= {_E2E_BUCKET_CAP}
    ),
    lsh_cand AS (
      SELECT DISTINCT n.vec_id AS id_a, s.vec_id AS id_b
      FROM nb n JOIN sb s ON n.tbl = s.tbl AND n.bucket = s.bucket
    ),
    lsh_pairs AS (
      SELECT id_a, id_b FROM (
        SELECT c.id_a, c.id_b,
               row_number() OVER (
                 PARTITION BY c.id_a
                 ORDER BY {sqd.format(lo=1, hi=dim)}, c.id_b) AS crn
        FROM lsh_cand c
        JOIN newitems a ON a.vec_id = c.id_a
        JOIN stored b ON b.vec_id = c.id_b
        WHERE {sqd.format(lo=1, hi=dim)} <= {threshold}
      ) WHERE crn <= {_E2E_CAND_CAP}
    ),
    golden AS (
      SELECT vec_id + 1000000 AS id_a, vec_id AS id_b
      FROM embeddings WHERE vec_id % 9 = 0
    ),
    cand AS (SELECT * FROM lsh_pairs UNION SELECT * FROM golden)
    SELECT c.id_a, c.id_b,
           CASE WHEN g.id_a IS NOT NULL THEN 1 ELSE 0 END AS label,
           {sqd.format(lo=1, hi=dim)} AS full_sqd,
           {sqd.format(lo=1, hi=dim // 2)} AS head_sqd,
           {sqd.format(lo=dim // 2 + 1, hi=dim)} AS tail_sqd
    FROM cand c
    JOIN newitems a ON a.vec_id = c.id_a
    JOIN stored b ON b.vec_id = c.id_b
    LEFT JOIN golden g ON g.id_a = c.id_a AND g.id_b = c.id_b
    """


@oracle("serve_end_to_end")
def _end_to_end_oracle() -> str:
    """Fit replay + scoring through the fitted best{t} CTEs + the
    total-order top-k, all over the labeled-pair chain above — the
    gboost_score_sql pattern with the label and registry-evidence
    columns carried through."""
    pairs_sql = _e2e_pairs_sql(
        n_tables=10, bucket_length=1.0, seed=42, dim=64, threshold=1.5
    )
    ctes, _ = gboost_ctes(pairs_sql, _E2E_FEATS, rounds=_E2E_ROUNDS)
    return (
        ctes
        + f"""
    SELECT id_a, id_b, label, score,
           CASE WHEN score > 0 THEN 1 ELSE 0 END AS pred,
           1 AS prod_version, 1 AS n_versions
    FROM (
      SELECT id_a, id_b, label, {gb_score(_E2E_FEATS, _E2E_ROUNDS)} AS score
      FROM {best_froms(_E2E_ROUNDS)}
    ) ORDER BY score DESC, id_a ASC, id_b ASC LIMIT 20"""
    )
