"""Oracles of queries/serving.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.operators.lsh import random_hyperplanes
from fuzzy_item_matching_spark.queries.serving import (
    _E2E_BUCKET_CAP,
    _E2E_CAND_CAP,
    _E2E_FEATS,
    _E2E_ROUNDS,
)
from fuzzy_item_matching_spark.tables import EMB_DIM
from oracles import oracle
from oracles.boosting import best_froms, gb_score, gboost_ctes
from oracles.similarity import _sql_plane_dot


_D_SQD_SLICE = (
    "list_sum(list_transform("
    "list_zip((a.embedding::DOUBLE[])[{lo}:{hi}], (b.embedding::DOUBLE[])[{lo}:{hi}]),"
    " s -> (s[1]-s[2])*(s[1]-s[2])))"
)


@oracle("serve_match_score")
def _serve_match_score_oracle() -> str:
    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_D_SQD_SLICE.format(lo=1, hi=64)} AS full_sqd,
             {_D_SQD_SLICE.format(lo=1, hi=32)} AS head_sqd,
             {_D_SQD_SLICE.format(lo=33, hi=64)} AS tail_sqd
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND b.vec_id = a.vec_id + 1
    )
    SELECT id_a, id_b, full_sqd, head_sqd, tail_sqd,
           1.0 / (1.0 + full_sqd + head_sqd + tail_sqd) AS score
    FROM pairs
    """


@oracle("serve_pipeline_featurize")
def _serve_pipeline_featurize_oracle() -> str:
    return """
    WITH toks AS (
      SELECT p_partkey,
             list_filter(regexp_split_to_array(lower(p_name), '[^\\w\\d]'),
                         x -> length(x) >= 1) AS toks
      FROM part
    )
    SELECT p_partkey, len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct
    FROM toks
    """


@oracle("serve_vector_assembly")
def _serve_vector_assembly_oracle() -> str:
    return """
    SELECT p_partkey, 0 AS pos,
           CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS value,
           CASE WHEN p_retailprice IS NULL THEN 1 ELSE 0 END AS has_invalid
    FROM part
    UNION ALL
    SELECT p_partkey, 1 AS pos, CAST(p_size AS DOUBLE) AS value,
           CASE WHEN p_retailprice IS NULL THEN 1 ELSE 0 END AS has_invalid
    FROM part
    """


def _incremental_scoring_oracle(
    n_tables: int, bucket_length: float, seed: int, dim: int, threshold: float
) -> str:
    """SQL replica of the full incremental-scoring flow: MERGE →
    LSH candidate join → ensure_positives union → sqdist features →
    match_score → ordered limit. The LSH buckets replay the same
    seeded hyperplane literals as the Spark plan (see
    queries/similarity.py)."""
    from fuzzy_item_matching_spark.operators.lsh import random_hyperplanes
    from oracles.similarity import _sql_plane_dot

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
    cand AS (SELECT * FROM lsh_pairs UNION SELECT * FROM golden),
    feats AS (
      SELECT c.id_a, c.id_b,
             {sqd.format(lo=1, hi=dim)} AS full_sqd,
             {sqd.format(lo=1, hi=dim // 2)} AS head_sqd,
             {sqd.format(lo=dim // 2 + 1, hi=dim)} AS tail_sqd
      FROM cand c
      JOIN newitems a ON a.vec_id = c.id_a
      JOIN stored b ON b.vec_id = c.id_b
    )
    SELECT id_a, id_b, full_sqd, head_sqd, tail_sqd,
           1.0 / (1.0 + full_sqd + head_sqd + tail_sqd) AS score
    FROM feats
    ORDER BY score DESC, id_a, id_b
    LIMIT 100
    """


@oracle("serve_incremental_scoring")
def _serve_incremental_scoring_oracle() -> str:
    return _incremental_scoring_oracle(
        n_tables=10, bucket_length=1.0, seed=42, dim=EMB_DIM, threshold=1.5
    )


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


@oracle("serve_merge_upsert")
def _serve_merge_upsert_oracle() -> str:
    return """
    WITH source AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, c_name, c_nationkey, c_mktsegment,
             CAST(c_acctbal AS DECIMAL(18,2))
      FROM customer WHERE c_custkey % 100 = 0
    ),
    target AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal
      FROM customer
    ),
    merged AS (
      SELECT * FROM source
      UNION ALL
      SELECT t.* FROM target t ANTI JOIN source s USING (c_custkey)
    )
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(c_acctbal) AS DOUBLE) AS total_balance
    FROM merged GROUP BY c_mktsegment
    """


@oracle("serve_model_registry")
def _serve_model_registry_oracle() -> str:
    return """
    SELECT p_partkey,
           CAST(p_retailprice * 3 AS DOUBLE) AS score,
           2 AS prod_version,
           1 AS archived_version,
           2 AS n_versions
    FROM part WHERE p_partkey <= 3
    """
