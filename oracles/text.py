"""Oracles of queries/text.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.text import _D_TOKENS, _UNI_PRUNE_TAU
from oracles import oracle
from oracles.unigram_lm import unigram_em_sql, unigram_viterbi_sql


@oracle("text_unigram_em")
def _unigram_oracle() -> str:
    return unigram_em_sql(
        f"SELECT {_D_TOKENS.format(c='text')} AS toks FROM documents"
    )


@oracle("text_unigram_segments")
def _unigram_viterbi_oracle() -> str:
    return unigram_viterbi_sql(
        f"SELECT {_D_TOKENS.format(c='text')} AS toks FROM documents"
    )


@oracle("text_unigram_prune")
def _unigram_prune_oracle() -> str:
    return f"""
    WITH em AS MATERIALIZED (SELECT * FROM ({_unigram_oracle()}) t),
    kept AS MATERIALIZED (
      SELECT piece, cnt, p1 FROM em
      WHERE len(piece) = 1 OR p1 >= {_UNI_PRUNE_TAU!r}
    ),
    tot AS (SELECT CAST(SUM(CAST(p1 AS DECIMAL(38,18))) AS DOUBLE) AS s
            FROM kept)
    SELECT piece, cnt, p1,
           round(p1 / tot.s, 9) AS p_pruned
    FROM kept, tot
    """
