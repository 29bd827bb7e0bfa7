"""Oracles of queries/text.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.functions.text import ENGLISH_STOPWORDS
from fuzzy_item_matching_spark.queries.text import (
    _BPE_B_C,
    _BPE_B_K,
    _BPE_B_ROUNDS,
    _BPE_FIT_ITERS,
    _BPE_MERGES,
    _BPE_PASSES,
    _UNI_PRUNE_TAU,
)
from oracles import oracle
from oracles.unigram_lm import unigram_em_sql, unigram_viterbi_sql


# DuckDB mirror of regex_tokenize(col): same regex, same empty-filter.
# coalesce mirrors regex_tokenize's null normalization (reference
# `01_Feature Engineering.py:147,155`): null text -> empty token list.
_D_TOKENS = (
    "list_filter(regexp_split_to_array(lower(coalesce({c}, '')), '[^\\w\\d]'),"
    " x -> length(x) >= 1)"
)

# The identical 181-word list, SQL-quoted (apostrophes doubled).
_D_STOPWORDS = "[" + ", ".join(
    "'" + w.replace("'", "''") + "'" for w in ENGLISH_STOPWORDS
) + "]"


@oracle("text_tokens")
def _text_tokens_oracle() -> str:
    return f"""
    SELECT doc_id,
           array_to_string({_D_TOKENS.format(c="text")}, '|') AS tokens_str,
           len({_D_TOKENS.format(c="text")}) AS n_tokens
    FROM documents
    """


@oracle("text_stop_filtered")
def _text_stop_filtered_oracle() -> str:
    return f"""
    SELECT doc_id,
           array_to_string(
             list_filter({_D_TOKENS.format(c="text")},
                         t -> NOT list_contains({_D_STOPWORDS}, t)), '|') AS kept_str,
           len({_D_TOKENS.format(c="text")})
             - len(list_filter({_D_TOKENS.format(c="text")},
                               t -> NOT list_contains({_D_STOPWORDS}, t))) AS n_stopwords
    FROM documents
    """


@oracle("text_char_3grams")
def _text_char_3grams_oracle() -> str:
    return f"""
    SELECT p_partkey,
           array_to_string(
             flatten(list_transform({_D_TOKENS.format(c="p_name")},
               w -> list_transform(generate_series(1, greatest(length(w)-2, 0)),
                                   i -> w[i:i+2]))), '|') AS grams_str
    FROM part
    """


@oracle("text_word_2grams")
def _text_word_2grams_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {_D_TOKENS.format(c="text")} AS toks FROM documents)
    SELECT doc_id,
           array_to_string(
             list_transform(generate_series(1, greatest(len(toks)-1, 0)),
                            i -> toks[i] || ' ' || toks[i+1]), '|') AS bigrams_str
    FROM t
    """


@oracle("text_hashed_tf")
def _text_hashed_tf_oracle() -> str:
    return f"""
    SELECT doc_id,
           CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 1024 AS bucket,
           COUNT(*) AS tf
    FROM (SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS t FROM documents)
    GROUP BY doc_id, bucket
    """


@oracle("text_levenshtein_pairs")
def _text_levenshtein_pairs_oracle() -> str:
    return """
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    """


def _bpe_sql(word_expr: str) -> str:
    """DuckDB expression applying the merge table to one word: chars
    spaced out, then the ranked replaces — space-padded so a pair only
    matches at SYMBOL boundaries (plain substring replace would corrupt
    an adjacent multi-char symbol: pair (a,n) must not split 'va n')."""
    s = f"' ' || trim(regexp_replace({word_expr}, '(.)', '\\1 ', 'g')) || ' '"
    for a, b in _BPE_MERGES:
        for _ in range(_BPE_PASSES):
            s = f"replace({s}, ' {a} ', ' {b} ')"
    return f"trim({s})"


@oracle("text_bpe_segments")
def _text_bpe_segments_oracle() -> str:
    return f"""
    WITH words AS (
      SELECT unnest({_D_TOKENS.format(c="text")}) AS w FROM documents
    ),
    seg AS (
      SELECT unnest(string_split({_bpe_sql("w")}, ' ')) AS segment
      FROM words
    )
    SELECT segment, COUNT(*) AS n FROM seg GROUP BY segment
    """


@oracle("text_bpe_fit")
def _bpe_fit_oracle() -> str:
    """Generate the unrolled-iteration DuckDB twin of the BPE fit:
    each level recomputes boundary pairs over the current segmentation,
    picks the argmax (count DESC, pair ASC), and applies it via the
    same padded {p}-pass replace — the merge arriving through a one-row
    cross join instead of a driver collect (same unrolled-loop oracle
    technique as the IVF Lloyd refinement, queries/similarity.py)."""
    parts = [
        """
    WITH v0 AS (
      SELECT w, COUNT(*) AS wc FROM (
        SELECT unnest({toks}) AS w FROM documents
      ) GROUP BY w
    ),
    seg0 AS (
      SELECT w, wc,
             ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s
      FROM v0
    )""".format(toks=_D_TOKENS.format(c="text"))
    ]
    for k in range(1, _BPE_FIT_ITERS + 1):
        apply_s = "s"
        for _ in range(_BPE_PASSES):
            apply_s = (
                f"replace({apply_s}, ' ' || b.p || ' ',"
                f" ' ' || replace(b.p, ' ', '') || ' ')"
            )
        parts.append(f"""
    pairs{k} AS (
      SELECT p, SUM(wc) AS cnt FROM (
        SELECT wc,
               unnest(list_transform(generate_series(1, len(a) - 1),
                      i -> a[i] || ' ' || a[i + 1])) AS p
        FROM (SELECT wc, string_split(trim(s), ' ') AS a FROM seg{k - 1})
      ) GROUP BY p
    ),
    best{k} AS (
      SELECT CAST({k} AS INT) AS rank, p, CAST(cnt AS BIGINT) AS cnt
      FROM pairs{k} ORDER BY cnt DESC, p ASC LIMIT 1
    ),
    seg{k} AS (
      SELECT w, wc, {apply_s} AS s FROM seg{k - 1}, best{k} b
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM best{k}" for k in range(1, _BPE_FIT_ITERS + 1)
    )
    parts.append(f"""
    SELECT rank, p AS pair, replace(p, ' ', '') AS merged, cnt
    FROM ({union})""")
    return ",".join(parts[:1]) + "," + ",".join(parts[1:-1]) + parts[-1]


@oracle("text_jaro_winkler_pairs")
def _text_jaro_winkler_pairs_oracle() -> str:
    return """
    SELECT id_a, id_b, jw FROM (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             jaro_winkler_similarity(a.p_name, b.p_name) AS jw
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
    ) WHERE jw >= 0.88
    """


@oracle("text_bpe_fit_batched")
def _bpe_batched_oracle() -> str:
    """Unrolled DuckDB twin of the batched fit. Per round: pair counts
    → a top-C shortlist (total order: cnt DESC, pair ASC) → greedy
    non-overlap selection unrolled as K chained LIMIT-1 CTEs (candidate
    excluded iff it shares a symbol with any earlier selection this
    round) → all K merges applied through one pivoted scalar row.
    COALESCE(chr(1)) turns unused selection slots into no-op replaces."""
    parts = [
        """
    WITH v0 AS MATERIALIZED (
      SELECT w, COUNT(*) AS wc FROM (
        SELECT unnest({toks}) AS w FROM documents
      ) GROUP BY w
    ),
    seg0 AS MATERIALIZED (
      SELECT w, wc,
             ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s
      FROM v0
    )""".format(toks=_D_TOKENS.format(c="text"))
    ]
    arms = []
    for r in range(1, _BPE_B_ROUNDS + 1):
        parts.append(f"""
    pairs{r} AS MATERIALIZED (
      SELECT p, SUM(wc) AS cnt FROM (
        SELECT wc,
               unnest(list_transform(generate_series(1, len(a) - 1),
                      i -> a[i] || ' ' || a[i + 1])) AS p
        FROM (SELECT wc, string_split(trim(s), ' ') AS a FROM seg{r - 1})
      ) GROUP BY p
    ),
    top{r} AS MATERIALIZED (
      SELECT p, CAST(cnt AS BIGINT) AS cnt,
             string_split(p, ' ')[1] AS ls, string_split(p, ' ')[2] AS rs
      FROM pairs{r} ORDER BY cnt DESC, p ASC LIMIT {_BPE_B_C}
    )""")
        prev: list[str] = []
        for k in range(1, _BPE_B_K + 1):
            if prev:
                prior = " UNION ALL ".join(
                    f"SELECT ls, rs FROM {c}" for c in prev
                )
                guard = f"""
      WHERE NOT EXISTS (
        SELECT 1 FROM ({prior}) s
        WHERE s.ls IN (t.ls, t.rs) OR s.rs IN (t.ls, t.rs)
      )"""
            else:
                guard = ""
            parts.append(f"""
    sel{r}_{k} AS MATERIALIZED (
      SELECT {k} AS sel, p, cnt, ls, rs FROM top{r} t{guard}
      ORDER BY cnt DESC, p ASC LIMIT 1
    )""")
            prev.append(f"sel{r}_{k}")
        chosen_union = " UNION ALL ".join(f"SELECT * FROM {c}" for c in prev)
        piv_cols = ", ".join(
            f"MAX(CASE WHEN sel = {k} THEN p END) AS p{k}"
            for k in range(1, _BPE_B_K + 1)
        )
        apply_s = "s"
        for k in range(1, _BPE_B_K + 1):
            pk = f"COALESCE(b.p{k}, chr(1))"
            for _ in range(_BPE_PASSES):
                apply_s = (
                    f"replace({apply_s}, ' ' || {pk} || ' ',"
                    f" ' ' || replace({pk}, ' ', '') || ' ')"
                )
        parts.append(f"""
    chosen{r} AS MATERIALIZED ({chosen_union}),
    piv{r} AS MATERIALIZED (SELECT {piv_cols} FROM chosen{r}),
    seg{r} AS MATERIALIZED (SELECT w, wc, {apply_s} AS s FROM seg{r - 1}, piv{r} b)""")
        arms.append(
            f"SELECT CAST({r} AS INT) AS round, CAST(sel AS INT) AS sel,"
            f" p AS pair, replace(p, ' ', '') AS merged, cnt FROM chosen{r}"
        )
    return ",".join(parts) + " " + " UNION ALL ".join(arms)


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


def _skeleton_sql(col: str) -> str:
    """DuckDB consonant skeleton of a multi-word string: per word,
    first letter + vowel-class-stripped remainder, '_'-joined."""
    return (
        f"array_to_string(list_transform(string_split(lower({col}), ' '),"
        " w -> substr(w, 1, 1)"
        " || regexp_replace(substr(w, 2), '[aeiouhwy]', '', 'g')), '_')"
    )


@oracle("text_phonetic_blocking")
def _text_phonetic_blocking_oracle() -> str:
    return f"""
    WITH k AS (
      SELECT p_partkey, p_name, {_skeleton_sql("p_name")} AS block_key
      FROM part
    ),
    b AS (
      SELECT block_key,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_names,
             CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_cand_pairs
      FROM k GROUP BY block_key
    )
    SELECT block_key, n_parts, n_names, n_cand_pairs
    FROM b WHERE n_parts > 1
    """
