"""Oracles of queries/textstats.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.textstats import (
    _ANB_K,
    _BD_TOP,
    _BPE_RE,
    _BP_MIN_DOCS,
    _BP_N,
    _BP_TOPK,
    _BUDGET_ROUNDS,
    _BURST_TOP,
    _CHI2_K,
    _CHI2_MIN_DF,
    _CMS_D,
    _CMS_W,
    _COV_ROUNDS,
    _DOREMI_ETA,
    _DOREMI_ITERS,
    _DSIR_B,
    _DSIR_Q,
    _DSIR_TGT,
    _FA_QUALITY_MIN,
    _FUNNEL_BUDGET,
    _FUNNEL_MIN_Q,
    _GOPHER_DUP_BG_MAX,
    _GOPHER_TOP_BG_MAX,
    _HLL_NUM,
    _HLL_POW61,
    _KJ_K,
    _KMV_K,
    _KN_D,
    _KN_MIN,
    _KN_Q,
    _LANG_LEXICONS,
    _MASK_PROMPT,
    _MI_K,
    _MI_MIN_DF,
    _OOV_VOCAB,
    _PACK_BUDGET,
    _PACK_SHARDS,
    _PII_NUM,
    _PII_PHONE,
    _PMI_MIN_PAIR,
    _PREF_K,
    _RAG_S,
    _RAG_W,
    _RAKE_MAXLEN,
    _RAKE_TOPK,
    _SP_THETA,
    _SP_TOPK,
    _TR_DAMP,
    _TR_ITERS,
    _TR_MINLEN,
    _TR_TOPK,
    _VC_SIZES,
    _WLM_MIN_COUNT,
    _ZIPF_K,
)
from oracles import ORACLES, oracle
from oracles.text import _D_STOPWORDS, _D_TOKENS


@oracle("ts_tfidf_weights")
def _ts_tfidf_weights_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
      FROM (SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS term FROM documents)
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM tf),
    idf AS (SELECT term, ln((n + 1.0) / (df + 1.0)) AS idf FROM dfreq, nd),
    w AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS weight
          FROM tf JOIN idf USING (term)),
    nrm AS (SELECT doc_id, sqrt(SUM(weight * weight)) AS nrm FROM w GROUP BY doc_id)
    SELECT w.doc_id, w.term,
           CASE WHEN nrm.nrm = 0 THEN w.weight ELSE w.weight / nrm.nrm END AS weight
    FROM w JOIN nrm USING (doc_id)
    """


@oracle("ts_token_stats")
def _ts_token_stats_oracle() -> str:
    return f"""
    SELECT term, COUNT(*) AS df, CAST(SUM(c) AS BIGINT) AS total_tf
    FROM (
      SELECT doc_id, term, COUNT(*) AS c
      FROM (SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS term FROM documents)
      GROUP BY doc_id, term
    ) GROUP BY term
    """


@oracle("ts_doc_quality")
def _ts_doc_quality_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             {_D_TOKENS.format(c="text")} AS toks,
             list_filter({_D_TOKENS.format(c="text")},
                         x -> NOT list_contains({_D_STOPWORDS}, x)) AS kept
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE list_sum(list_transform(toks, x -> length(x)::DOUBLE)) / len(toks)
           END AS avg_token_len,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE (len(toks) - len(kept))::DOUBLE / len(toks)
           END AS stopword_ratio,
           least(len(toks), 200) / 200.0 * 0.5
             + CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE (len(toks) - len(kept))::DOUBLE / len(toks) END * 0.2
             + least(CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE list_sum(list_transform(toks, x -> length(x)::DOUBLE))
                               / len(toks) END, 8.0) / 8.0 * 0.3 AS quality
    FROM t
    """


def _duck_lang_hits(lex: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in lex) + "]"
    return f"len(list_filter(toks, t -> list_contains({arr}, t)))"


@oracle("ts_lang_id")
def _ts_lang_id_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {_D_TOKENS.format(c="text")} AS toks FROM documents),
    h AS (
      SELECT doc_id, len(toks) AS n,
             {_duck_lang_hits(_LANG_LEXICONS["en"])} AS h_en,
             {_duck_lang_hits(_LANG_LEXICONS["de"])} AS h_de,
             {_duck_lang_hits(_LANG_LEXICONS["fr"])} AS h_fr,
             {_duck_lang_hits(_LANG_LEXICONS["es"])} AS h_es
      FROM t
    )
    SELECT doc_id,
           CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'unknown'
                WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
                WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
                WHEN h_fr >= h_es THEN 'fr'
                ELSE 'es' END AS lang_guess,
           CASE WHEN n = 0 THEN 0.0
                ELSE greatest(h_en, h_de, h_fr, h_es)::DOUBLE / n END AS confidence
    FROM h
    """


@oracle("ts_fingerprint")
def _ts_fingerprint_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {_D_TOKENS.format(c="text")} AS toks FROM documents)
    SELECT doc_id,
           md5(array_to_string(toks, ' ')) AS exact_fp,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS content_fp
    FROM t
    """


@oracle("ts_token_counts")
def _ts_token_counts_oracle() -> str:
    return f"""
    SELECT doc_id,
           CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r]+|[ \\t\\n\\r]+$', '', 'g')) = 0 THEN 0
                ELSE len(string_split_regex(
                       regexp_replace(text, '^[ \\t\\n\\r]+|[ \\t\\n\\r]+$', '', 'g'),
                       '[ \\t\\n\\r]+'))
           END AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_pieces,
           CASE WHEN len(regexp_extract_all(text, '{_BPE_RE}')) = 0 THEN 0.0
                ELSE n_chars::DOUBLE / len(regexp_extract_all(text, '{_BPE_RE}'))
           END AS chars_per_piece
    FROM documents
    """


def _corpus_clean_oracle(min_quality: float) -> str:
    """Composed corpus-cleaning oracle: lang-ID → quality filter →
    near-dup drop (word-3-gram jaccard ≥ 0.5 vs any earlier survivor)
    → token-budget count, each stage the same SQL fragment already
    proven exact by its standalone query's oracle."""
    from oracles.dedup import _D_SHINGLES

    toks = _D_TOKENS.format(c="text")
    return f"""
    WITH t AS (
      SELECT doc_id, text, {toks} AS toks FROM documents
    ),
    feat AS (
      SELECT doc_id, text, toks, len(toks) AS n,
             len(list_filter(toks, x -> NOT list_contains({_D_STOPWORDS}, x))) AS nk,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, x -> length(x)::DOUBLE))
                       / len(toks) END AS avg_len,
             {_duck_lang_hits(_LANG_LEXICONS["en"])} AS h_en,
             {_duck_lang_hits(_LANG_LEXICONS["de"])} AS h_de,
             {_duck_lang_hits(_LANG_LEXICONS["fr"])} AS h_fr,
             {_duck_lang_hits(_LANG_LEXICONS["es"])} AS h_es
      FROM t
    ),
    scored AS (
      SELECT doc_id, text,
             least(n, 200) / 200.0 * 0.5
               + CASE WHEN n = 0 THEN 0.0 ELSE (n - nk)::DOUBLE / n END * 0.2
               + least(avg_len, 8.0) / 8.0 * 0.3 AS quality,
             CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'unknown'
                  WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
                  WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
                  WHEN h_fr >= h_es THEN 'fr'
                  ELSE 'es' END AS lang_guess
      FROM feat
    ),
    surv AS (
      SELECT doc_id, text, quality FROM scored
      WHERE lang_guess = 'en' AND quality >= {min_quality!r}
    ),
    sh AS (SELECT doc_id, unnest({_D_SHINGLES}) AS g FROM surv),
    sizes AS (SELECT doc_id, COUNT(*) AS sn FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    dups AS (
      SELECT DISTINCT id_b FROM inter
      JOIN sizes x ON inter.id_a = x.doc_id
      JOIN sizes y ON inter.id_b = y.doc_id
      WHERE i::DOUBLE / (x.sn + y.sn - i) >= 0.5
    )
    SELECT s.doc_id, s.quality,
           len(regexp_extract_all(s.text, '{_BPE_RE}')) AS n_pieces
    FROM surv s WHERE s.doc_id NOT IN (SELECT id_b FROM dups)
    """


@oracle("pipe_corpus_clean")
def _pipe_corpus_clean_oracle() -> str:
    return _corpus_clean_oracle(min_quality=0.3)


@oracle("ts_seq_packing")
def _ts_seq_packing_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             len({_D_TOKENS.format(c="text")}) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS end_tok
      FROM t
    )
    SELECT shard,
           CAST(floor((end_tok - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY shard, seq_id
    """


@oracle("ts_loss_mask")
def _ts_loss_mask_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             len({_D_TOKENS.format(c="text")}) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS end_tok
      FROM t
    )
    SELECT shard,
           CAST(floor((end_tok - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           doc_id,
           CAST((end_tok - n_tokens) - CAST(floor(
             (end_tok - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
             * {_PACK_BUDGET} AS BIGINT) AS start_off,
           CAST((end_tok - n_tokens) - CAST(floor(
             (end_tok - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
             * {_PACK_BUDGET}
             + least(n_tokens, {_MASK_PROMPT}) AS BIGINT) AS loss_from,
           CAST((end_tok - n_tokens) - CAST(floor(
             (end_tok - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
             * {_PACK_BUDGET} + n_tokens AS BIGINT) AS end_off,
           CAST(greatest(n_tokens - {_MASK_PROMPT}, 0) AS BIGINT) AS n_loss
    FROM c
    """


@oracle("ts_redact_pii")
def _ts_redact_pii_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT c_custkey, c_name, c_nationkey,
             lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS ds
      FROM customer
    ),
    t AS (
      SELECT c_custkey,
             c_name || ' call ' || substr(ds, 1, 2) || '-' || substr(ds, 3, 3)
               || '-' || substr(ds, 6, 3) || '-' || substr(ds, 9, 4)
               || ' ref ' || CAST(c_nationkey AS VARCHAR) AS note
      FROM d
    ),
    p AS (
      SELECT c_custkey,
             len(regexp_extract_all(note, '{_PII_PHONE}')) AS n_phones,
             regexp_replace(note, '{_PII_PHONE}', '<PHONE>', 'g') AS s1
      FROM t
    )
    SELECT c_custkey, n_phones,
           len(regexp_extract_all(s1, '{_PII_NUM}')) AS n_numbers,
           regexp_replace(s1, '{_PII_NUM}', '<NUM>', 'g') AS clean_note
    FROM p
    """


# SQL twin of functions.sampling.keyed_uniform (seed 42) — the same
# macro queries/sources.py embeds for the keyed sample/split oracles.
_D_U42 = (
    "(CAST(CAST('0x' || substr(md5('42:' || CAST({key} AS VARCHAR)), 1, 8)"
    " AS BIGINT) AS DOUBLE) / 4294967296.0)"
)


@oracle("ts_corpus_shuffle")
def _ts_corpus_shuffle_oracle() -> str:
    return f"""
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY {_D_U42.format(key="doc_id")}, doc_id) AS BIGINT)
             AS shuffle_pos
    FROM documents
    """


@oracle("ts_repetition")
def _ts_repetition_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, {_D_TOKENS.format(c="text")} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, toks,
             list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
      FROM t
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE (len(toks) - len(list_distinct(toks)))::DOUBLE / len(toks)
           END AS dup_token_frac,
           CASE WHEN len(grams) = 0 THEN 0.0
                ELSE (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)
           END AS dup_3gram_frac,
           (CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE (len(toks) - len(list_distinct(toks)))::DOUBLE / len(toks)
            END > 0.3
            OR
            CASE WHEN len(grams) = 0 THEN 0.0
                 ELSE (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)
            END > 0.2) AS flagged
    FROM g
    """


@oracle("ts_distinct_kmv")
def _ts_distinct_kmv_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT DISTINCT {_D_U42.format(key="g")} AS u
      FROM (
        SELECT unnest(list_distinct(list_transform(
          generate_series(1, greatest(len({_D_TOKENS.format(c="text")}) - 2, 0)),
          i -> {_D_TOKENS.format(c="text")}[i] || ' '
               || {_D_TOKENS.format(c="text")}[i+1] || ' '
               || {_D_TOKENS.format(c="text")}[i+2]))) AS g
        FROM documents
      )
    ),
    kset AS (SELECT u FROM t ORDER BY u LIMIT {_KMV_K}),
    m AS (SELECT MAX(u) AS uk, COUNT(*) AS kk FROM kset),
    e AS (SELECT COUNT(*) AS exact_distinct FROM t)
    SELECT e.exact_distinct,
           CASE WHEN m.kk < {_KMV_K} THEN e.exact_distinct::DOUBLE
                ELSE (m.kk - 1) / m.uk END AS kmv_estimate
    FROM e, m
    """


@oracle("ts_hll_distinct")
def _ts_hll_distinct_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT source, {_D_TOKENS.format(c="text")} AS t FROM documents
    ),
    sh AS (
      SELECT source,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    rv AS (
      SELECT source,
             CAST('0x' || substr(md5(g), 1, 2) AS BIGINT) AS reg,
             CAST('0x' || substr(md5(g), 3, 15) AS BIGINT) AS v
      FROM sh
    ),
    regs AS (
      SELECT source, reg,
             MAX(CASE WHEN v = 0 THEN 61
                      ELSE 61 - length(bin(v)) END) AS r
      FROM rv GROUP BY source, reg
    ),
    s AS (
      SELECT source,
             SUM(CAST(CAST(1 AS BIGINT) << (61 - r) AS HUGEINT))
               + (256 - COUNT(*)) * CAST({_HLL_POW61} AS HUGEINT) AS ssum,
             256 - COUNT(*) AS zr
      FROM regs GROUP BY source
    ),
    e AS (
      SELECT source, COUNT(DISTINCT g) AS exact_distinct FROM sh
      GROUP BY source
    )
    SELECT e.source, CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
           CASE WHEN {_HLL_NUM} / CAST(s.ssum AS DOUBLE) <= 640.0
                     AND s.zr > 0
                THEN 256.0 * ln(256.0 / s.zr)
                ELSE {_HLL_NUM} / CAST(s.ssum AS DOUBLE)
           END AS hll_estimate
    FROM e JOIN s ON e.source = s.source
    """


@oracle("ts_sketch_compare")
def _ts_sketch_compare_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT source, {_D_TOKENS.format(c="text")} AS t FROM documents
    ),
    sh AS (
      SELECT source,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ),
    e AS (
      SELECT source, COUNT(DISTINCT g) AS exact_distinct FROM sh
      GROUP BY source
    ),
    rv AS (
      SELECT source,
             CAST('0x' || substr(md5(g), 1, 2) AS BIGINT) AS reg,
             CAST('0x' || substr(md5(g), 3, 15) AS BIGINT) AS v
      FROM sh
    ),
    regs AS (
      SELECT source, reg,
             MAX(CASE WHEN v = 0 THEN 61
                      ELSE 61 - length(bin(v)) END) AS r
      FROM rv GROUP BY source, reg
    ),
    s AS (
      SELECT source,
             SUM(CAST(CAST(1 AS BIGINT) << (61 - r) AS HUGEINT))
               + (256 - COUNT(*)) * CAST({_HLL_POW61} AS HUGEINT) AS ssum,
             256 - COUNT(*) AS zr
      FROM regs GROUP BY source
    ),
    hll AS (
      SELECT source,
             CASE WHEN {_HLL_NUM} / CAST(ssum AS DOUBLE) <= 640.0
                       AND zr > 0
                  THEN 256.0 * ln(256.0 / zr)
                  ELSE {_HLL_NUM} / CAST(ssum AS DOUBLE)
             END AS hll_estimate
      FROM s
    ),
    tu AS (SELECT DISTINCT source, {_D_U42.format(key="g")} AS u FROM sh),
    kset AS (
      SELECT source, u,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY u) AS rn
      FROM tu
    ),
    m AS (
      SELECT source, MAX(u) AS uk, COUNT(*) AS kk
      FROM kset WHERE rn <= {_KMV_K} GROUP BY source
    ),
    est AS (
      SELECT e.source,
             CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
             CASE WHEN m.kk < {_KMV_K} THEN e.exact_distinct::DOUBLE
                  ELSE (m.kk - 1) / m.uk END AS kmv_estimate,
             hll.hll_estimate
      FROM e JOIN m ON m.source = e.source
      JOIN hll ON hll.source = e.source
    )
    SELECT source, exact_distinct, kmv_estimate, hll_estimate,
           (kmv_estimate - exact_distinct) / exact_distinct AS kmv_rel_err,
           (hll_estimate - exact_distinct) / exact_distinct AS hll_rel_err
    FROM est
    """


@oracle("ts_token_dominance")
def _ts_token_dominance_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS c
      FROM (SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS term
            FROM documents)
      GROUP BY doc_id, term
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(MAX(c) AS BIGINT) AS max_tf,
           CAST(MAX(c) AS BIGINT)::DOUBLE / CAST(SUM(c) AS BIGINT)
             AS top_token_frac
    FROM tf GROUP BY doc_id
    """


@oracle("ts_top_terms")
def _ts_top_terms_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
      FROM (SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    nd AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM tf),
    idf AS (SELECT term, ln((n + 1.0) / (df + 1.0)) AS idf FROM dfreq, nd),
    w AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS weight
          FROM tf JOIN idf USING (term)),
    nrm AS (SELECT doc_id, sqrt(SUM(weight * weight)) AS nrm
            FROM w GROUP BY doc_id),
    scored AS (
      SELECT w.doc_id, w.term,
             CASE WHEN nrm.nrm = 0 THEN w.weight
                  ELSE w.weight / nrm.nrm END AS weight
      FROM w JOIN nrm USING (doc_id)
    )
    SELECT doc_id, term, weight, rnk FROM (
      SELECT doc_id, term, weight,
             CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY weight DESC, term) AS INT) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """


@oracle("ts_countmin_heavy")
def _ts_countmin_heavy_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT unnest({_D_TOKENS.format(c="text")}) AS term FROM documents
    ),
    exact AS (SELECT term, COUNT(*) AS exact_tf FROM tok GROUP BY term),
    hashed AS (
      SELECT e.term, e.exact_tf, u.r,
             CAST('0x' || substr(md5(u.r || ':' || e.term), 1, 8) AS BIGINT)
               % {_CMS_W} AS bucket
      FROM exact e, unnest(range({_CMS_D})) AS u(r)
    ),
    cms AS (SELECT r, bucket, CAST(SUM(exact_tf) AS BIGINT) AS c
            FROM hashed GROUP BY r, bucket),
    est AS (
      SELECT h.term, MIN(cms.c) AS est_tf
      FROM hashed h JOIN cms USING (r, bucket) GROUP BY h.term
    )
    SELECT e.term, exact.exact_tf, e.est_tf,
           e.est_tf - exact.exact_tf AS overcount
    FROM est e JOIN exact USING (term)
    """


@oracle("ts_pmi_cooccurrence")
def _ts_pmi_cooccurrence_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, term
      FROM (SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS term
            FROM documents)
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
    dfreq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS c_ab
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
    )
    SELECT p.term_a, p.term_b, p.c_ab, ca.c AS c_a, cb.c AS c_b,
           ln(CAST(nd.n * p.c_ab AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE))
             AS pmi
    FROM pairs p
    JOIN dfreq ca ON ca.term = p.term_a
    JOIN dfreq cb ON cb.term = p.term_b
    CROSS JOIN nd
    WHERE p.c_ab >= {_PMI_MIN_PAIR}
    """


@oracle("pipe_corpus_funnel")
def _pipe_corpus_funnel_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             {_D_TOKENS.format(c="text")} AS toks,
             text
      FROM documents
    ),
    feat AS (
      SELECT doc_id, source, text, len(toks) AS n,
             len(list_filter(toks, x -> NOT list_contains({_D_STOPWORDS}, x)))
               AS nk,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE list_sum(list_transform(toks, x -> length(x)::DOUBLE))
                       / len(toks) END AS avg_len
      FROM t
    ),
    q AS (
      SELECT * FROM feat
      WHERE least(n, 200) / 200.0 * 0.5
            + CASE WHEN n = 0 THEN 0.0 ELSE (n - nk)::DOUBLE / n END * 0.2
            + least(avg_len, 8.0) / 8.0 * 0.3 >= {_FUNNEL_MIN_Q}
    ),
    dd AS (
      SELECT * FROM (
        SELECT q.*, MIN(doc_id) OVER (PARTITION BY text) AS keeper FROM q
      ) WHERE doc_id = keeper
    ),
    s AS (
      SELECT source, COUNT(*) AS nd, CAST(SUM(n) AS BIGINT) AS tk
      FROM dd GROUP BY source
    ),
    w AS (SELECT source, nd, tk,
                 CAST(floor(sqrt(CAST(tk AS DOUBLE))) AS BIGINT) AS wgt
          FROM s),
    tot AS (SELECT CAST(SUM(wgt) AS BIGINT) AS total_w FROM w),
    r AS (SELECT w.source,
                 least(1.0, CAST({_FUNNEL_BUDGET} * wgt AS DOUBLE)
                            / CAST(total_w * nd AS DOUBLE)) AS rate
          FROM w, tot),
    samp AS (
      SELECT dd.source, dd.n FROM dd JOIN r USING (source)
      WHERE (CAST(CAST('0x' || substr(md5('42:' || CAST(dd.doc_id AS VARCHAR)),
                       1, 8) AS BIGINT) AS DOUBLE) / 4294967296.0) < r.rate
    ),
    raw_c AS (SELECT source, COUNT(*) AS n_raw FROM t GROUP BY source),
    q_c AS (SELECT source, COUNT(*) AS n_quality FROM q GROUP BY source),
    dd_c AS (SELECT source, COUNT(*) AS n_dedup FROM dd GROUP BY source),
    s_c AS (SELECT source, COUNT(*) AS n_sampled,
                   CAST(SUM(n) AS BIGINT) AS tok_sampled
            FROM samp GROUP BY source)
    SELECT raw_c.source, raw_c.n_raw,
           coalesce(q_c.n_quality, 0) AS n_quality,
           coalesce(dd_c.n_dedup, 0) AS n_dedup,
           coalesce(s_c.n_sampled, 0) AS n_sampled,
           coalesce(s_c.tok_sampled, 0) AS tok_sampled
    FROM raw_c
    LEFT JOIN q_c USING (source)
    LEFT JOIN dd_c USING (source)
    LEFT JOIN s_c USING (source)
    """


@oracle("pipe_incremental_refresh")
def _pipe_incremental_refresh_oracle() -> str:
    return """
    WITH base AS (
      SELECT doc_id, md5(coalesce(text, '')) AS fp
      FROM documents WHERE doc_id % 7 <> 0
    ),
    incoming AS (
      SELECT doc_id, md5(coalesce(text, '')) AS fp
      FROM documents WHERE doc_id % 7 = 0
    ),
    fresh AS (
      SELECT i.doc_id, i.fp FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.fp = i.fp)
    )
    SELECT
      (SELECT COUNT(*) FROM base) AS v1_docs,
      (SELECT COUNT(*) FROM incoming) AS n_incoming,
      (SELECT COUNT(*) FROM fresh) AS n_fresh,
      (SELECT COUNT(*) FROM base) + (SELECT COUNT(*) FROM fresh) AS v2_docs
    """


# DuckDB mirror of the char-bigram extractor used by ts_charlm_score:
# lowercase, null->empty, all overlapping 2-char substrings.
_D_BIGRAMS = (
    "list_transform(generate_series(1, length(lower(coalesce({c}, ''))) - 1),"
    " i -> substr(lower(coalesce({c}, '')), i, 2))"
)


@oracle("ts_charlm_score")
def _ts_charlm_score_oracle() -> str:
    return f"""
    WITH big AS (
      SELECT doc_id, unnest({_D_BIGRAMS.format(c="text")}) AS bg FROM documents
    ),
    model AS (SELECT bg, COUNT(*) AS c2 FROM big GROUP BY bg),
    ctx AS (SELECT substr(bg, 1, 1) AS c1, SUM(c2) AS c1n
            FROM model GROUP BY substr(bg, 1, 1)),
    vocab AS (SELECT COUNT(DISTINCT substr(bg, 2, 1)) AS v FROM model),
    doctf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM big GROUP BY doc_id, bg),
    terms AS (
      SELECT d.doc_id, d.tf,
             ln((model.c2 + 1.0) / (ctx.c1n + vocab.v)) AS lp
      FROM doctf d
      JOIN model USING (bg)
      JOIN ctx ON ctx.c1 = substr(d.bg, 1, 1)
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(-SUM(CAST(floor(tf * lp * 1073741824.0) AS BIGINT))
                AS DOUBLE)
             / 1073741824.0 / CAST(SUM(tf) AS BIGINT) AS nll
    FROM terms GROUP BY doc_id
    """


@oracle("ts_char_entropy")
def _ts_char_entropy_oracle() -> str:
    return """
    WITH ch AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, length(text)),
                      i -> substr(text, i, 1))) AS ch
        FROM documents WHERE length(text) > 0
      ) GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           ln(CAST(SUM(c) AS BIGINT))
             - CAST(SUM(CAST(c * ln(c) AS DECIMAL(38,18))) AS DOUBLE)
               / CAST(SUM(c) AS BIGINT) AS entropy
    FROM ch GROUP BY doc_id
    """


@oracle("ts_chi2_terms")
def _ts_chi2_terms_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             list_distinct({{toks}}) AS toks
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos FROM d),
    td AS (
      SELECT term,
             CAST(SUM(y) AS BIGINT) AS df_pos,
             COUNT(*) - CAST(SUM(y) AS BIGINT) AS df_neg
      FROM (SELECT y, unnest(toks) AS term FROM d)
      GROUP BY term
    )
    SELECT term, df_pos, df_neg, chi2 FROM (
      SELECT term, df_pos, df_neg,
             CAST(CAST(n AS DECIMAL(38,0))
                  * CAST(df_pos * (n - n_pos - df_neg)
                         - df_neg * (n_pos - df_pos) AS DECIMAL(38,0))
                  * CAST(df_pos * (n - n_pos - df_neg)
                         - df_neg * (n_pos - df_pos) AS DECIMAL(38,0))
                  AS DOUBLE)
             / CAST(CAST(df_pos + df_neg AS DECIMAL(38,0))
                    * CAST(n - df_pos - df_neg AS DECIMAL(38,0))
                    * CAST(n_pos AS DECIMAL(38,0))
                    * CAST(n - n_pos AS DECIMAL(38,0)) AS DOUBLE) AS chi2
      FROM td, tot
      WHERE df_pos + df_neg >= {_CHI2_MIN_DF} AND df_pos + df_neg < n
    )
    ORDER BY chi2 DESC, term
    LIMIT {_CHI2_K}
    """.format(toks=_D_TOKENS.format(c="text"))


@oracle("ts_rag_chunks")
def _ts_rag_chunks_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    spans AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(0,
               CASE WHEN len(toks) <= {_RAG_W} THEN 0
                    ELSE CAST(ceil((len(toks) - {_RAG_W})
                              / {_RAG_S}.0) AS INT)
               END)) AS chunk_idx
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_idx,
           least({_RAG_W}, n - chunk_idx * {_RAG_S}) AS n_tokens,
           array_to_string(
             toks[chunk_idx * {_RAG_S} + 1 :
                  chunk_idx * {_RAG_S} + {_RAG_W}], ' ') AS chunk_text
    FROM spans
    """.format(toks=_D_TOKENS.format(c="text"))


# the ts_doc_quality scoring fragment over a token frame t(doc_id,
# source, toks, kept) — rational arithmetic, exact cross-engine
_D_PREF_QUALITY = """
      least(len(toks), 200) / 200.0 * 0.5
        + CASE WHEN len(toks) = 0 THEN 0.0
               ELSE (len(toks) - len(kept))::DOUBLE / len(toks) END * 0.2
        + least(CASE WHEN len(toks) = 0 THEN 0.0
                     ELSE list_sum(list_transform(toks, x -> length(x)::DOUBLE))
                          / len(toks) END, 8.0) / 8.0 * 0.3
"""


@oracle("pipe_preference_pairs")
def _pipe_preference_pairs_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             {_D_TOKENS.format(c="text")} AS toks,
             list_filter({_D_TOKENS.format(c="text")},
                         x -> NOT list_contains({_D_STOPWORDS}, x)) AS kept
      FROM documents
    ),
    scored AS (
      SELECT doc_id, source, {_D_PREF_QUALITY} AS quality FROM t
    ),
    ranked AS (
      SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id ASC) AS rb,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality ASC, doc_id ASC) AS rw
      FROM scored
    )
    SELECT b.source, b.rb AS k,
           b.doc_id AS chosen_id, w.doc_id AS rejected_id,
           b.quality AS q_chosen, w.quality AS q_rejected,
           b.quality - w.quality AS margin
    FROM (SELECT * FROM ranked WHERE rb <= {_PREF_K}) b
    JOIN (SELECT * FROM ranked WHERE rw <= {_PREF_K}) w
      ON w.source = b.source AND w.rw = b.rb
    WHERE b.quality > w.quality
    """


def _token_budget_oracle(rounds: int) -> str:
    """Exact replica of the water-filling allocator: per-source token
    supply, budget = 95% of the corpus (19·total // 20), then
    ``rounds`` unrolled floor-division rounds — every step BIGINT
    arithmetic (//, LEAST on BIGINTs stays BIGINT — the decimal-only
    promotion trap documented in docs/VERIFICATION.md doesn't apply)."""
    blocks = [
        f"""t AS (
      SELECT source,
             CAST(SUM(len({_D_TOKENS.format(c="text")})) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    )""",
        "tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM t)",
        """a0 AS (
      SELECT source, n_tokens, CAST(0 AS BIGINT) AS alloc,
             (19 * total) // 20 AS rem
      FROM t, tot
    )""",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        blocks += [
            f"""n{i} AS (
      SELECT COUNT(*) AS n_act FROM a{p} WHERE alloc < n_tokens
    )""",
            f"""g{i} AS (
      SELECT source, n_tokens, alloc, rem,
             CASE WHEN alloc < n_tokens THEN
               LEAST(CASE WHEN n_act > 0 THEN rem // n_act ELSE 0 END,
                     n_tokens - alloc)
             ELSE 0 END AS give
      FROM a{p}, n{i}
    )""",
            f"""a{i} AS (
      SELECT source, n_tokens, alloc + give AS alloc,
             rem - (SELECT CAST(SUM(give) AS BIGINT) FROM g{i}) AS rem
      FROM g{i}
    )""",
        ]
    return (
        "\n    WITH "
        + ",\n    ".join(blocks)
        + f"""
    SELECT source, n_tokens, alloc AS allocated,
           CAST(CASE WHEN alloc = n_tokens THEN 1 ELSE 0 END AS INT)
             AS exhausted
    FROM a{rounds}
    """
    )


@oracle("pipe_token_budget")
def _pipe_token_budget_oracle() -> str:
    return _token_budget_oracle(_BUDGET_ROUNDS)


@oracle("pipe_length_buckets")
def _pipe_length_buckets_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, len({_D_TOKENS.format(c="text")}) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_tokens,
             CAST(CASE WHEN n_tokens <= 1 THEN 0
                  ELSE FLOOR(LN(CAST(n_tokens AS DOUBLE)) / LN(2.0))
             END AS INT) AS bucket
      FROM t
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_len,
           CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT)
             AS padding_tokens
    FROM b GROUP BY bucket
    """


@oracle("ts_oov_rate")
def _ts_oov_rate_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS t
      FROM documents
    ),
    tc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    vocab AS (
      SELECT t FROM (
        SELECT t, row_number() OVER (ORDER BY c DESC, t ASC) AS rn FROM tc
      ) WHERE rn <= {_OOV_VOCAB}
    )
    SELECT tok.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM tok LEFT JOIN vocab v USING (t)
    GROUP BY tok.doc_id
    """


@oracle("ts_wordlm_score")
def _ts_wordlm_score_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, {_D_TOKENS.format(c="text")} AS t FROM documents
    ),
    pr AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ),
    doctf AS (
      SELECT doc_id, w1, w2, COUNT(*) AS tf FROM pr
      GROUP BY doc_id, w1, w2
    ),
    model AS (SELECT w1, w2, SUM(tf) AS c2 FROM doctf GROUP BY w1, w2
              HAVING SUM(tf) >= {_WLM_MIN_COUNT}),
    ctx AS (SELECT w1, SUM(c2) AS c1n FROM model GROUP BY w1),
    vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM model),
    terms AS (
      SELECT d.doc_id, d.tf,
             ln((COALESCE(m.c2, 0) + 1.0)
                / (COALESCE(c.c1n, 0) + vocab.v)) AS lp
      FROM doctf d
      LEFT JOIN model m ON m.w1 = d.w1 AND m.w2 = d.w2
      LEFT JOIN ctx c ON c.w1 = d.w1
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(-SUM(CAST(floor(tf * lp * 1073741824.0) AS BIGINT))
                AS DOUBLE)
             / 1073741824.0 / CAST(SUM(tf) AS BIGINT) AS nll
    FROM terms GROUP BY doc_id
    """


@oracle("ts_vocab_growth")
def _ts_vocab_growth_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS tok
      FROM documents
    ),
    firsts AS (SELECT tok, MIN(doc_id) AS first_doc FROM tok GROUP BY tok),
    mx AS (SELECT MAX(doc_id) AS m FROM tok),
    cps AS (SELECT unnest(generate_series(1, 10)) AS decile),
    thr AS (SELECT decile, (mx.m * decile) // 10 AS cutoff FROM cps, mx)
    SELECT CAST(t.decile AS INT) AS decile,
           CAST(t.cutoff AS BIGINT) AS cutoff_doc,
           CAST(SUM(CASE WHEN f.first_doc <= t.cutoff THEN 1 ELSE 0 END)
                AS BIGINT) AS vocab_size
    FROM thr t CROSS JOIN firsts f
    GROUP BY t.decile, t.cutoff
    """


@oracle("ts_dsir_weights")
def _ts_dsir_weights_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {_DSIR_B} AS b
      FROM (SELECT doc_id, lang,
                   unnest({_D_TOKENS.format(c="text")}) AS t
            FROM documents)
    ),
    buckets AS (SELECT unnest(generate_series(0, {_DSIR_B - 1})) AS b),
    tgt AS (
      SELECT b, COUNT(*) AS ct FROM toks
      WHERE lang = '{_DSIR_TGT}' GROUP BY b
    ),
    raw AS (SELECT b, COUNT(*) AS cr FROM toks GROUP BY b),
    nt AS (SELECT COUNT(*) AS nt FROM toks WHERE lang = '{_DSIR_TGT}'),
    nr AS (SELECT COUNT(*) AS nr FROM toks),
    model AS (
      SELECT buckets.b,
             ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE)
                / (nt.nt + {_DSIR_B}))
           - ln(CAST(coalesce(raw.cr, 0) + 1 AS DOUBLE)
                / (nr.nr + {_DSIR_B})) AS lr
      FROM buckets
      LEFT JOIN tgt ON buckets.b = tgt.b
      LEFT JOIN raw ON buckets.b = raw.b
      CROSS JOIN nt CROSS JOIN nr
    ),
    dc AS (SELECT doc_id, b, COUNT(*) AS c FROM toks GROUP BY doc_id, b)
    SELECT dc.doc_id,
           CAST(SUM(dc.c) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(floor(dc.c * model.lr * {_DSIR_Q!r}) AS BIGINT))
                AS DOUBLE) / {_DSIR_Q!r} AS log_weight
    FROM dc JOIN model ON dc.b = model.b
    GROUP BY dc.doc_id
    """


@oracle("ts_zipf_fit")
def _ts_zipf_fit_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT t AS term, COUNT(*) AS c
      FROM (SELECT unnest({_D_TOKENS.format(c="text")}) AS t
            FROM documents)
      GROUP BY t
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS r
      FROM tf
    ),
    xy AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
      FROM ranked WHERE r <= {_ZIPF_K}
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 9) AS slope,
           round(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
                 * sx / n, 9) AS intercept
    FROM s
    """


@oracle("ts_kneser_ney")
def _ts_kneser_ney_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, {_D_TOKENS.format(c="text")} AS t FROM documents
    ),
    pr AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ),
    doctf AS (
      SELECT doc_id, w1, w2, COUNT(*) AS tf FROM pr
      GROUP BY doc_id, w1, w2
    ),
    model AS (
      SELECT w1, w2, SUM(tf) AS c FROM doctf GROUP BY w1, w2
      HAVING SUM(tf) >= {_KN_MIN}
    ),
    w1s AS (
      SELECT w1, SUM(c) AS c1, COUNT(*) AS n1p FROM model GROUP BY w1
    ),
    nbi AS (SELECT COUNT(*) AS n_bi FROM model),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS DOUBLE) / nbi.n_bi AS pc
      FROM model, nbi GROUP BY w2, nbi.n_bi
    ),
    voc AS (
      SELECT CAST(COUNT(DISTINCT u.tk) AS DOUBLE) AS v
      FROM tok, unnest(t) AS u(tk)
    ),
    terms AS (
      SELECT d.doc_id, d.tf,
             CASE WHEN s.c1 IS NOT NULL THEN
               ln((greatest(COALESCE(m.c, 0) - {_KN_D!r}, 0.0)
                   + {_KN_D!r} * s.n1p * COALESCE(cont.pc, 1.0 / voc.v))
                  / s.c1)
             ELSE ln(COALESCE(cont.pc, 1.0 / voc.v))
             END AS lp
      FROM doctf d
      LEFT JOIN model m ON m.w1 = d.w1 AND m.w2 = d.w2
      LEFT JOIN w1s s ON s.w1 = d.w1
      LEFT JOIN cont ON cont.w2 = d.w2
      CROSS JOIN voc
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           CAST(-SUM(CAST(floor(tf * lp * {_KN_Q!r}) AS BIGINT))
                AS DOUBLE)
             / {_KN_Q!r} / CAST(SUM(tf) AS BIGINT) AS nll
    FROM terms GROUP BY doc_id
    """


@oracle("ts_ngram_novelty")
def _novelty_oracle() -> str:
    from oracles.dedup import _D_SHINGLES

    return f"""
    WITH grams AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, unnest({_D_SHINGLES}) AS g FROM documents
      )
    ),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT grams.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN firsts.first_doc = grams.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN firsts.first_doc = grams.doc_id
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS novelty
    FROM grams JOIN firsts USING (g)
    GROUP BY grams.doc_id
    """


@oracle("ts_term_burstiness")
def _ts_term_burstiness_oracle() -> str:
    return f"""
    WITH tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS c
      FROM (SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS t
            FROM documents)
      GROUP BY doc_id, t
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    stats AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS cf,
             CAST(SUM(c * c) AS BIGINT) AS cf2
      FROM tf GROUP BY term
    )
    SELECT term, df, cf,
           round((CAST(cf2 AS DOUBLE) - CAST(cf AS DOUBLE) * cf / nd.n)
                 / nd.n / (CAST(cf AS DOUBLE) / nd.n), 9) AS burstiness
    FROM stats, nd
    WHERE 10 * df >= nd.n
    ORDER BY (CAST(cf2 AS DOUBLE) - CAST(cf AS DOUBLE) * cf / nd.n)
             / nd.n / (CAST(cf AS DOUBLE) / nd.n) DESC, term ASC
    LIMIT {_BURST_TOP}
    """


@oracle("ts_gopher_repetition")
def _ts_gopher_repetition_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, {_D_TOKENS.format(c="text")} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, 2 AS n,
             unnest(list_transform(
               generate_series(1, greatest(len(toks) - 1, 0)),
               i -> toks[i] || ' ' || toks[i+1])) AS g
      FROM t
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
      FROM t
    ),
    gc AS (
      SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY doc_id, n, g
    ),
    st AS (
      SELECT doc_id, n,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS dstnct,
             CAST(MAX(c) AS BIGINT) AS topc
      FROM gc GROUP BY doc_id, n
    ),
    wide AS (
      SELECT b.doc_id,
             round(1.0 - b.dstnct * 1.0 / b.total, 9) AS dup_bigram_frac,
             round(b.topc * 1.0 / b.total, 9) AS top_bigram_frac,
             round(1.0 - g.dstnct * 1.0 / g.total, 9) AS dup_trigram_frac
      FROM (SELECT * FROM st WHERE n = 2) b
      JOIN (SELECT * FROM st WHERE n = 3) g USING (doc_id)
    )
    SELECT doc_id, dup_bigram_frac, top_bigram_frac, dup_trigram_frac,
           CASE WHEN dup_bigram_frac <= {_GOPHER_DUP_BG_MAX!r}
                 AND top_bigram_frac <= {_GOPHER_TOP_BG_MAX!r}
                THEN 1 ELSE 0 END AS keep
    FROM wide
    """


@oracle("ts_ccnet_buckets")
def _ccnet_oracle() -> str:
    wlm = ORACLES["ts_wordlm_score"]()
    return f"""
    WITH s AS ({wlm}),
    r AS (
      SELECT doc_id, n_bigrams, nll,
             ROW_NUMBER() OVER (ORDER BY nll, doc_id) AS rnk,
             COUNT(*) OVER () AS n
      FROM s
    ),
    b AS (
      SELECT CASE WHEN rnk * 3 <= n THEN 'head'
                  WHEN rnk * 3 <= 2 * n THEN 'middle'
                  ELSE 'tail' END AS bucket,
             n_bigrams, nll
      FROM r
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
           round(MIN(nll), 9) AS min_nll,
           round(MAX(nll), 9) AS max_nll
    FROM b GROUP BY bucket ORDER BY bucket
    """


@oracle("ts_doremi_mixture")
def _doremi_oracle() -> str:
    wlm = ORACLES["ts_wordlm_score"]()
    eta = _DOREMI_ETA
    # AS MATERIALIZED throughout: an iterative CTE chain referenced
    # multiple times inlines exponentially when left to DuckDB's
    # default (the MMR-oracle authoring rule, docs/VERIFICATION.md).
    ctes = [
        f"s AS MATERIALIZED ({wlm})",
        """dl AS MATERIALIZED (
      SELECT d.lang,
             CAST(SUM(CAST(s.nll AS DECIMAL(38,18))) AS DOUBLE)
               / COUNT(*) AS loss
      FROM s JOIN documents d ON d.doc_id = s.doc_id
      GROUP BY d.lang
    )""",
        """nd AS MATERIALIZED (SELECT COUNT(*) AS nd FROM dl)""",
        """w0 AS MATERIALIZED (
      SELECT lang, loss, 1.0 / nd AS alpha FROM dl, nd
    )""",
    ]
    arms = ["SELECT 0 AS iter, lang, round(loss, 9) AS loss,"
            " round(alpha, 9) AS alpha FROM w0"]
    for t in range(1, _DOREMI_ITERS + 1):
        p = t - 1
        ctes.append(f"""b{t} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(alpha * loss AS DECIMAL(38,18))) AS DOUBLE)
               AS bl
      FROM w{p}
    )""")
        ctes.append(f"""u{t} AS MATERIALIZED (
      SELECT lang, loss,
             alpha * round(exp({eta!r} * (loss - bl)), 9) AS raw
      FROM w{p}, b{t}
    )""")
        ctes.append(f"""z{t} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(raw AS DECIMAL(38,18))) AS DOUBLE) AS z
      FROM u{t}
    )""")
        ctes.append(f"""w{t} AS MATERIALIZED (
      SELECT lang, loss, round(raw / z, 9) AS alpha FROM u{t}, z{t}
    )""")
        arms.append(
            f"SELECT {t} AS iter, lang, round(loss, 9) AS loss,"
            f" round(alpha, 9) AS alpha FROM w{t}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(arms)


@oracle("ts_filter_agreement")
def _filter_agreement_oracle() -> str:
    toks = _D_TOKENS.format(c="text")
    quality = f"""
      least(len(toks), 200) / 200.0 * 0.5
        + CASE WHEN len(toks) = 0 THEN 0.0
               ELSE (len(toks) - len(kept))::DOUBLE / len(toks) END * 0.2
        + least(CASE WHEN len(toks) = 0 THEN 0.0
                     ELSE list_sum(list_transform(toks, x -> length(x)::DOUBLE))
                          / len(toks) END, 8.0) / 8.0 * 0.3
    """
    lang = {
        k: _duck_lang_hits(lex) for k, lex in _LANG_LEXICONS.items()
    }
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks,
             list_filter({toks}, x -> NOT list_contains({_D_STOPWORDS}, x)) AS kept
      FROM documents
    ),
    rl AS (
      SELECT doc_id,
             CASE WHEN ({quality}) >= {_FA_QUALITY_MIN!r} THEN 1 ELSE 0 END AS kq,
             CASE WHEN greatest({lang['en']}, {lang['de']}, {lang['fr']}, {lang['es']}) > 0
                   AND {lang['en']} >= {lang['de']}
                   AND {lang['en']} >= {lang['fr']}
                   AND {lang['en']} >= {lang['es']}
                  THEN 1 ELSE 0 END AS kl
      FROM t
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(toks) - 1, 0)),
               i -> toks[i] || ' ' || toks[i+1])) AS g
      FROM t
    ),
    gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
    st AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS dstnct,
             CAST(MAX(c) AS BIGINT) AS topc
      FROM gc GROUP BY doc_id
    ),
    rep AS (
      SELECT doc_id,
             CASE WHEN round(1.0 - dstnct * 1.0 / total, 9)
                       <= {_GOPHER_DUP_BG_MAX!r}
                   AND round(topc * 1.0 / total, 9)
                       <= {_GOPHER_TOP_BG_MAX!r}
                  THEN 1 ELSE 0 END AS kr
      FROM st
    ),
    flags AS (
      SELECT rl.doc_id, kq, kl, kr
      FROM rl JOIN rep ON rl.doc_id = rep.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kq) AS BIGINT) AS keep_quality,
           CAST(SUM(kr) AS BIGINT) AS keep_repetition,
           CAST(SUM(kl) AS BIGINT) AS keep_lang,
           CAST(SUM(CASE WHEN kq = kr THEN 1 ELSE 0 END) AS BIGINT) AS agree_qr,
           CAST(SUM(CASE WHEN kq = kl THEN 1 ELSE 0 END) AS BIGINT) AS agree_ql,
           CAST(SUM(CASE WHEN kr = kl THEN 1 ELSE 0 END) AS BIGINT) AS agree_rl,
           CAST(SUM(kq * kr * kl) AS BIGINT) AS keep_all
    FROM flags
    """


@oracle("ts_kmv_lang_jaccard")
def _kmv_jaccard_oracle() -> str:
    u = _D_U42.format(key="t")
    return f"""
    WITH toks AS (
      SELECT DISTINCT lang, t FROM (
        SELECT lang, unnest({_D_TOKENS.format(c="text")}) AS t FROM documents
      )
    ),
    hs AS (SELECT DISTINCT lang, {u} AS u FROM toks),
    kmv AS (
      SELECT lang, u FROM (
        SELECT lang, u,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY u) AS rn
        FROM hs
      ) WHERE rn <= {_KJ_K}
    ),
    pairs AS (
      SELECT a.lang AS la, b.lang AS lb
      FROM (SELECT DISTINCT lang FROM hs) a
      JOIN (SELECT DISTINCT lang FROM hs) b ON a.lang < b.lang
    ),
    uni AS (
      SELECT DISTINCT la, lb, u FROM (
        SELECT p.la, p.lb, k.u FROM pairs p JOIN kmv k ON k.lang = p.la
        UNION ALL
        SELECT p.la, p.lb, k.u FROM pairs p JOIN kmv k ON k.lang = p.lb
      )
    ),
    merged AS (
      SELECT la, lb, u FROM (
        SELECT la, lb, u,
               ROW_NUMBER() OVER (PARTITION BY la, lb ORDER BY u) AS rn
        FROM uni
      ) WHERE rn <= {_KJ_K}
    ),
    est AS (
      SELECT m.la, m.lb,
             CAST(COUNT(*) FILTER (ka.u IS NOT NULL AND kb.u IS NOT NULL)
                  AS DOUBLE) / COUNT(*) AS est_jaccard
      FROM merged m
      LEFT JOIN kmv ka ON ka.lang = m.la AND ka.u = m.u
      LEFT JOIN kmv kb ON kb.lang = m.lb AND kb.u = m.u
      GROUP BY m.la, m.lb
    ),
    sizes AS (SELECT lang, COUNT(*) AS n FROM toks GROUP BY lang),
    inter AS (
      SELECT a.lang AS la, b.lang AS lb, COUNT(*) AS ni
      FROM toks a JOIN toks b ON a.t = b.t AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT e.la, e.lb, e.est_jaccard,
           CAST(COALESCE(i.ni, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.ni, 0)) AS exact_jaccard,
           abs(e.est_jaccard - CAST(COALESCE(i.ni, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.ni, 0))) AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.la = e.la AND i.lb = e.lb
    JOIN sizes sa ON sa.lang = e.la
    JOIN sizes sb ON sb.lang = e.lb
    """


def _mi_cell_sql(k: str, row: str, col: str) -> str:
    """One MI cell (k/n)·ln(k·n/(row·col)) with the zero-cell guard —
    every operand an exact integer, one ln per cell."""
    return (
        f"CASE WHEN {k} = 0 THEN 0.0 ELSE"
        f" (CAST({k} AS DOUBLE) / n)"
        f" * ln(CAST({k} AS DOUBLE) * n / (CAST({row} AS DOUBLE) * ({col})))"
        " END"
    )


@oracle("ts_mi_terms")
def _ts_mi_terms_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             list_distinct({_D_TOKENS.format(c="text")}) AS toks
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos FROM d),
    td AS (
      SELECT term,
             CAST(SUM(y) AS BIGINT) AS a,
             COUNT(*) - CAST(SUM(y) AS BIGINT) AS b
      FROM (SELECT y, unnest(toks) AS term FROM d)
      GROUP BY term
    )
    SELECT term, df, mi FROM (
      SELECT term, a + b AS df,
             {_mi_cell_sql("a", "a + b", "n_pos")}
           + {_mi_cell_sql("b", "a + b", "n - n_pos")}
           + {_mi_cell_sql("(n_pos - a)", "n - a - b", "n_pos")}
           + {_mi_cell_sql("(n - n_pos - b)", "n - a - b", "n - n_pos")}
             AS mi
      FROM td, tot
      WHERE a + b >= {_MI_MIN_DF} AND a + b < n
    )
    ORDER BY mi DESC, term
    LIMIT {_MI_K}
    """


@oracle("ts_kmv_anb")
def _kmv_anb_oracle() -> str:
    u = _D_U42.format(key="t")
    return f"""
    WITH toks AS (
      SELECT DISTINCT source, t FROM (
        SELECT source, unnest({_D_TOKENS.format(c="text")}) AS t
        FROM documents
      )
    ),
    hs AS (SELECT DISTINCT source, {u} AS u FROM toks),
    kmv AS (
      SELECT source, u FROM (
        SELECT source, u,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY u) AS rn
        FROM hs
      ) WHERE rn <= {_ANB_K}
    ),
    theta AS (
      SELECT source,
             CASE WHEN COUNT(*) >= {_ANB_K} THEN MAX(u) ELSE 1.0 END
               AS th
      FROM kmv GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb, LEAST(ta.th, tb.th) AS th
      FROM (SELECT DISTINCT source FROM kmv) a
      JOIN (SELECT DISTINCT source FROM kmv) b ON a.source <> b.source
      JOIN theta ta ON ta.source = a.source
      JOIN theta tb ON tb.source = b.source
    ),
    kept AS (
      SELECT p.sa, p.sb, p.th, COUNT(*) AS n_kept
      FROM pairs p
      JOIN kmv ka ON ka.source = p.sa AND ka.u < p.th
      LEFT JOIN kmv kb ON kb.source = p.sb AND kb.u = ka.u
      WHERE kb.u IS NULL
      GROUP BY p.sa, p.sb, p.th
    ),
    exact AS (
      SELECT x.source AS sa, y.sb,
             CAST(COUNT(*) AS BIGINT) AS exact_anb
      FROM toks x
      CROSS JOIN (SELECT DISTINCT source AS sb FROM toks) y
      WHERE x.source <> y.sb
        AND NOT EXISTS (SELECT 1 FROM toks z
                        WHERE z.source = y.sb AND z.t = x.t)
      GROUP BY 1, 2
    )
    SELECT p.sa, p.sb,
           COALESCE(k.n_kept, 0) / p.th AS est_anb,
           COALESCE(e.exact_anb, 0) AS exact_anb,
           abs(COALESCE(k.n_kept, 0) / p.th
               - COALESCE(e.exact_anb, 0)) AS abs_err
    FROM pairs p
    LEFT JOIN kept k ON k.sa = p.sa AND k.sb = p.sb
    LEFT JOIN exact e ON e.sa = p.sa AND e.sb = p.sb
    """


@oracle("ts_good_turing")
def _ts_good_turing_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT unnest({_D_TOKENS.format(c="text")}) AS t FROM documents
    ),
    tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tc),
    fof AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
            FROM tc GROUP BY c),
    gt AS (
      SELECT a.r, a.n_r,
             CASE WHEN b.n_r IS NOT NULL
                  THEN (CAST(a.r AS DOUBLE) + 1.0)
                       * CAST(b.n_r AS DOUBLE) / CAST(a.n_r AS DOUBLE)
                  ELSE 0.0 END AS r_star
      FROM fof a LEFT JOIN fof b ON b.r = a.r + 1
    )
    SELECT gt.r, gt.n_r, gt.r_star,
           CAST(COALESCE((SELECT n_r FROM fof WHERE r = 1), 0) AS DOUBLE)
             / CAST(tot.n AS DOUBLE) AS p_unseen
    FROM gt CROSS JOIN tot
    """


@oracle("ts_js_divergence")
def _ts_js_divergence_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT source, unnest({_D_TOKENS.format(c="text")}) AS t
      FROM documents
    ),
    tc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY source, t),
    tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
             FROM tc GROUP BY source),
    shared AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(a.c AS DOUBLE) / na.n AS p,
             CAST(b.c AS DOUBLE) / nb.n AS q
      FROM tc a
      JOIN tc b ON b.t = a.t AND a.source < b.source
      JOIN tots na ON na.source = a.source
      JOIN tots nb ON nb.source = b.source
    ),
    core AS (
      SELECT sa, sb,
             CAST(SUM(CAST(p * ln(2.0 * p / (p + q))
                           + q * ln(2.0 * q / (p + q))
                           AS DECIMAL(38,18))) AS DOUBLE) AS shared_term,
             CAST(SUM(CAST(p AS DECIMAL(38,18))) AS DOUBLE) AS p_shared,
             CAST(SUM(CAST(q AS DECIMAL(38,18))) AS DOUBLE) AS q_shared,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms
      FROM shared GROUP BY sa, sb
    )
    SELECT sa, sb,
           0.5 * (shared_term
                  + ln(2.0) * ((1.0 - p_shared) + (1.0 - q_shared)))
             AS jsd,
           n_shared_terms
    FROM core
    """


@oracle("ts_textrank_terms")
def _textrank_oracle() -> str:
    toks = (
        f"list_filter({_D_TOKENS.format(c='text')},"
        f" x -> length(x) >= {_TR_MINLEN}"
        f" AND NOT list_contains({_D_STOPWORDS}, x))"
    )
    head = f"""
    WITH tk AS (
      SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos
      FROM (SELECT doc_id, {toks} AS t FROM documents)
    ),
    adj AS (
      SELECT a.term AS ta, b.term AS tb
      FROM tk a JOIN tk b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.term <> b.term
    ),
    e AS (
      SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w FROM (
        SELECT ta AS src, tb AS dst FROM adj
        UNION ALL
        SELECT tb AS src, ta AS dst FROM adj
      ) GROUP BY src, dst
    ),
    outd AS (SELECT src, SUM(w) AS outw FROM e GROUP BY src),
    nn AS (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS n FROM e),
    r0 AS (SELECT src AS node, 1.0 / nn.n AS r
           FROM (SELECT DISTINCT src FROM e), nn)"""
    levels = []
    for k in range(1, _TR_ITERS + 1):
        levels.append(f"""
    r{k} AS (
      SELECT e.dst AS node,
             {1.0 - _TR_DAMP} / MAX(nn.n)
               + {_TR_DAMP} * CAST(SUM(CAST(
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
    SELECT node AS term, r AS score, rnk FROM (
      SELECT node, r,
             CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS INT)
               AS rnk
      FROM r{_TR_ITERS}
    ) WHERE rnk <= {_TR_TOPK}"""
    )


@oracle("ts_burrows_delta")
def _burrows_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT source, unnest({_D_TOKENS.format(c="text")}) AS t
      FROM documents
    ),
    tc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY source, t),
    tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
             FROM tc GROUP BY source),
    top AS (
      SELECT t FROM (
        SELECT t, SUM(c) AS tot,
               row_number() OVER (ORDER BY SUM(c) DESC, t ASC) AS rn
        FROM tc GROUP BY t
      ) WHERE rn <= {_BD_TOP}
    ),
    f AS (
      SELECT s.source, top.t,
             CAST(COALESCE(tc.c, 0) AS DOUBLE) / s.n AS fr
      FROM tots s CROSS JOIN top
      LEFT JOIN tc ON tc.source = s.source AND tc.t = top.t
    ),
    stats AS (
      SELECT t,
             CAST(COUNT(*) AS DOUBLE) AS ns,
             CAST(SUM(CAST(fr AS DECIMAL(38,18))) AS DOUBLE) AS sf,
             CAST(SUM(CAST(fr * fr AS DECIMAL(38,18))) AS DOUBLE) AS sff
      FROM f GROUP BY t
    ),
    z AS (
      SELECT f.source, f.t,
             CASE WHEN (stats.sff - stats.sf * stats.sf / stats.ns)
                       / (stats.ns - 1) <= 0 THEN 0.0
                  ELSE (f.fr - stats.sf / stats.ns)
                       / sqrt((stats.sff - stats.sf * stats.sf / stats.ns)
                              / (stats.ns - 1)) END AS z
      FROM f JOIN stats ON stats.t = f.t
    ),
    d AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(38,18)))
                  AS DOUBLE) / {float(_BD_TOP)!r} AS delta
      FROM z a JOIN z b ON b.t = a.t AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT sa, sb, delta FROM d
    """


@oracle("ts_rake_keyphrases")
def _rake_oracle() -> str:
    toks = _D_TOKENS.format(c="text")
    return f"""
    WITH tk AS (
      SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos,
             CASE WHEN list_contains({_D_STOPWORDS}, unnest(t))
                  THEN 1 ELSE 0 END AS is_stop
      FROM (SELECT doc_id, {toks} AS t FROM documents)
    ),
    runs AS (
      SELECT doc_id, pos, term,
             pos - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY pos) AS grp
      FROM tk WHERE is_stop = 0
    ),
    phrases AS (
      SELECT doc_id, grp,
             string_agg(term, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS len
      FROM runs GROUP BY doc_id, grp
      HAVING COUNT(*) <= {_RAKE_MAXLEN}
    ),
    words AS (
      SELECT doc_id, grp, term, len FROM runs
      JOIN (SELECT doc_id AS d2, grp AS g2, len FROM phrases)
        ON d2 = doc_id AND g2 = grp
    ),
    wstat AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(len - 1) AS BIGINT) AS degree
      FROM words GROUP BY term
    ),
    occ AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM phrases GROUP BY phrase
    ),
    pscore AS (
      SELECT p.phrase,
             round(CAST(SUM(CAST(round(
               CAST(w.degree AS DOUBLE) / w.freq, 9)
               AS DECIMAL(38,18))) AS DOUBLE), 9) AS score
      FROM (SELECT DISTINCT phrase FROM phrases) d,
           LATERAL (SELECT d.phrase, unnest(string_split(d.phrase, ' '))
                    AS t) p
      JOIN wstat w ON w.term = p.t
      GROUP BY p.phrase
    )
    SELECT phrase, n_occurrences, score, rnk FROM (
      SELECT s.phrase, o.n_occurrences, s.score,
             CAST(ROW_NUMBER() OVER (ORDER BY s.score DESC, s.phrase)
                  AS INT) AS rnk
      FROM pscore s JOIN occ o ON o.phrase = s.phrase
    ) WHERE rnk <= {_RAKE_TOPK}
    """


@oracle("ts_coverage_greedy")
def _coverage_oracle() -> str:
    toks = _D_TOKENS.format(c="text")
    ctes = [
        f"""tkc AS (
      SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos
      FROM (SELECT doc_id, {toks} AS t FROM documents)
    ),
    post AS (
      SELECT DISTINCT a.doc_id, a.term || ' ' || b.term AS term
      FROM tkc a JOIN tkc b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    )""",
        "c0 AS (SELECT NULL AS term WHERE 1 = 0)",
    ]
    picks = []
    for r in range(1, _COV_ROUNDS + 1):
        ctes.append(f"""gain{r} AS (
      SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM post p LEFT JOIN c{r - 1} c ON c.term = p.term
      WHERE c.term IS NULL
      GROUP BY p.doc_id
    ),
    pick{r} AS (
      SELECT doc_id, gain FROM gain{r}
      ORDER BY gain DESC, doc_id LIMIT 1
    ),
    c{r} AS (
      SELECT term FROM c{r - 1}
      UNION
      SELECT p.term FROM post p JOIN pick{r} k ON k.doc_id = p.doc_id
    )""")
        picks.append(
            f"SELECT {r} AS round, k.doc_id, k.gain,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM c{r}) AS covered_terms"
            f" FROM pick{r} k"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(picks)
    )


@oracle("ts_vocab_coverage_curve")
def _vocab_coverage_oracle() -> str:
    toks = _D_TOKENS.format(c="text")
    sizes = ", ".join(str(v) for v in _VC_SIZES)
    return f"""
    WITH tf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM (
        SELECT unnest({toks}) AS term FROM documents
      ) GROUP BY term
    ),
    ranked AS (
      SELECT term, f,
             ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rnk,
             SUM(f) OVER (ORDER BY f DESC, term
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM tf
    ),
    tot AS (SELECT CAST(SUM(f) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS vocab FROM tf)
    SELECT v.v AS vocab_size,
           LEAST(v.v, tot.vocab) AS n_terms,
           CAST(MAX(CASE WHEN r.rnk <= v.v THEN r.cum END) AS BIGINT)
             AS covered_tokens,
           round(CAST(MAX(CASE WHEN r.rnk <= v.v THEN r.cum END) AS DOUBLE)
                 / tot.t, 9) AS coverage
    FROM (SELECT unnest([{sizes}]) AS v) v, ranked r, tot
    GROUP BY v.v, tot.vocab, tot.t
    """


@oracle("ts_stolcke_prune")
def _stolcke_oracle() -> str:
    toks = _D_TOKENS.format(c="text")
    return f"""
    WITH tkp AS (
      SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) AS pos
      FROM (SELECT doc_id, {toks} AS t FROM documents)
    ),
    bg AS (
      SELECT a.term AS h, b.term AS w, CAST(COUNT(*) AS BIGINT) AS c_hw
      FROM tkp a JOIN tkp b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      GROUP BY a.term, b.term
    ),
    hist AS (SELECT h, CAST(SUM(c_hw) AS BIGINT) AS c_h FROM bg GROUP BY h),
    uni AS (SELECT w, CAST(SUM(c_hw) AS BIGINT) AS c_w FROM bg GROUP BY w),
    tot AS (SELECT CAST(SUM(c_hw) AS BIGINT) AS nb FROM bg),
    scored AS (
      SELECT bg.h, bg.w, bg.c_hw,
             round((CAST(bg.c_hw AS DOUBLE) / tot.nb)
                   * ln((CAST(bg.c_hw AS DOUBLE) / hist.c_h)
                        / (CAST(uni.c_w AS DOUBLE) / tot.nb)), 12) AS score
      FROM bg JOIN hist ON hist.h = bg.h
              JOIN uni ON uni.w = bg.w
              CROSS JOIN tot
    ),
    flagged AS (
      SELECT h, w, c_hw, round(score, 9) AS score,
             CASE WHEN score >= {_SP_THETA!r} THEN 1 ELSE 0 END AS kept
      FROM scored
    ),
    summary AS (
      SELECT CAST(SUM(kept) AS BIGINT) AS n_kept,
             CAST(SUM(1 - kept) AS BIGINT) AS n_pruned
      FROM flagged
    )
    SELECT f.h, f.w, f.c_hw, f.score, f.kept, s.n_kept, s.n_pruned, rnk
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, h, w) AS INT)
                  AS rnk
      FROM flagged
    ) f CROSS JOIN summary s
    WHERE rnk <= {_SP_TOPK}
    """


@oracle("ts_boilerplate_ngrams")
def _boilerplate_oracle() -> str:
    toks = _D_TOKENS.format(c="text")
    return f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, g
      FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, len(t) - {_BP_N - 2}),
                 i -> array_to_string(t[i : i + {_BP_N - 1}], ' '))) AS g
        FROM (SELECT doc_id, {toks} AS t FROM documents)
        WHERE len(t) >= {_BP_N}
      )
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
            FROM documents),
    census AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS doc_freq
      FROM grams GROUP BY g
      HAVING COUNT(*) >= {_BP_MIN_DOCS}
    )
    SELECT g AS ngram, doc_freq,
           round(CAST(doc_freq AS DOUBLE) / tot.nd, 9) AS doc_share, rnk
    FROM (
      SELECT g, doc_freq,
             CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, g) AS INT)
               AS rnk
      FROM census
    ) c CROSS JOIN tot
    WHERE rnk <= {_BP_TOPK}
    """


@oracle("ts_readability")
def _ts_readability_oracle() -> str:
    return """
    WITH scored AS (
      SELECT
        CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'))
             AS BIGINT) AS w,
        CAST(greatest(1, len(regexp_extract_all(coalesce(text, ''),
                                                '[.!?]+'))) AS BIGINT) AS s,
        CAST(list_sum(list_transform(
          regexp_extract_all(lower(coalesce(text, '')), '[a-z]+'),
          t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))))
          AS BIGINT) AS syl
      FROM documents
    ),
    fre AS (
      SELECT w,
             206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
                     - 84.6 * (CAST(syl AS DOUBLE) / w) AS f
      FROM scored WHERE w > 0
    ),
    banded AS (
      SELECT w, f,
             CASE WHEN f >= 90 THEN 'very_easy'
                  WHEN f >= 80 THEN 'easy'
                  WHEN f >= 70 THEN 'fairly_easy'
                  WHEN f >= 60 THEN 'standard'
                  WHEN f >= 50 THEN 'fairly_difficult'
                  WHEN f >= 30 THEN 'difficult'
                  WHEN f >= 0 THEN 'very_confusing'
                  ELSE 'graduate' END AS band
      FROM fre
    )
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(round(f, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / COUNT(*), 9) AS avg_fre,
           round(CAST(SUM(w) AS DOUBLE) / COUNT(*), 9) AS avg_words
    FROM banded GROUP BY band
    """


@oracle("ts_tokenizer_fertility")
def _fertility_oracle() -> str:
    from oracles.text import _bpe_sql, _D_TOKENS

    toks = _D_TOKENS.format(c="text")
    return f"""
    WITH words AS (
      SELECT lang, unnest({toks}) AS w FROM documents
    ),
    pieces AS (
      SELECT lang,
             CAST(len(string_split(trim({_bpe_sql("w")}), ' ')) AS BIGINT)
               AS np
      FROM words
    ),
    docs AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ),
    agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(np) AS BIGINT) AS n_pieces
      FROM pieces GROUP BY 1
    )
    SELECT a.lang, d.n_docs, a.n_words, a.n_pieces,
           round(CAST(a.n_pieces AS DOUBLE) / a.n_words, 9) AS fertility
    FROM agg a JOIN docs d ON d.lang = a.lang
    """
