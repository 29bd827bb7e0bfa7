"""Oracles of queries/dedup.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.dedup import (
    _BOUNDARY_W,
    _CDC_MIN_TOKS,
    _CDC_MOD,
    _CHUNK_MAX_DF,
    _CHUNK_W,
    _CONT_T,
    _DECON_N,
    _GR_JW,
    _IW_DF_CAP,
    _IW_MIN_CONTAIN,
    _IW_MIN_SHARED,
    _SEM_ITERS,
    _SEM_MIN_COS,
    _SEM_N_CELLS,
    _SEM_PROBE,
    _SS_N,
    _WIN_DF_CAP,
    _WIN_K,
    _WIN_MIN_OVERLAP,
    _WIN_MIN_SHARED,
    _WIN_W,
)
from oracles import oracle
from oracles.text import _D_TOKENS


# Word-3-gram distinct shingles in DuckDB, over regex-tokenized text.
_D_SHINGLES = f"""
list_distinct(list_transform(
  generate_series(1, greatest(len({_D_TOKENS.format(c="text")}) - 2, 0)),
  i -> {_D_TOKENS.format(c="text")}[i] || ' '
       || {_D_TOKENS.format(c="text")}[i+1] || ' '
       || {_D_TOKENS.format(c="text")}[i+2]))
"""


@oracle("dedup_exact_docs")
def _dedup_exact_docs_oracle() -> str:
    return """
    WITH both_copies AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM both_copies GROUP BY text
    """


@oracle("dedup_ngram_jaccard")
def _dedup_ngram_jaccard_oracle() -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS g FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           i::DOUBLE / (x.n + y.n - i) AS jaccard
    FROM inter
    JOIN sizes x ON inter.id_a = x.doc_id
    JOIN sizes y ON inter.id_b = y.doc_id
    WHERE i::DOUBLE / (x.n + y.n - i) >= 0.5
    """


def _minhash_cte_prefix(n_hashes: int, bands: int) -> str:
    """Shared WITH-prefix replaying minhash_lsh_pairs's
    shingle→md5 hash family→signature→band pipeline; the full and
    incremental oracles differ only in their candidate CTE."""
    rpb = n_hashes // bands
    sig_cols = ",\n             ".join(
        f"MIN(h1 + {i}*h2) AS s{i}" for i in range(n_hashes)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(f"s{b * rpb + r}" for r in range(rpb))
        + " AS key FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS g FROM documents
    ),
    hs AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h1,
             CAST('0x' || substr(md5(g), 9, 8) AS BIGINT) AS h2
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM hs GROUP BY doc_id
    ),
    bands AS (
{band_selects}
    )"""


# Jaccard verification over candidate pairs (id_a < id_b) — shared
# suffix of both MinHash oracles.
_MINHASH_VERIFY_SUFFIX = """,
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, i::DOUBLE / (x.n + y.n - i) AS jaccard
    FROM cand c
    JOIN inter ON inter.id_a = c.id_a AND inter.id_b = c.id_b
    JOIN sizes x ON c.id_a = x.doc_id
    JOIN sizes y ON c.id_b = y.doc_id
    WHERE i::DOUBLE / (x.n + y.n - i) >= {min_jaccard}
    """


def _minhash_oracle(n_hashes: int, bands: int, min_jaccard: float) -> str:
    """Exact SQL replica of minhash_lsh_pairs: the
    md5-derived hash family (h_i = h1 + i·h2) is plain integer
    arithmetic in both engines, so the banding join is value-exact."""
    return (
        _minhash_cte_prefix(n_hashes, bands)
        + """,
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    )"""
        + _MINHASH_VERIFY_SUFFIX.format(min_jaccard=min_jaccard)
    )


def _minhash_incremental_oracle(
    n_hashes: int, bands: int, min_jaccard: float, delta_mod: int
) -> str:
    """Exact replica of the incremental mode: only delta rows
    (doc_id % delta_mod = 0) drive the probe side; least/greatest
    canonicalizes delta×delta pairs found from both directions."""
    return (
        _minhash_cte_prefix(n_hashes, bands)
        + f""",
    cand AS (
      SELECT DISTINCT LEAST(x.doc_id, y.doc_id) AS id_a,
                      GREATEST(x.doc_id, y.doc_id) AS id_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key AND x.doc_id <> y.doc_id
      WHERE x.doc_id % {delta_mod} = 0
    )"""
        + _MINHASH_VERIFY_SUFFIX.format(min_jaccard=min_jaccard)
    )


@oracle("dedup_minhash_lsh")
def _dedup_minhash_lsh_oracle() -> str:
    return _minhash_oracle(n_hashes=32, bands=8, min_jaccard=0.5)


@oracle("dedup_incremental_minhash")
def _dedup_incremental_minhash_oracle() -> str:
    return _minhash_incremental_oracle(
        n_hashes=32, bands=8, min_jaccard=0.5, delta_mod=5
    )


@oracle("dedup_minhash_recall")
def _dedup_minhash_recall_oracle() -> str:
    return f"""
    WITH lsh AS (
      SELECT id_a, id_b FROM (
        {_minhash_oracle(n_hashes=32, bands=8, min_jaccard=0.5)}
      )
    ),
    ex AS (
      SELECT id_a, id_b FROM (
        WITH sh AS (
          SELECT doc_id, unnest({{shingles}}) AS g FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b
        FROM inter
        JOIN sizes x ON inter.id_a = x.doc_id
        JOIN sizes y ON inter.id_b = y.doc_id
        WHERE i::DOUBLE / (x.n + y.n - i) >= 0.5
      )
    ),
    missed AS (
      SELECT e.id_a, e.id_b FROM ex e
      ANTI JOIN lsh l ON e.id_a = l.id_a AND e.id_b = l.id_b
    ),
    ne AS (SELECT COUNT(*) AS n_exact FROM ex),
    nl AS (SELECT COUNT(*) AS n_lsh FROM lsh),
    nm AS (SELECT COUNT(*) AS n_missed FROM missed)
    SELECT CAST(ne.n_exact AS BIGINT) AS n_exact,
           CAST(nl.n_lsh AS BIGINT) AS n_lsh,
           CAST(nm.n_missed AS BIGINT) AS n_missed,
           CASE WHEN ne.n_exact = 0 THEN 1.0
                ELSE CAST(ne.n_exact - nm.n_missed AS DOUBLE) / ne.n_exact
           END AS recall
    FROM ne, nl, nm
    """.replace("{shingles}", _D_SHINGLES)


@oracle("dedup_cdc_chunks")
def _dedup_cdc_chunks_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_D_TOKENS.format(c="text")} AS t FROM documents
    ),
    tok AS (
      SELECT doc_id, i AS pos, t[i] AS tok,
             CASE WHEN CAST('0x' || substr(md5(t[i]), 1, 8) AS BIGINT)
                       % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS flag
      FROM toks, unnest(generate_series(1, len(t))) AS u(i)
    ),
    seg AS (
      SELECT doc_id, pos, tok,
             SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, sid, COUNT(*) AS tok_len,
             string_agg(tok, ' ' ORDER BY pos) AS chunk
      FROM seg GROUP BY doc_id, sid
    )
    SELECT md5(chunk) AS chunk_hash,
           CAST(MIN(tok_len) AS INT) AS tok_len,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           MIN(doc_id) AS keeper_doc
    FROM chunks
    WHERE tok_len >= {_CDC_MIN_TOKS}
    GROUP BY chunk
    HAVING COUNT(DISTINCT doc_id) >= 2
    """


def _simhash_oracle(max_hamming: int, band_bits: int) -> str:
    """Exact SQL replica of simhash_pairs(portable=True): per-token
    md5 halves, 64 sign sums, 16-bit chunk banding, hamming verify —
    all integer arithmetic, value-exact in both engines."""
    n_bands = 64 // band_bits

    def bit(j: int) -> str:
        col, off = ("hh", 31 - j) if j < 32 else ("hl", 63 - j)
        return f"(({col} >> {off}) & 1)"

    sum_cols = ",\n             ".join(
        f"SUM(CASE WHEN {bit(j)} = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    chunk_cols = ",\n             ".join(
        "("
        + " + ".join(
            f"CASE WHEN b{b * band_bits + r} > 0"
            f" THEN {1 << (band_bits - 1 - r)} ELSE 0 END"
            for r in range(band_bits)
        )
        + f") AS c{b}"
        for b in range(n_bands)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, c{b} AS chunk FROM chunks"
        for b in range(n_bands)
    )
    hamming = " + ".join(f"bit_count(xor(x.c{b}, y.c{b}))" for b in range(n_bands))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_D_TOKENS.format(c="text")}) AS t FROM documents
    ),
    hs AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hh,
             CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS hl
      FROM tok
    ),
    sums AS (
      SELECT doc_id,
             {sum_cols}
      FROM hs GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id,
             {chunk_cols}
      FROM sums
    ),
    banded AS (
{band_selects}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
    )
    SELECT c.id_a, c.id_b, CAST({hamming} AS INT) AS hamming
    FROM cand c
    JOIN chunks x ON x.doc_id = c.id_a
    JOIN chunks y ON y.doc_id = c.id_b
    WHERE {hamming} <= {max_hamming}
    """


@oracle("dedup_simhash")
def _dedup_simhash_oracle() -> str:
    return _simhash_oracle(max_hamming=3, band_bits=16)


_D_COS = (
    "list_sum(list_transform(list_zip(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),"
    " s -> s[1]*s[2]))"
    " / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x*x)))"
    "    * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x*x))))"
)


@oracle("dedup_embedding_exact_pairs")
def _dedup_embedding_exact_pairs_oracle() -> str:
    return f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_D_COS} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_D_COS} >= 0.4
    """


def _semantic_oracle_blocks(
    n_centroids: int, iters: int, min_cosine: float, n_probe: int
) -> str:
    """CTEs `asg` (vec_id → nearest refined cell), `prb` (its
    ``n_probe`` nearest cells) and `sempairs` (pairs sharing a probed
    cell at cosine ≥ t, id_a < id_b, lowest shared cell) — the exact
    replay of ``operators/ivf.py ivf_cell_pairs`` reusing the
    IVF-top-k oracle's centroid build (`queries/similarity.py
    _ivf_centroid_blocks`), so the dedup index and the ANN index are
    verified as ONE structure."""
    from oracles.similarity import (
        _D_DOT_T,
        _ivf_centroid_blocks,
    )

    blocks, cf = _ivf_centroid_blocks(n_centroids, iters)
    return (
        "WITH "
        + ",\n    ".join(blocks)
        + f""",
    sc AS (
      SELECT e.vec_id, {cf}.cell,
             {_D_DOT_T.format(a='e.v', b=f'{cf}.c')} AS score
      FROM emb e CROSS JOIN {cf}
    ),
    rk AS (
      SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
      FROM sc
    ),
    asg AS (
      SELECT vec_id, CAST(cell AS INT) AS cell FROM rk WHERE rn = 1
    ),
    prb AS (SELECT vec_id, cell FROM rk WHERE rn <= {n_probe}),
    nrm AS (
      SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
      FROM emb
    ),
    semcand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(MIN(a.cell) AS INT) AS cell
      FROM prb a JOIN prb b ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    sempairs AS (
      SELECT * FROM (
        SELECT c.id_a, c.id_b, c.cell,
               CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
                    ELSE {_D_DOT_T.format(a='va.v', b='vb.v')}
                         / (na.nrm * nb.nrm)
               END AS cosine
        FROM semcand c
        JOIN emb va ON va.vec_id = c.id_a
        JOIN emb vb ON vb.vec_id = c.id_b
        JOIN nrm na ON na.vec_id = c.id_a
        JOIN nrm nb ON nb.vec_id = c.id_b
      ) WHERE cosine >= {min_cosine}
    )"""
    )


@oracle("dedup_semantic_pairs")
def _dedup_semantic_pairs_oracle() -> str:
    blocks = _semantic_oracle_blocks(_SEM_N_CELLS, _SEM_ITERS, _SEM_MIN_COS, _SEM_PROBE)
    return blocks + """
    SELECT id_a, id_b, cell, cosine FROM sempairs
    """


@oracle("dedup_semantic_recall")
def _dedup_semantic_recall_oracle() -> str:
    blocks = _semantic_oracle_blocks(_SEM_N_CELLS, _SEM_ITERS, _SEM_MIN_COS, _SEM_PROBE)
    return blocks + f""",
    ex AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id % 5 = 0 AND {_D_COS} >= {_SEM_MIN_COS}
    ),
    sp AS (SELECT DISTINCT id_a, id_b FROM sempairs
           WHERE id_a % 5 = 0),
    missed AS (
      SELECT e.id_a, e.id_b FROM ex e
      ANTI JOIN sp ON sp.id_a = e.id_a AND sp.id_b = e.id_b
    ),
    rc_ne AS (SELECT COUNT(*) AS n_exact FROM ex),
    rc_ns AS (SELECT COUNT(*) AS n_sem FROM sp),
    rc_nm AS (SELECT COUNT(*) AS n_missed FROM missed)
    SELECT CAST(rc_ne.n_exact AS BIGINT) AS n_exact,
           CAST(rc_ns.n_sem AS BIGINT) AS n_sem,
           CAST(rc_nm.n_missed AS BIGINT) AS n_missed,
           CASE WHEN rc_ne.n_exact = 0 THEN 1.0
                ELSE CAST(rc_ne.n_exact - rc_nm.n_missed AS DOUBLE)
                     / rc_ne.n_exact
           END AS recall
    FROM rc_ne, rc_ns, rc_nm
    """


@oracle("dedup_semantic_keep")
def _dedup_semantic_keep_oracle() -> str:
    blocks = _semantic_oracle_blocks(_SEM_N_CELLS, _SEM_ITERS, _SEM_MIN_COS, _SEM_PROBE)
    return blocks + """
    SELECT a.vec_id, a.cell,
           CAST(CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END AS INT) AS kept
    FROM asg a
    LEFT JOIN (SELECT DISTINCT id_b FROM sempairs) d ON d.id_b = a.vec_id
    """


@oracle("dedup_canonical_map")
def _dedup_canonical_map_oracle() -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS g FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes x ON inter.id_a = x.doc_id
      JOIN sizes y ON inter.id_b = y.doc_id
      WHERE i::DOUBLE / (x.n + y.n - i) >= 0.5
    )
    SELECT d.doc_id,
           COALESCE(MIN(p.id_a), d.doc_id) AS canonical_id,
           CASE WHEN MIN(p.id_a) IS NOT NULL THEN 1 ELSE 0 END AS is_duplicate
    FROM documents d LEFT JOIN pairs p ON d.doc_id = p.id_b
    GROUP BY d.doc_id
    """


@oracle("dedup_canonical_closure")
def _dedup_canonical_closure_oracle() -> str:
    return f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS g FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes x ON inter.id_a = x.doc_id
      JOIN sizes y ON inter.id_b = y.doc_id
      WHERE i::DOUBLE / (x.n + y.n - i) >= 0.5
    ),
    sym AS (
      SELECT id_a AS n, id_b AS m FROM pairs
      UNION ALL
      SELECT id_b AS n, id_a AS m FROM pairs
    ),
    reach AS (
      SELECT n, m FROM sym
      UNION
      SELECT r.n, s.m FROM reach r JOIN sym s ON r.m = s.n
    ),
    comp AS (
      SELECT n AS node, LEAST(n, MIN(m)) AS component
      FROM reach GROUP BY n
    )
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS canonical_id,
           CASE WHEN c.component IS NOT NULL AND c.component <> d.doc_id
                THEN 1 ELSE 0 END AS is_duplicate
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """


def _d_word_ngrams(n: int) -> str:
    """Distinct word n-grams in DuckDB over regex-tokenized text (the
    _D_SHINGLES construction generalized to any n)."""
    toks = _D_TOKENS.format(c="text")
    join = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(n))
    return (
        "list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {n - 1}, 0)), i -> {join}))"
    )


@oracle("dedup_decontaminate")
def _dedup_decontaminate_oracle() -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_d_word_ngrams(_DECON_N)}) AS g FROM documents
    ),
    ev AS (SELECT doc_id, g FROM sh WHERE doc_id % 10 = 0),
    tr AS (SELECT DISTINCT g FROM sh WHERE doc_id % 10 <> 0),
    j AS (
      SELECT ev.doc_id, CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM ev LEFT JOIN tr ON ev.g = tr.g
    )
    SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM(hit) AS BIGINT) AS n_contaminated,
           CAST(SUM(hit) AS BIGINT)::DOUBLE / COUNT(*) AS contamination
    FROM j GROUP BY doc_id
    """


@oracle("dedup_chunk_lines")
def _dedup_chunk_lines_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_D_TOKENS.format(c="text")} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS pos,
             array_to_string(t[(i*{_CHUNK_W}+1):(i*{_CHUNK_W}+{_CHUNK_W})], ' ') AS chunk
      FROM toks, unnest(range(greatest((len(t)+{_CHUNK_W}-1)//{_CHUNK_W}, 0))) AS u(i)
    ),
    freq AS (SELECT chunk, COUNT(*) AS df FROM chunks GROUP BY chunk),
    kept AS (
      SELECT c.doc_id, c.pos, c.chunk
      FROM chunks c JOIN freq USING (chunk) WHERE freq.df <= {_CHUNK_MAX_DF}
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    ),
    nc AS (SELECT doc_id, greatest((len(t)+{_CHUNK_W}-1)//{_CHUNK_W}, 0) AS n_chunks
           FROM toks)
    SELECT nc.doc_id, nc.n_chunks,
           coalesce(agg.n_kept, 0) AS n_kept,
           coalesce(agg.clean_text, '') AS clean_text
    FROM nc LEFT JOIN agg USING (doc_id)
    """


@oracle("dedup_golden_record")
def _dedup_golden_record_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= {_GR_JW}
    ),
    sym AS (
      SELECT id_a AS n, id_b AS m FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT n, m FROM sym
      UNION
      SELECT r.n, s.m FROM reach r JOIN sym s ON r.m = s.n
    ),
    comp AS (
      SELECT n AS node, LEAST(n, MIN(m)) AS component
      FROM reach GROUP BY n
    ),
    members AS (
      SELECT COALESCE(c.component, p.p_partkey) AS cluster_id,
             p.p_partkey, p.p_name, p.p_retailprice, p.p_type
      FROM part p LEFT JOIN comp c ON p.p_partkey = c.node
    ),
    modal AS (
      SELECT cluster_id, p_type FROM (
        SELECT cluster_id, p_type,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                 ORDER BY COUNT(*) DESC, p_type) AS rnk
        FROM members GROUP BY cluster_id, p_type
      ) WHERE rnk = 1
    ),
    agg AS (
      SELECT cluster_id, COUNT(*) AS n_members,
             MIN(p_partkey) AS rep_key,
             MAX(CAST(p_retailprice AS DECIMAL(18,2))) AS golden_price
      FROM members GROUP BY cluster_id
    )
    SELECT a.cluster_id, a.n_members,
           r.p_name AS golden_name,
           CAST(a.golden_price AS DOUBLE) AS golden_price,
           m.p_type AS golden_type
    FROM agg a
    JOIN part r ON r.p_partkey = a.rep_key
    JOIN modal m USING (cluster_id)
    WHERE a.n_members >= 2
    """


@oracle("dedup_boundary_overlap")
def _dedup_boundary_overlap_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, {_D_TOKENS.format(c="text")} AS toks FROM documents
    ),
    f AS (
      SELECT doc_id,
             toks[1:{_BOUNDARY_W}] AS pre,
             toks[-{_BOUNDARY_W}:] AS suf
      FROM t WHERE len(toks) >= {_BOUNDARY_W}
    )
    SELECT a.doc_id AS head_id, b.doc_id AS tail_id,
           array_to_string(a.suf, ' ') AS boundary
    FROM f a JOIN f b ON a.suf = b.pre AND a.doc_id != b.doc_id
    """


@oracle("dedup_funnel_counts")
def _dedup_funnel_counts_oracle() -> str:
    return f"""
    WITH ingest AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    ),
    exact AS (
      SELECT MIN(doc_id) AS doc_id, text FROM ingest GROUP BY text
    ),
    sh AS (SELECT doc_id, unnest({_D_SHINGLES}) AS g FROM exact),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    drops AS (
      SELECT DISTINCT id_b FROM inter
      JOIN sizes x ON inter.id_a = x.doc_id
      JOIN sizes y ON inter.id_b = y.doc_id
      WHERE i::DOUBLE / (x.n + y.n - i) >= 0.5
    ),
    near AS (
      SELECT e.doc_id, e.text FROM exact e
      LEFT JOIN drops d ON d.id_b = e.doc_id WHERE d.id_b IS NULL
    ),
    quality AS (
      SELECT doc_id FROM near
      WHERE len({_D_TOKENS.format(c="text")}) >= 20
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'ingest' AS name, COUNT(*) AS n_docs FROM ingest
      UNION ALL
      SELECT 2, 'exact_dedup', COUNT(*) FROM exact
      UNION ALL
      SELECT 3, 'near_dedup', COUNT(*) FROM near
      UNION ALL
      SELECT 4, 'min_length', COUNT(*) FROM quality
    )
    """


@oracle("dedup_substring_spans")
def _dedup_substring_spans_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, {_D_TOKENS.format(c="text")} AS tl FROM documents
    ),
    grams AS (
      SELECT doc_id, u.i,
             substr(md5(list_aggregate(tl[u.i : u.i + {_SS_N} - 1],
                                       'string_agg', ' ')), 1, 16) AS gh
      FROM d, unnest(generate_series(1, greatest(len(tl) - {_SS_N - 1}, 0)))
             AS u(i)
    ),
    dup AS (
      SELECT gh FROM grams GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM grams SEMI JOIN dup ON grams.gh = dup.gh
    )
    SELECT doc_id,
           CAST(MIN(i) AS BIGINT) AS span_start,
           CAST(MAX(i) + {_SS_N - 1} AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(MAX(i) - MIN(i) + {_SS_N} AS BIGINT) AS span_tokens
    FROM hits GROUP BY doc_id, grp
    """


@oracle("dedup_winnowing_pairs")
def _winnowing_oracle() -> str:
    from fuzzy_item_matching_spark.operators.dedup import winnowing_sql

    sel = winnowing_sql(
        "SELECT doc_id, lower(text) AS txt FROM documents",
        k=_WIN_K,
        w=_WIN_W,
        text_col="txt",
    )
    return f"""
    WITH sel AS ({sel}),
    df AS (SELECT h, COUNT(*) AS dfc FROM sel GROUP BY h),
    sel2 AS (SELECT s.doc_id, s.h FROM sel s JOIN df USING (h)
             WHERE dfc <= {_WIN_DF_CAP}),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
              FROM sel2 GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sel2 a JOIN sel2 b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared AS DOUBLE) / LEAST(sa.n_fp, sb.n_fp) AS overlap
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared >= {_WIN_MIN_SHARED}
      AND CAST(n_shared AS DOUBLE) / LEAST(sa.n_fp, sb.n_fp)
            >= {_WIN_MIN_OVERLAP}
    """


@oracle("dedup_incremental_winnowing")
def _inc_winnowing_oracle() -> str:
    from fuzzy_item_matching_spark.operators.dedup import winnowing_sql

    sel_d = winnowing_sql(
        "SELECT doc_id, lower(text) AS txt FROM documents"
        " WHERE doc_id % 11 = 0"
    )
    sel_s = winnowing_sql(
        "SELECT doc_id, lower(text) AS txt FROM documents"
        " WHERE doc_id % 11 != 0"
    )
    return f"""
    WITH sd AS ({sel_d}), ss AS ({sel_s}),
    dfs AS (SELECT h, COUNT(*) AS dfc FROM ss GROUP BY h),
    ss2 AS (SELECT s.doc_id, s.h FROM ss s JOIN dfs USING (h)
            WHERE dfc <= {_IW_DF_CAP}),
    sd2 AS (SELECT d.doc_id, d.h FROM sd d LEFT JOIN dfs USING (h)
            WHERE COALESCE(dfc, 0) <= {_IW_DF_CAP}),
    sized AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
              FROM sd2 GROUP BY doc_id),
    pairs AS (
      SELECT d.doc_id AS delta_doc, s.doc_id AS corpus_doc,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sd2 d JOIN ss2 s ON d.h = s.h GROUP BY 1, 2
    )
    SELECT delta_doc, corpus_doc, n_shared,
           CAST(n_shared AS DOUBLE) / z.n_fp AS containment
    FROM pairs JOIN sized z ON z.doc_id = delta_doc
    WHERE n_shared >= {_IW_MIN_SHARED}
      AND CAST(n_shared AS DOUBLE) / z.n_fp >= {_IW_MIN_CONTAIN}
    """


@oracle("dedup_containment_pairs")
def _dedup_containment_pairs_oracle() -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_D_SHINGLES}) AS g FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, i,
           CAST(i AS DOUBLE) / least(x.n, y.n) AS containment,
           CAST(i AS DOUBLE) / (x.n + y.n - i) AS jaccard,
           CASE WHEN x.n <= y.n THEN id_a ELSE id_b END AS contained_id
    FROM inter
    JOIN sizes x ON inter.id_a = x.doc_id
    JOIN sizes y ON inter.id_b = y.doc_id
    WHERE CAST(i AS DOUBLE) / least(x.n, y.n) >= {_CONT_T}
    """
