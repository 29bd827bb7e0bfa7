"""Oracles of queries/multimodal.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.multimodal import _SC_FRAME, _SC_TAU
from oracles import oracle


@oracle("mm_binary_meta")
def _mm_binary_meta_oracle() -> str:
    return """
    SELECT doc_id, 'application/octet-stream' AS mime,
           length(text) AS n_bytes
    FROM documents
    """


@oracle("mm_image_features")
def _mm_image_features_oracle() -> str:
    return """
    WITH dims AS (
      SELECT doc_id, text, length(text) AS tl,
             (ascii(substring(text, 1, 1)) % 8 + 1) * 8 AS w,
             (ascii(substring(text, 2, 1)) % 8 + 1) * 8 AS h
      FROM documents
    ),
    geo AS (
      SELECT doc_id, text, tl, w, h,
             3 * w * h AS needed,
             (3 * w + 3) // 4 * 4 AS stride
      FROM dims
    ),
    sums AS (
      SELECT g.doc_id,
             SUM(ascii(substring(g.text, c.i, 1))) AS sum_all,
             SUM(CASE WHEN c.i <= g.needed % g.tl
                      THEN ascii(substring(g.text, c.i, 1)) ELSE 0 END)
               AS sum_prefix
      FROM geo g, LATERAL (
        SELECT unnest(generate_series(1, g.tl)) AS i
      ) c
      WHERE g.tl > 0
      GROUP BY g.doc_id
    )
    SELECT g.doc_id,
           CAST(54 + g.stride * g.h AS INT) AS n_bytes,
           CAST(g.w AS INT) AS width,
           CAST(g.h AS INT) AS height,
           g.w::DOUBLE / g.h AS aspect,
           CAST(CASE WHEN g.tl = 0 THEN 0
                     ELSE (g.needed // g.tl) * s.sum_all + s.sum_prefix
                END AS BIGINT) AS sum_px,
           (CASE WHEN g.tl = 0 THEN 0
                 ELSE (g.needed // g.tl) * s.sum_all + s.sum_prefix
            END)::DOUBLE / g.needed AS mean_px
    FROM geo g LEFT JOIN sums s ON g.doc_id = s.doc_id
    """


@oracle("mm_frame_sample")
def _mm_frame_sample_oracle() -> str:
    return """
    SELECT doc_id, i - 1 AS frame_idx, (i - 1) * 64 AS byte_offset
    FROM (
      SELECT doc_id, unnest(generate_series(1, length(text) // 64 + 1)) AS i
      FROM documents
    )
    """


@oracle("mm_audio_windows")
def _mm_audio_windows_oracle() -> str:
    return """
    WITH w AS (
      SELECT doc_id, text,
             unnest(generate_series(0,
               CAST(floor((length(text) - 1) / 32.0) AS INT))) AS win
      FROM documents WHERE length(text) > 0
    ),
    s AS (
      SELECT doc_id, win,
             ascii(substring(text, win * 32 + i, 1)) AS v
      FROM (
        SELECT doc_id, win, text,
               unnest(generate_series(1,
                 least(32, length(text) - win * 32))) AS i
        FROM w
      )
    )
    SELECT doc_id, win,
           CAST(COUNT(*) AS INT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(MAX(v) AS INT) AS peak,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_v
    FROM s GROUP BY doc_id, win
    """


@oracle("mm_phash_pairs")
def _mm_phash_pairs_oracle() -> str:
    return """
    WITH g AS (
      SELECT doc_id, text, length(text) AS tl,
             (ascii(substring(text, 1, 1)) % 8 + 1) * 8 AS w,
             (ascii(substring(text, 2, 1)) % 8 + 1) * 8 AS h
      FROM documents WHERE length(text) > 0
    ),
    samp AS (
      SELECT doc_id, u.i AS idx,
             ascii(substring(text,
               ((((u.i // 8) * h) // 8) * 3 * w
                + (((u.i % 8) * w) // 8) * 3) % tl + 1,
               1)) AS v
      FROM g, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) u(i)
    ),
    sums AS (SELECT doc_id, SUM(v) AS s FROM samp GROUP BY doc_id),
    chunks AS (
      SELECT samp.doc_id, idx // 8 AS band,
             CAST(SUM(CASE WHEN 64 * v > s
                           THEN 1 << (7 - (idx % 8)) ELSE 0 END) AS INT)
               AS chunk
      FROM samp JOIN sums USING (doc_id) GROUP BY 1, 2
    ),
    ok AS (
      SELECT band, chunk FROM chunks
      GROUP BY band, chunk
      HAVING 20 * COUNT(*) <= greatest(1280, (SELECT COUNT(*) FROM sums))
    ),
    pruned AS (
      SELECT c.doc_id, c.band, c.chunk
      FROM chunks c JOIN ok USING (band, chunk)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM pruned x JOIN pruned y
        ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
    ),
    wide AS (
      SELECT doc_id, list(chunk ORDER BY band) AS cs FROM chunks GROUP BY doc_id
    )
    SELECT id_a, id_b, CAST(hm AS INT) AS hamming FROM (
      SELECT c.id_a, c.id_b,
             list_sum(list_transform(list_zip(a.cs, b.cs),
               p -> bit_count(xor(CAST(p[1] AS BIGINT),
                                  CAST(p[2] AS BIGINT))))) AS hm
      FROM cand c
      JOIN wide a ON a.doc_id = c.id_a
      JOIN wide b ON b.doc_id = c.id_b
    ) WHERE hm <= 6
    """


@oracle("mm_scene_cuts")
def _mm_scene_cuts_oracle() -> str:
    return f"""
    WITH w AS (
      SELECT doc_id, text,
             unnest(generate_series(0,
               CAST(floor((length(text) - 1) / {_SC_FRAME}.0) AS INT)))
               AS win
      FROM documents WHERE length(text) > 0
    ),
    sig AS (
      SELECT doc_id, win, SUM(v) AS sig FROM (
        SELECT doc_id, win,
               ascii(substring(text, win * {_SC_FRAME} + i, 1)) AS v
        FROM (
          SELECT doc_id, win, text,
                 unnest(generate_series(1,
                   least({_SC_FRAME}, length(text) - win * {_SC_FRAME})))
                   AS i
          FROM w
        )
      ) GROUP BY doc_id, win
    ),
    cuts AS (
      SELECT doc_id, win, sig,
             CASE WHEN lag(sig) OVER dw IS NULL THEN 1
                  WHEN abs(sig - lag(sig) OVER dw) > {_SC_TAU} THEN 1
                  ELSE 0 END AS is_cut
      FROM sig WINDOW dw AS (PARTITION BY doc_id ORDER BY win)
    ),
    scenes AS (
      SELECT doc_id, win, sig,
             SUM(is_cut) OVER (PARTITION BY doc_id ORDER BY win
                               ROWS UNBOUNDED PRECEDING) AS scene_id
      FROM cuts
    )
    SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
           CAST(MIN(win) AS BIGINT) AS start_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(sig) AS BIGINT) AS scene_sig
    FROM scenes GROUP BY doc_id, scene_id
    """


@oracle("mm_image_resize")
def _mm_image_resize_oracle() -> str:
    return """
    WITH g AS (
      SELECT doc_id, text, length(text) AS tl,
             (ascii(substring(text, 1, 1)) % 8 + 1) * 8 AS w,
             (ascii(substring(text, 2, 1)) % 8 + 1) * 8 AS h
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(u.i // 8 AS INT) AS py,
           CAST(u.i % 8 AS INT) AS px,
           ascii(substring(text,
             ((((u.i // 8) * h) // 8) * 3 * w
              + (((u.i % 8) * w) // 8) * 3) % tl + 1,
             1)) AS v
    FROM g, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) u(i)
    """
