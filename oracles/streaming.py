"""Oracles of queries/streaming.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.streaming import _AZ_THRESH, _SS_CAP
from oracles import oracle
from oracles.training import _qd_score_oracle


@oracle("stream_events_hourly")
def _stream_events_hourly_oracle() -> str:
    return """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY hour, event_type
    """


@oracle("stream_dedup_user_firsts")
def _stream_dedup_user_firsts_oracle() -> str:
    return """
    SELECT user_id, event_type, COUNT(*) AS n_first_events
    FROM (
      SELECT user_id, event_type, MIN(event_id) AS event_id
      FROM events GROUP BY user_id, event_type
    ) GROUP BY user_id, event_type
    """


@oracle("stream_user_sessions")
def _stream_user_sessions_oracle() -> str:
    return """
    WITH ordered AS (
      SELECT user_id, ts,
             -- >= : session_window merges on OVERLAP only, so a gap of
             -- exactly 30min starts a new session
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """


@oracle("stream_user_value_totals")
def _stream_user_value_totals_oracle() -> str:
    return """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events WHERE event_type <> 'error'
    GROUP BY user_id
    """


@oracle("stream_stateful_user_stats")
def _stream_stateful_user_stats_oracle() -> str:
    return """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """


@oracle("stream_static_enriched")
def _stream_static_enriched_oracle() -> str:
    return """
    WITH weights(event_type, weight) AS (
      VALUES ('view', 1.0), ('click', 2.0), ('purchase', 10.0),
             ('signup', 5.0), ('error', 0.0)
    )
    SELECT e.event_type, w.weight,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value * w.weight AS DECIMAL(18,6))) AS DOUBLE)
             AS weighted_value
    FROM events e JOIN weights w USING (event_type)
    GROUP BY e.event_type, w.weight
    """


@oracle("stream_ingest_dedup")
def _stream_ingest_dedup_oracle() -> str:
    return """
    WITH hist AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 = 0
    ),
    cand AS (SELECT source, md5(text) AS fp FROM documents)
    SELECT c.source, COUNT(*) AS n_new
    FROM cand c LEFT JOIN hist h ON c.fp = h.fp
    WHERE h.fp IS NULL
    GROUP BY c.source
    """


@oracle("stream_stream_join")
def _stream_stream_join_oracle() -> str:
    return """
    WITH v AS (
      SELECT user_id AS v_user, ts AS v_ts FROM events
      WHERE event_type = 'view'
    ),
    b AS (
      SELECT user_id AS b_user, ts AS b_ts, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT v.v_user, v.v_ts, b.b_ts, b.value
    FROM v JOIN b
      ON v.v_user = b.b_user
     AND b.b_ts >= v.v_ts
     AND b.b_ts <= v.v_ts + INTERVAL 2 HOUR
    """


@oracle("stream_events_sliding")
def _stream_events_sliding_oracle() -> str:
    return """
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE
             AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events, generate_series(0, 3) AS s(k)
    GROUP BY window_start, event_type
    """


@oracle("stream_merge_sink")
def _stream_merge_sink_oracle() -> str:
    return """
    WITH agg AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM events GROUP BY user_id
    )
    SELECT user_id, n, total FROM agg
    UNION ALL
    SELECT -i AS user_id, CAST(0 AS BIGINT) AS n, 0.0 AS total
    FROM unnest(range(1, 6)) AS u(i)
    """


@oracle("stream_python_source_totals")
def _stream_python_source_totals_oracle() -> str:
    return """
    WITH gen AS (
      SELECT i AS seq, (i * 97 + 11) % 1000000007 AS value
      FROM unnest(range(300)) AS u(i)
    )
    SELECT seq % 5 AS grp, COUNT(*) AS n,
           CAST(SUM(value) AS BIGINT) AS value_sum
    FROM gen GROUP BY seq % 5
    """


@oracle("stream_dedup_within_watermark")
def _stream_dedup_within_watermark_oracle() -> str:
    return """
    SELECT user_id, event_type, 1 AS n_kept
    FROM events GROUP BY user_id, event_type
    """


@oracle("stream_heavy_hitters")
def _stream_heavy_hitters_oracle() -> str:
    return """
    WITH c AS (
      SELECT date_trunc('hour', ts) AS hour, user_id, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT hour, user_id, n, rnk FROM (
      SELECT hour, user_id, n,
             CAST(row_number() OVER (
               PARTITION BY hour ORDER BY n DESC, user_id) AS INT) AS rnk
      FROM c
    ) WHERE rnk <= 3
    """


@oracle("stream_heavy_hitters_bounded")
def _stream_heavy_hitters_bounded_oracle() -> str:
    # Exact oracle (r10 VERDICT ask #4): the availableNow drain of a
    # single parquet file is ONE micro-batch (FileStreamSource batches
    # by file), and the update fn pre-aggregates the batch and inserts
    # in (count DESC, user ASC) order — so the final Space-Saving state
    # is a pure deterministic fold over the exact per-(hour,user)
    # counts. The oracle REPLAYS that fold per hour as a DuckDB
    # recursive CTE over a LIST<STRUCT> state: item k either appends
    # (cap not reached) or evicts the minimum candidate by
    # (count ASC, user DESC) — the struct is ordered (c, nu=-u, …) so
    # list_sort(cand)[1] IS that minimum — inheriting its count as the
    # overestimate err, exactly the Python update's eviction rule.
    return f"""
    WITH RECURSIVE items AS (
      SELECT date_trunc('hour', ts) AS hour, user_id AS u,
             COUNT(*) AS w,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY COUNT(*) DESC, user_id ASC)
               AS pos
      FROM events GROUP BY 1, 2
    ),
    sizes AS (SELECT hour, MAX(pos) AS n_items FROM items GROUP BY hour),
    fold(hour, pos, cand) AS (
      SELECT hour, 0,
             CAST([] AS STRUCT(c BIGINT, nu BIGINT, u BIGINT, e BIGINT)[])
      FROM sizes
      UNION ALL
      SELECT f.hour, f.pos + 1,
        CASE WHEN len(f.cand) < {_SS_CAP}
          THEN list_append(f.cand,
               {{'c': i.w, 'nu': -i.u, 'u': i.u, 'e': CAST(0 AS BIGINT)}})
          ELSE list_append(
               list_filter(f.cand, x -> x <> list_sort(f.cand)[1]),
               {{'c': list_sort(f.cand)[1].c + i.w, 'nu': -i.u, 'u': i.u,
                 'e': list_sort(f.cand)[1].c}})
        END
      FROM fold f JOIN items i ON i.hour = f.hour AND i.pos = f.pos + 1
    ),
    last AS (
      SELECT f.hour, f.cand FROM fold f
      JOIN sizes s ON s.hour = f.hour AND f.pos = s.n_items
    ),
    flat AS (SELECT hour, unnest(cand, recursive := true) FROM last)
    SELECT hour, u AS user_id, c AS est, e AS err,
           CAST(row_number() OVER (PARTITION BY hour
                                   ORDER BY c DESC, u ASC) AS INT) AS rnk
    FROM flat QUALIFY rnk <= 3
    """


@oracle("stream_quality_scores")
def _stream_quality_oracle() -> str:
    return _qd_score_oracle()


@oracle("stream_anomaly_zscore")
def _anomaly_oracle() -> str:
    return f"""
    WITH hc AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type,
             CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu,
             sqrt((CAST(SUM(n * n) AS DOUBLE)
                   - CAST(SUM(n) AS DOUBLE) * SUM(n) / COUNT(*))
                  / COUNT(*)) AS sigma
      FROM hc GROUP BY event_type
    )
    SELECT hc.hour, hc.event_type, CAST(hc.n AS BIGINT) AS n,
           round((hc.n - base.mu) / base.sigma, 9) AS z,
           CASE WHEN abs(round((hc.n - base.mu) / base.sigma, 9))
                     >= {_AZ_THRESH!r}
                THEN 1 ELSE 0 END AS is_anomaly
    FROM hc JOIN base USING (event_type)
    """


@oracle("stream_dsir_scores")
def _stream_dsir_oracle() -> str:
    from fuzzy_item_matching_spark.queries.textstats import (
        _DSIR_B,
        _DSIR_Q,
        _DSIR_TGT,
    )
    from oracles.text import _D_TOKENS

    return f"""
    WITH toks AS (
      SELECT doc_id, source, lang,
             CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {_DSIR_B} AS b
      FROM (SELECT doc_id, source, lang,
                   unnest({_D_TOKENS.format(c="text")}) AS t
            FROM documents)
    ),
    buckets AS (SELECT unnest(generate_series(0, {_DSIR_B - 1})) AS b),
    tgt AS (SELECT b, COUNT(*) AS ct FROM toks
            WHERE lang = '{_DSIR_TGT}' GROUP BY b),
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
    dc AS (SELECT doc_id, source, b, COUNT(*) AS c FROM toks
           GROUP BY doc_id, source, b),
    dw AS (
      SELECT dc.doc_id, dc.source,
             CAST(SUM(CAST(floor(dc.c * model.lr * {_DSIR_Q!r})
                           AS BIGINT)) AS DOUBLE) / {_DSIR_Q!r}
               AS log_weight
      FROM dc JOIN model ON dc.b = model.b
      GROUP BY dc.doc_id, dc.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN log_weight > 0.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           round(CAST(SUM(CAST(log_weight AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_log_weight
    FROM dw GROUP BY source
    """


@oracle("stream_state_inspector")
def _stream_state_inspector_oracle() -> str:
    return """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """


@oracle("stream_ewma_control")
def _stream_ewma_oracle() -> str:
    from oracles.relational import _ewma_oracle

    return _ewma_oracle()
