"""Oracles of queries/relational.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.relational import (
    _ABC_A,
    _ABC_B,
    _BLOOM_K,
    _BLOOM_M,
    _BLOOM_SEG,
    _CMJ_D,
    _CMJ_QTY,
    _CMJ_W,
    _CUSUM_H,
    _CUSUM_K,
    _HISTO_BINS,
    _RC_CLOSURE_SQL,
    _RC_EDGES_SQL,
    _RJ_BUCKET_S,
    _SESSION_GAP_S,
    _TDA_HALFLIFE_S,
    _TDA_LOOKBACK_S,
    _ewma_weights,
)
from oracles import oracle


@oracle("rel_pricing_summary")
def _rel_pricing_summary_oracle() -> str:
    return """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """


@oracle("rel_top_revenue_orders")
def _rel_top_revenue_orders_oracle() -> str:
    return """
    SELECT o.o_orderkey, c.c_name,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 10
    """


@oracle("rel_cust_order_stats")
def _rel_cust_order_stats_oracle() -> str:
    return """
    SELECT c.c_custkey, c.c_mktsegment,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    ORDER BY c.c_custkey
    """


@oracle("rel_union_distinct_nations")
def _rel_union_distinct_nations_oracle() -> str:
    return """
    SELECT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey FROM supplier
    ) t GROUP BY nationkey ORDER BY nationkey
    """


@oracle("rel_status_share")
def _rel_status_share_oracle() -> str:
    return """
    WITH g AS (SELECT o_orderstatus, COUNT(*) AS instances FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus, instances,
           CAST(instances AS DOUBLE) / SUM(instances) OVER () AS ratio
    FROM g ORDER BY o_orderstatus
    """


@oracle("rel_price_clean_cast")
def _rel_price_clean_cast_oracle() -> str:
    return """
    SELECT p_partkey,
           '$' || CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
           CAST(REPLACE('$' || CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS VARCHAR), '$', '')
                AS DOUBLE) AS price
    FROM part ORDER BY p_partkey
    """


@oracle("rel_case_buckets")
def _rel_case_buckets_oracle() -> str:
    return """
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY bucket, o_orderpriority ORDER BY bucket, o_orderpriority
    """


@oracle("rel_customers_without_orders")
def _rel_customers_without_orders_oracle() -> str:
    return """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """


@oracle("rel_customers_with_open_orders")
def _rel_customers_with_open_orders_oracle() -> str:
    return """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    ORDER BY c_custkey
    """


@oracle("rel_region_rollup")
def _rel_region_rollup_oracle() -> str:
    return """
    SELECT r.r_name, n.n_name, COUNT(c.c_custkey) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
    """


@oracle("rel_events_hourly")
def _rel_events_hourly_oracle() -> str:
    return """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY hour, event_type ORDER BY hour, event_type
    """


@oracle("rel_top_parts_per_brand")
def _rel_top_parts_per_brand_oracle() -> str:
    return """
    SELECT p_brand, p_partkey, rn FROM (
        SELECT p_brand, p_partkey,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part) t
    WHERE rn <= 3 ORDER BY p_brand, rn
    """


@oracle("rel_order_lines_collect")
def _rel_order_lines_collect_oracle() -> str:
    return """
    SELECT l_orderkey,
           array_to_string(list_sort(list(l_linenumber::VARCHAR)), ',') AS line_numbers,
           COUNT(*) AS n_lines
    FROM lineitem WHERE l_orderkey % 100 = 0
    GROUP BY l_orderkey
    """


@oracle("rel_expr_join_scoring")
def _rel_expr_join_scoring_oracle() -> str:
    return """
    SELECT o.o_orderkey, c.c_name,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c
      ON o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    """


@oracle("rel_segment_distinct_parts")
def _rel_segment_distinct_parts_oracle() -> str:
    return """
    SELECT c.c_mktsegment,
           COUNT(DISTINCT l.l_partkey) AS n_parts,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """


@oracle("rel_intersect_segments")
def _rel_intersect_segments_oracle() -> str:
    return """
    SELECT c_custkey FROM (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ) t
    """


@oracle("rel_except_segments")
def _rel_except_segments_oracle() -> str:
    return """
    SELECT c_custkey FROM (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ) t
    """


@oracle("rel_cube_summary")
def _rel_cube_summary_oracle() -> str:
    return """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """


@oracle("rel_pivot_status_priority")
def _rel_pivot_status_priority_oracle() -> str:
    return """
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS status_p
    FROM orders GROUP BY o_orderpriority
    """


@oracle("rel_asof_join_events")
def _rel_asof_join_events_oracle() -> str:
    return """
    SELECT e.event_id, e.user_id, e.ts,
           c.event_id AS asof_event_id,
           c.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """


@oracle("rel_range_join_bands")
def _rel_range_join_bands_oracle() -> str:
    return """
    WITH bands(band, lo, hi) AS (
      VALUES ('budget', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
             ('premium', 150000.0, 300000.0), ('luxury', 300000.0, 1e12)
    )
    SELECT b.band, COUNT(*) AS n,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """


@oracle("rel_sql_entrypoint")
def _rel_sql_entrypoint_oracle() -> str:
    return """
    SELECT n.n_name,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY n.n_name
    """


@oracle("rel_json_props")
def _rel_json_props_oracle() -> str:
    return """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """


@oracle("rel_latest_event_per_user")
def _rel_latest_event_per_user_oracle() -> str:
    return """
    SELECT user_id, event_id, event_type, value
    FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """


@oracle("rel_audit_referential")
def _rel_audit_referential_oracle() -> str:
    return """
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', COUNT(*)
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', COUNT(*)
    FROM customer c WHERE NOT EXISTS
      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """


@oracle("rel_audit_profile")
def _rel_audit_profile_oracle() -> str:
    return """
    SELECT COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS null_custkey,
           COUNT(*) - COUNT(o_orderstatus) AS null_status,
           COUNT(DISTINCT o_orderstatus) AS n_statuses,
           MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
           MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
    FROM orders
    """


@oracle("rel_price_quantiles")
def _rel_price_quantiles_oracle() -> str:
    return """
    SELECT p_brand,
           COUNT(*) AS n,
           quantile_cont(p_retailprice, 0.5) AS median_price,
           quantile_cont(p_retailprice, 0.9) AS p90_price,
           quantile_cont(p_retailprice, 0.99) AS p99_price
    FROM part GROUP BY p_brand
    """


@oracle("rel_histo_quantiles")
def _rel_histo_quantiles_oracle() -> str:
    return f"""
    WITH v AS (
      SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
    ),
    st AS (
      SELECT l_returnflag, MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n
      FROM v GROUP BY 1
    ),
    b AS (
      SELECT v.l_returnflag,
             CASE WHEN st.mx > st.mn THEN
               LEAST({_HISTO_BINS - 1},
                     CAST(FLOOR((v.v - st.mn) / (st.mx - st.mn)
                                * {_HISTO_BINS}) AS INT))
             ELSE 0 END AS bin
      FROM v JOIN st USING (l_returnflag)
    ),
    h AS (SELECT l_returnflag, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
    cum AS (
      SELECT l_returnflag, bin,
             SUM(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum
      FROM h
    ),
    qs AS (
      SELECT l_returnflag, mn, mx, n, q, CAST(CEIL(q * n) AS BIGINT) AS thr
      FROM st, unnest([0.5, 0.9, 0.99]) AS u(q)
    ),
    sel AS (
      SELECT q.l_returnflag, q.q, q.mn, q.mx, q.n, MIN(c.bin) AS bin
      FROM qs q JOIN cum c USING (l_returnflag)
      WHERE CAST(c.cum AS BIGINT) >= q.thr
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT l_returnflag, q, CAST(n AS BIGINT) AS n, bin,
           mn + (mx - mn) / {_HISTO_BINS} * bin AS est
    FROM sel
    """


@oracle("rel_bloom_semi_join")
def _rel_bloom_semi_join_oracle() -> str:
    return f"""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = '{_BLOOM_SEG}'
    ),
    bpos AS (
      SELECT CAST('0x' || substr(md5(u.j || ':' || b.c_custkey), 1, 8) AS BIGINT)
               % {_BLOOM_M} AS pos
      FROM build b, unnest(range({_BLOOM_K})) AS u(j)
    ),
    filt AS (
      SELECT pos // 32 AS word, bit_or(1 << (pos % 32)) AS bits
      FROM bpos GROUP BY pos // 32
    ),
    ppos AS (
      SELECT o.o_orderkey, o.o_custkey,
             CAST('0x' || substr(md5(u.j || ':' || o.o_custkey), 1, 8) AS BIGINT)
               % {_BLOOM_M} AS pos
      FROM orders o, unnest(range({_BLOOM_K})) AS u(j)
    ),
    probe AS (
      SELECT p.o_orderkey, p.o_custkey,
             CASE WHEN (coalesce(f.bits, 0) & (1 << (p.pos % 32))) <> 0
                  THEN 1 ELSE 0 END AS hit
      FROM ppos p LEFT JOIN filt f ON p.pos // 32 = f.word
    ),
    passed AS (
      SELECT o_orderkey, o_custkey FROM probe
      GROUP BY o_orderkey, o_custkey HAVING SUM(hit) = {_BLOOM_K}
    ),
    truth AS (SELECT DISTINCT c_custkey FROM build)
    SELECT COUNT(*) AS n_orders,
           (SELECT COUNT(*) FROM passed) AS n_bloom_pass,
           CAST(coalesce(SUM(CASE WHEN t.c_custkey IS NOT NULL
                                   THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_true,
           (SELECT COUNT(*) FROM passed) -
           CAST(coalesce(SUM(CASE WHEN t.c_custkey IS NOT NULL
                                  THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_false_pos
    FROM orders o LEFT JOIN truth t ON o.o_custkey = t.c_custkey
    """


@oracle("rel_salted_agg")
def _rel_salted_agg_oracle() -> str:
    return """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """


@oracle("rel_rolling_user_value")
def _rel_rolling_user_value_oracle() -> str:
    return """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec, value
      FROM events
    )
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS val_1h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """


@oracle("rel_user_sessions_batch")
def _rel_user_sessions_batch_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec, value
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(sec) OVER w IS NULL
                       OR sec - lag(sec) OVER w > {_SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sessed AS (
      SELECT *,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id
               ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(sec) AS start_sec, MAX(sec) AS end_sec,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM sessed GROUP BY user_id, session_id
    """


@oracle("rel_grouping_sets")
def _rel_grouping_sets_oracle() -> str:
    return """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """


@oracle("rel_value_outliers")
def _rel_value_outliers_oracle() -> str:
    return """
    WITH stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mean,
             CAST(SUM(CAST(value AS DECIMAL(18,6))
                      * CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mean_sq
      FROM events GROUP BY event_type
    ),
    sig AS (
      SELECT event_type, n, mean,
             sqrt(greatest(mean_sq - mean * mean, 0.0)) AS sigma
      FROM stats
    )
    SELECT s.event_type, s.n, s.mean, s.sigma,
           CAST(SUM(CASE WHEN abs(e.value - s.mean) > 3.0 * s.sigma
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN sig s USING (event_type)
    GROUP BY s.event_type, s.n, s.mean, s.sigma
    """


@oracle("rel_ntile_price_deciles")
def _rel_ntile_price_deciles_oracle() -> str:
    return """
    WITH t AS (
      SELECT p_partkey, p_retailprice,
             NTILE(10) OVER (ORDER BY p_retailprice, p_partkey) AS decile
      FROM part
    )
    SELECT decile, COUNT(*) AS n,
           CAST(MIN(p_retailprice) AS DOUBLE) AS lo,
           CAST(MAX(p_retailprice) AS DOUBLE) AS hi
    FROM t GROUP BY decile
    """


@oracle("rel_scd2_user_state")
def _rel_scd2_user_state_oracle() -> str:
    return """
    WITH e AS (
      SELECT event_id, user_id, event_type,
             epoch_us(ts) // 1000000 AS sec
      FROM events
    ),
    marked AS (
      SELECT *,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    changes AS (SELECT * FROM marked WHERE chg = 1),
    hist AS (
      SELECT user_id, event_type, sec AS valid_from,
             lead(sec) OVER (PARTITION BY user_id
                             ORDER BY sec, event_id) AS valid_to
      FROM changes
    )
    SELECT event_type,
           COUNT(*) AS n_periods,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_current,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 0
                         ELSE valid_to - valid_from END) AS BIGINT)
             AS closed_duration_s
    FROM hist GROUP BY event_type
    """


@oracle("rel_observed_metrics")
def _rel_observed_metrics_oracle() -> str:
    return """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_high
    FROM orders WHERE o_orderstatus = 'O'
    """


@oracle("rel_rows_frame_ma")
def _rel_rows_frame_ma_oracle() -> str:
    return """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec, value
      FROM events
    )
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_window,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS ma3
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """


@oracle("rel_unpivot_metrics")
def _rel_unpivot_metrics_oracle() -> str:
    return """
    SELECT o_orderkey, metric, value FROM (
      SELECT o_orderkey,
             CAST(o_totalprice AS DOUBLE) AS total_price,
             CAST(CAST(substr(o_orderpriority, 1, 1) AS INT) AS DOUBLE) AS priority_grade,
             CAST(o_custkey % 97 AS DOUBLE) AS cust_bucket
      FROM orders WHERE o_orderkey % 100 = 0
    ) UNPIVOT (value FOR metric IN (total_price, priority_grade, cust_bucket))
    """


@oracle("rel_bucketed_range_join")
def _rel_bucketed_range_join_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec, event_type
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(sec) OVER w IS NULL
                       OR sec - lag(sec) OVER w > {_SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WHERE event_type = 'click'
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sessed AS (
      SELECT *,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id
               ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
      FROM flagged
    ),
    s AS (
      SELECT user_id, session_id,
             MIN(sec) - 1800 AS start_sec, MAX(sec) + 1800 AS end_sec
      FROM sessed GROUP BY 1, 2
    ),
    iv AS (
      SELECT user_id, session_id, start_sec, end_sec,
             unnest(generate_series(start_sec // {_RJ_BUCKET_S},
                                    end_sec // {_RJ_BUCKET_S})) AS bucket
      FROM s
    ),
    v AS (
      SELECT user_id, event_id, sec, sec // {_RJ_BUCKET_S} AS bucket
      FROM e WHERE event_type = 'view'
    ),
    hits AS (
      SELECT v.user_id, iv.session_id, v.sec
      FROM v JOIN iv ON v.user_id = iv.user_id AND v.bucket = iv.bucket
      WHERE v.sec BETWEEN iv.start_sec AND iv.end_sec
    )
    SELECT user_id, session_id, COUNT(*) AS n_views,
           MIN(sec) AS first_view, MAX(sec) AS last_view
    FROM hits GROUP BY 1, 2
    """


@oracle("rel_skew_report")
def _rel_skew_report_oracle() -> str:
    return """
    WITH k AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(n) AS BIGINT) AS max_n
      FROM k
    ),
    top1 AS (
      SELECT user_id AS top_user, n FROM k ORDER BY n DESC, user_id LIMIT 1
    ),
    top5 AS (
      SELECT CAST(SUM(n) AS BIGINT) AS t5 FROM (
        SELECT n FROM k ORDER BY n DESC, user_id LIMIT 5
      )
    )
    SELECT s.n_rows, s.n_keys, s.max_n, top1.top_user,
           CAST(s.max_n AS DOUBLE) * s.n_keys / s.n_rows AS skew_ratio,
           CAST(top5.t5 AS DOUBLE) / s.n_rows AS top5_share
    FROM s, top1, top5
    """


@oracle("rel_range_interval_ma")
def _rel_range_interval_ma_oracle() -> str:
    return """
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS sum_1h
    FROM events
    WINDOW w AS (
      PARTITION BY event_type ORDER BY ts
      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """


@oracle("rel_cohort_retention")
def _rel_cohort_retention_oracle() -> str:
    return """
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events
    ),
    c AS (
      SELECT user_id, day,
             MIN(day) OVER (PARTITION BY user_id) AS cohort_day
      FROM d
    ),
    act AS (
      SELECT cohort_day // 7 AS cohort_week,
             (day - cohort_day) // 7 AS week_offset,
             COUNT(DISTINCT user_id) AS n_active
      FROM c GROUP BY 1, 2
    ),
    base AS (
      SELECT cohort_week, n_active AS n_cohort FROM act
      WHERE week_offset = 0
    )
    SELECT a.cohort_week, a.week_offset, a.n_active, b.n_cohort,
           round(a.n_active * 1.0 / b.n_cohort, 9) AS retention
    FROM act a JOIN base b USING (cohort_week)
    ORDER BY a.cohort_week, a.week_offset
    """


@oracle("rel_ewma_control")
def _ewma_oracle() -> str:
    vals = ", ".join(
        f"({k}, {w!r})" for k, w in enumerate(_ewma_weights())
    )
    return f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    lags AS (SELECT * FROM (VALUES {vals}) AS t(lag, w)),
    terms AS (
      SELECT cur.h, cur.n, lags.w, src.n AS n_src
      FROM hourly cur
      CROSS JOIN lags
      JOIN hourly src ON src.h = cur.h - lags.lag
    ),
    e AS (
      SELECT h, n,
             round(CAST(SUM(CAST(round(w * n_src, 9) AS DECIMAL(38,18)))
                        AS DOUBLE)
                   / CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE),
                   9) AS ewma
      FROM terms GROUP BY h, n
    )
    SELECT h, n, ewma,
           CASE WHEN n > 2.0 * ewma THEN 1 ELSE 0 END AS burst
    FROM e ORDER BY h
    """


@oracle("rel_last_touch_attribution")
def _rel_last_touch_attribution_oracle() -> str:
    return """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events
    )
    SELECT COALESCE(touch, '(none)') AS touch,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM o WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY n_purchases DESC, touch
    """


@oracle("rel_recursive_hierarchy")
def _rel_recursive_hierarchy_oracle() -> str:
    return """
    WITH RECURSIVE anc AS (
      SELECT c_custkey, c_custkey AS node, 0 AS depth FROM customer
      UNION ALL
      SELECT c_custkey, node // 10 AS node, depth + 1 AS depth
      FROM anc WHERE node >= 10
    )
    SELECT c_custkey,
           CAST(MAX(depth) AS INT) AS depth,
           CAST(MAX(CASE WHEN node < 10 THEN node END) AS BIGINT) AS root
    FROM anc GROUP BY c_custkey
    """


@oracle("rel_recursive_closure")
def _rel_recursive_closure_oracle() -> str:
    return _RC_CLOSURE_SQL.format(
        edges=_RC_EDGES_SQL.format(
            nation="nation",
            supplier="supplier",
            customer="customer",
            orders="orders",
        ),
        region="region",
    )


@oracle("rel_variant_props")
def _rel_variant_props_oracle() -> str:
    return """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS k_sum,
           CAST(COUNT(CASE WHEN json_extract(props, '$.missing')
                           IS NOT NULL THEN 1 END) AS BIGINT)
             AS n_missing_hits
    FROM events GROUP BY event_type
    """


@oracle("rel_sql_udf_tiers")
def _rel_sql_udf_tiers_oracle() -> str:
    return """
    SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) > 150000.0
                THEN 'high' ELSE 'standard' END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders GROUP BY 1
    """


@oracle("rel_pipe_syntax_pricing")
def _rel_pipe_syntax_pricing_oracle() -> str:
    return """
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM part WHERE p_size >= 25
    GROUP BY p_brand
    ORDER BY total_price DESC, p_brand LIMIT 10
    """


@oracle("rel_sql_table_function")
def _rel_sql_table_function_oracle() -> str:
    return """
    WITH o AS (
      -- floor(x*100 + 0.5): pure-IEEE cents; CAST(DOUBLE AS BIGINT)
      -- itself diverges (DuckDB rounds, Spark truncates)
      SELECT o_orderkey AS okey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    w AS (
      SELECT okey, cents,
             LEAST(4, 1 + CAST(cents // 10000000 AS INT)) AS n
      FROM o
    ),
    x AS (
      SELECT okey, cents, n,
             unnest(generate_series(1, n)) AS inst
      FROM w
    )
    SELECT CAST(inst AS INT) AS inst,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN inst = 1
                         THEN cents - (n - 1) * (cents // n)
                         ELSE cents // n END) AS BIGINT) AS total_cents
    FROM x GROUP BY 1 ORDER BY 1
    """


@oracle("rel_python_udtf_runs")
def _rel_python_udtf_runs_oracle() -> str:
    return """
    WITH flagged AS (
      SELECT o_custkey,
             CASE WHEN o_totalprice > lag(o_totalprice) OVER w
                  THEN 1 ELSE 0 END AS inc
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS INT) AS n_orders,
           CAST(SUM(inc) AS INT) AS n_increases
    FROM flagged GROUP BY 1
    """


@oracle("rel_pandas_udaf_median")
def _rel_pandas_udaf_median_oracle() -> str:
    return """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           median(o_totalprice) AS med_price
    FROM orders GROUP BY o_orderpriority
    """


@oracle("rel_lateral_topk_per_cust")
def _rel_lateral_topk_per_cust_oracle() -> str:
    return """
    SELECT c_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 3
    ) t
    """


@oracle("rel_transpose_status_metrics")
def _rel_transpose_status_metrics_oracle() -> str:
    return """
    WITH m AS (
      SELECT o_orderstatus AS s,
             CAST(COUNT(*) AS DOUBLE) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_price
      FROM orders GROUP BY 1
    )
    SELECT 'n_orders' AS key,
           MAX(CASE WHEN s = 'F' THEN n_orders END) AS "F",
           MAX(CASE WHEN s = 'O' THEN n_orders END) AS "O",
           MAX(CASE WHEN s = 'P' THEN n_orders END) AS "P"
    FROM m
    UNION ALL
    SELECT 'revenue',
           MAX(CASE WHEN s = 'F' THEN revenue END),
           MAX(CASE WHEN s = 'O' THEN revenue END),
           MAX(CASE WHEN s = 'P' THEN revenue END)
    FROM m
    UNION ALL
    SELECT 'avg_price',
           MAX(CASE WHEN s = 'F' THEN avg_price END),
           MAX(CASE WHEN s = 'O' THEN avg_price END),
           MAX(CASE WHEN s = 'P' THEN avg_price END)
    FROM m
    """


@oracle("rel_cm_join_size")
def _rel_cm_join_size_oracle() -> str:
    return f"""
    WITH ca AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
                FROM lineitem GROUP BY 1),
    cb AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
           FROM lineitem WHERE l_quantity > {_CMJ_QTY} GROUP BY 1),
    ha AS (SELECT k, c, u.r,
                  CAST('0x' || substr(md5(u.r || ':' || CAST(k AS VARCHAR)), 1, 8)
                    AS BIGINT) % {_CMJ_W} AS bucket
           FROM ca, unnest(range({_CMJ_D})) AS u(r)),
    hb AS (SELECT k, c, u.r,
                  CAST('0x' || substr(md5(u.r || ':' || CAST(k AS VARCHAR)), 1, 8)
                    AS BIGINT) % {_CMJ_W} AS bucket
           FROM cb, unnest(range({_CMJ_D})) AS u(r)),
    cma AS (SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS c
            FROM ha GROUP BY 1, 2),
    cmb AS (SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS c
            FROM hb GROUP BY 1, 2),
    est AS (SELECT cma.r AS r, CAST(SUM(cma.c * cmb.c) AS BIGINT) AS est_size
            FROM cma JOIN cmb USING (r, bucket) GROUP BY 1),
    tru AS (SELECT CAST(SUM(ca.c * cb.c) AS BIGINT) AS true_size
            FROM ca JOIN cb USING (k))
    SELECT CAST(est.r AS INT) AS r, est.est_size, tru.true_size,
           est.est_size - tru.true_size AS overcount
    FROM est CROSS JOIN tru
    """


@oracle("rel_time_decay_attribution")
def _rel_time_decay_attribution_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) // 1000000 AS sec
      FROM events
    ),
    p AS (SELECT user_id, event_id AS pid, sec AS tp FROM ev
          WHERE event_type = 'purchase'),
    t AS (SELECT user_id, event_id AS tid, event_type AS touch, sec AS te
          FROM ev WHERE event_type <> 'purchase'),
    j AS (
      SELECT p.pid, t.touch,
             1.0 / CAST(1 << ((p.tp - t.te) // {_TDA_HALFLIFE_S}) AS DOUBLE)
               AS w
      FROM p JOIN t ON t.user_id = p.user_id
       AND t.te < p.tp AND p.tp - t.te <= {_TDA_LOOKBACK_S}
    ),
    sw AS (SELECT pid, touch, w,
                  SUM(w) OVER (PARTITION BY pid) AS tot
           FROM j)
    SELECT touch,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(CAST(w / tot AS DECIMAL(38,18))) AS DOUBLE) AS credit
    FROM sw GROUP BY touch
    """


@oracle("rel_cusum_changepoints")
def _rel_cusum_changepoints_oracle() -> str:
    return f"""
    WITH y AS (
      SELECT user_id, ts, event_id,
             CAST(value AS DECIMAL(18,2)) - CAST({_CUSUM_K} AS DECIMAL(18,2))
               AS dev
      FROM events
    ),
    p AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(38,2)) AS pre
      FROM y
    ),
    m AS (
      SELECT user_id, ts, pre,
             MIN(pre) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS runmin
      FROM p
    ),
    c AS (
      SELECT user_id, ts,
             pre - LEAST(CAST(0.00 AS DECIMAL(38,2)), runmin) AS cusum
      FROM m
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_alarms,
           CAST(MAX(cusum) AS DOUBLE) AS max_cusum,
           MIN(ts) AS first_alarm_ts
    FROM c
    WHERE cusum > CAST({_CUSUM_H} AS DECIMAL(38,2))
    GROUP BY user_id
    """


# alpha / beta are EXACT binary fractions (1/2, 1/4): every smoothing
# step is IEEE-exact scaling + addition, so both engines walk an
# identical double sequence with no per-step quantization needed.
_HOLT_DAILY_SQL = """
    daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM {events} GROUP BY CAST(ts AS DATE)
    ),
    idx AS (
      SELECT d, n,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) - 1 AS i
      FROM daily
    )
"""


_HOLT_REC_SQL = """
    WITH RECURSIVE
    {series}
    holt(i, lvl, trend) AS (
      SELECT a.i, CAST(a.n AS DOUBLE) AS lvl,
             CAST(b.n AS DOUBLE) - CAST(a.n AS DOUBLE) AS trend
      FROM {idx} a JOIN {idx} b ON a.i = 0 AND b.i = 1
      UNION ALL
      SELECT r.i + 1,
             0.5 * CAST(d.n AS DOUBLE) + 0.5 * (r.lvl + r.trend),
             0.25 * ((0.5 * CAST(d.n AS DOUBLE) + 0.5 * (r.lvl + r.trend))
                     - r.lvl)
               + 0.75 * r.trend
      FROM holt r JOIN {idx} d ON d.i = r.i + 1
      WHERE r.i < 95
    )
    SELECT h.i AS day_idx, x.n AS n_events, h.lvl, h.trend,
           h.lvl + h.trend AS fc_next
    FROM holt h JOIN {idx} x ON x.i = h.i
"""


@oracle("rel_holt_forecast")
def _rel_holt_forecast_oracle() -> str:
    return _HOLT_REC_SQL.format(
        series=_HOLT_DAILY_SQL.format(events="events") + ",",
        idx="idx",
    )


@oracle("rel_skyline_parts")
def _rel_skyline_parts_oracle() -> str:
    return """
    WITH pts AS (
      SELECT CAST(p_retailprice AS DECIMAL(18,2)) AS price, p_size,
             CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(MIN(p_partkey) AS BIGINT) AS min_partkey
      FROM part GROUP BY 1, 2
    ),
    d AS (
      SELECT price, p_size, n_parts, min_partkey,
             MAX(p_size) OVER (ORDER BY price ASC, p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS best_prev
      FROM pts
    )
    SELECT CAST(price AS DOUBLE) AS price, p_size, n_parts, min_partkey
    FROM d WHERE best_prev IS NULL OR best_prev < p_size
    """


@oracle("rel_bitmap_overlap")
def _rel_bitmap_overlap_oracle() -> str:
    return """
    WITH m AS (
      SELECT DISTINCT p.p_brand AS brand, o.o_custkey AS ck
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    w AS (
      SELECT brand, ck // 63 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(ck % 63 AS INT)) AS word
      FROM m GROUP BY brand, ck // 63
    ),
    sizes AS (
      SELECT brand, CAST(SUM(bit_count(word)) AS BIGINT) AS n
      FROM w GROUP BY brand
    ),
    inter AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(SUM(bit_count(a.word & b.word)) AS BIGINT) AS n_common
      FROM w a JOIN w b
        ON b.word_idx = a.word_idx AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT i.brand_a, i.brand_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
           CAST(i.n_common AS DOUBLE)
             / CAST(sa.n + sb.n - i.n_common AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.brand = i.brand_a
    JOIN sizes sb ON sb.brand = i.brand_b
    WHERE i.n_common > 0
    """


@oracle("rel_abc_classes")
def _rel_abc_classes_oracle() -> str:
    return f"""
    WITH rev AS (
      SELECT l_partkey AS pk,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(r) AS DOUBLE) AS t FROM rev),
    ranked AS (
      SELECT pk, r,
             CAST(SUM(r) OVER (ORDER BY r DESC, pk ASC
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cum
      FROM rev
    ),
    classed AS (
      SELECT pk, r,
             CASE WHEN cum / tot.t <= {_ABC_A!r} THEN 'A'
                  WHEN cum / tot.t <= {_ABC_B!r} THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked CROSS JOIN tot
    )
    SELECT abc,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS DOUBLE) AS revenue,
           CAST(SUM(r) AS DOUBLE) / tot.t AS revenue_share
    FROM classed CROSS JOIN tot
    GROUP BY abc, tot.t
    """


@oracle("rel_benford_audit")
def _rel_benford_audit_oracle() -> str:
    return """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS INT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs)
    SELECT o.d AS digit, o.n AS observed,
           ROUND(CAST(o.n AS DOUBLE) / t.t, 9) AS observed_share,
           ROUND(log10(1.0 + 1.0 / o.d), 9) AS benford_share,
           ROUND(
             CAST(t.t AS DOUBLE)
             * (CAST(o.n AS DOUBLE) / t.t - log10(1.0 + 1.0 / o.d))
             * (CAST(o.n AS DOUBLE) / t.t - log10(1.0 + 1.0 / o.d))
             / log10(1.0 + 1.0 / o.d), 9) AS chi2_term
    FROM obs o CROSS JOIN tot t
    """


@oracle("rel_gini_concentration")
def _rel_gini_concentration_oracle() -> str:
    return """
    WITH rev AS (
      SELECT l_partkey AS pid,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, pid) AS i FROM rev
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(r) AS s,
             SUM(CAST(i AS DECIMAL(38,2)) * r) AS si
      FROM ranked
    )
    SELECT n AS n_parts, CAST(s AS DOUBLE) AS total_revenue,
           ROUND(2.0 * CAST(si AS DOUBLE) / (n * CAST(s AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / n, 9) AS gini
    FROM agg
    """


@oracle("rel_fifo_allocation")
def _rel_fifo_allocation_oracle() -> str:
    return """
    WITH seq AS (
      SELECT o_custkey AS cust, o_orderkey AS okey,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM orders
    ),
    budget AS (
      SELECT c_custkey AS cust,
             CAST(GREATEST(c_acctbal, 0) AS DECIMAL(18,2)) AS bal
      FROM customer
    ),
    alloc AS (
      SELECT s.cust, s.okey, s.price,
             CASE WHEN s.cum <= b.bal THEN s.price
                  WHEN s.cum - s.price >= b.bal THEN CAST(0 AS DECIMAL(18,2))
                  ELSE CAST(b.bal - (s.cum - s.price) AS DECIMAL(18,2))
             END AS funded
      FROM seq s JOIN budget b ON b.cust = s.cust
    )
    SELECT cust, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN funded = price AND price > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS fully_funded,
           CAST(SUM(funded) AS DOUBLE) AS funded_total,
           CAST(SUM(price - funded) AS DOUBLE) AS unfunded_total
    FROM alloc
    GROUP BY cust
    HAVING SUM(price - funded) > 0
    """


@oracle("rel_seq_patterns")
def _rel_seq_patterns_oracle() -> str:
    return """
    WITH firsts AS (
      SELECT user_id, event_type,
             MIN(ts) AS t0, MIN(event_id) AS eid
      FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
      SELECT a.event_type AS ante, b.event_type AS conseq
      FROM firsts a JOIN firsts b
        ON a.user_id = b.user_id
       AND a.event_type <> b.event_type
       AND (a.t0 < b.t0 OR (a.t0 = b.t0 AND a.eid < b.eid))
    ),
    users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u FROM events)
    SELECT p.ante, p.conseq, CAST(COUNT(*) AS BIGINT) AS support_users,
           ROUND(CAST(COUNT(*) AS DOUBLE) / users.u, 9) AS support
    FROM pairs p CROSS JOIN users
    GROUP BY p.ante, p.conseq, users.u
    """


@oracle("rel_theil_decomposition")
def _rel_theil_decomposition_oracle() -> str:
    return """
    WITH spend AS (
      SELECT c.c_custkey, c.c_nationkey AS s,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(y, 2) AS DECIMAL(38,2))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM spend
    ),
    total_t AS (
      SELECT CAST(SUM(CAST(round((y / t.mu) * ln(y / t.mu), 12)
                 AS DECIMAL(38,18))) AS DOUBLE) / t.n AS theil
      FROM spend, tot t GROUP BY t.n
    ),
    gmeans AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS ns,
             CAST(SUM(CAST(round(y, 2) AS DECIMAL(38,2))) AS DOUBLE)
               / COUNT(*) AS mus
      FROM spend GROUP BY s
    ),
    groups AS (
      SELECT g.s, g.ns, g.mus,
             CAST(SUM(CAST(round((sp.y / g.mus) * ln(sp.y / g.mus), 12)
                  AS DECIMAL(38,18))) AS DOUBLE) / g.ns AS ts
      FROM spend sp JOIN gmeans g ON g.s = sp.s
      GROUP BY g.s, g.ns, g.mus
    ),
    decomp AS (
      SELECT
        CAST(SUM(CAST(round((CAST(g.ns AS DOUBLE) / t.n) * (g.mus / t.mu)
             * g.ts, 12) AS DECIMAL(38,18))) AS DOUBLE) AS within_,
        CAST(SUM(CAST(round((CAST(g.ns AS DOUBLE) / t.n) * (g.mus / t.mu)
             * ln(g.mus / t.mu), 12) AS DECIMAL(38,18))) AS DOUBLE)
          AS between_
      FROM groups g, tot t GROUP BY t.n, t.mu
    )
    SELECT t.n AS n_customers,
           round(tt.theil, 9) AS theil_total,
           round(d.within_, 9) AS theil_within,
           round(d.between_, 9) AS theil_between
    FROM tot t, total_t tt, decomp d
    """


@oracle("rel_seasonal_decompose")
def _rel_seasonal_decompose_oracle() -> str:
    return """
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(month(o_orderdate) AS INT) AS moy,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS yd
      FROM orders GROUP BY 1, 2
    ),
    lagged AS (
      SELECT moy, CAST(yd AS DOUBLE) AS y,
             lag(yd, 6) OVER w AS l6, lag(yd, 5) OVER w AS l5,
             lag(yd, 4) OVER w AS l4, lag(yd, 3) OVER w AS l3,
             lag(yd, 2) OVER w AS l2, lag(yd, 1) OVER w AS l1,
             lead(yd, 1) OVER w AS r1, lead(yd, 2) OVER w AS r2,
             lead(yd, 3) OVER w AS r3, lead(yd, 4) OVER w AS r4,
             lead(yd, 5) OVER w AS r5, lead(yd, 6) OVER w AS r6,
             yd
      FROM monthly WINDOW w AS (ORDER BY m)
    ),
    detrended AS (
      SELECT moy,
             round(y - CAST(l6 + r6
                            + 2 * (l5 + l4 + l3 + l2 + l1 + yd
                                   + r1 + r2 + r3 + r4 + r5)
                            AS DOUBLE) / 24.0, 6) AS d
      FROM lagged WHERE l6 IS NOT NULL AND r6 IS NOT NULL
    ),
    raw AS (
      SELECT moy, CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS s
      FROM detrended GROUP BY 1
    ),
    ctr AS (
      SELECT CAST(SUM(CAST(round(s, 6) AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*) AS mean_s
      FROM raw
    )
    SELECT moy, n_obs, round(s - mean_s, 6) AS seasonal_index
    FROM raw, ctr
    """


@oracle("rel_rfm_segmentation")
def _rel_rfm_segmentation_oracle() -> str:
    return """
    WITH per_cust AS (
      SELECT o_custkey AS ck, max(o_orderdate) AS last_d,
             CAST(COUNT(*) AS BIGINT) AS f,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
    scored AS (
      SELECT CAST(ntile(5) OVER (
               ORDER BY datediff('day', last_d, maxd), ck) AS INT) AS r_s,
             CAST(ntile(5) OVER (ORDER BY f DESC, ck) AS INT) AS f_s,
             CAST(ntile(5) OVER (ORDER BY m DESC, ck) AS INT) AS m_s,
             f, m
      FROM per_cust, mx
    )
    SELECT CAST(r_s * 100 + f_s * 10 + m_s AS INT) AS rfm_code,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(m) AS DOUBLE), 2) AS monetary_total,
           round(CAST(SUM(f) AS DOUBLE) / COUNT(*), 9) AS avg_frequency
    FROM scored GROUP BY 1
    """
