"""Oracles of queries/sources.py, keyed by query name."""

from __future__ import annotations

from fuzzy_item_matching_spark.queries.sources import _Z_EPOCH
from oracles import oracle
from oracles.zorder import zorder_key_sql


@oracle("src_csv_roundtrip")
def _src_csv_roundtrip_oracle() -> str:
    return """
    SELECT r.r_name, COUNT(*) AS n_nations,
           MIN(n.n_name) AS first_nation
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """


@oracle("src_parquet_write_read")
def _src_parquet_write_read_oracle() -> str:
    return """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """


@oracle("src_partitioned_prune")
def _src_partitioned_prune_oracle() -> str:
    return """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """


@oracle("src_archive_ingest")
def _src_archive_ingest_oracle() -> str:
    return """
    WITH a(id, name, price) AS (
      VALUES (1, 'alpha kettle', 12.50), (2, 'beta toaster', 30.00),
             (3, 'gamma blender', 45.25)
    ),
    b(id, name, price) AS (
      VALUES (10, 'alpha kettle deluxe', 14.00), (11, 'delta mixer', 52.75)
    )
    SELECT src, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM (SELECT 'a' AS src, * FROM a UNION ALL SELECT 'b', * FROM b)
    GROUP BY src
    """


_D_U = (
    "(CAST(CAST('0x' || substr(md5('42:' || CAST({key} AS VARCHAR)), 1, 8)"
    " AS BIGINT) AS DOUBLE) / 4294967296.0)"
)


@oracle("src_keyed_sample")
def _src_keyed_sample_oracle() -> str:
    return f"""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem
    WHERE {_D_U.format(key="l_orderkey || '|' || l_linenumber")} < 0.1
    GROUP BY l_returnflag
    """


@oracle("src_orc_roundtrip")
def _src_orc_roundtrip_oracle() -> str:
    return """
    SELECT p_brand, COUNT(*) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           MIN(p_name) AS first_name
    FROM part WHERE p_size >= 25
    GROUP BY p_brand
    """


@oracle("src_jsonl_roundtrip")
def _src_jsonl_roundtrip_oracle() -> str:
    return """
    SELECT s_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """


@oracle("src_python_datasource")
def _src_python_datasource_oracle() -> str:
    return """
    WITH gen AS (
      SELECT p.part_id, s.seq,
             (p.part_id * 1000003 + s.seq * 97) % 1000000007 AS value
      FROM unnest(range(8)) AS p(part_id),
           unnest(range(1000)) AS s(seq)
    )
    SELECT part_id, COUNT(*) AS n,
           CAST(SUM(value) AS BIGINT) AS value_sum,
           CAST(MIN(value) AS BIGINT) AS value_min,
           CAST(MAX(value) AS BIGINT) AS value_max
    FROM gen GROUP BY part_id
    """


@oracle("src_schema_evolution")
def _src_schema_evolution_oracle() -> str:
    return """
    WITH unioned AS (
      SELECT n_nationkey, n_name, NULL::BIGINT AS pop
      FROM nation WHERE n_regionkey < 2
      UNION ALL
      SELECT n_nationkey, n_name, n_nationkey * 1000 AS pop
      FROM nation WHERE n_regionkey >= 2
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(coalesce(pop, 0)) AS BIGINT) AS pop_sum,
           CAST(SUM(CASE WHEN pop IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_old_schema
    FROM unioned
    """


@oracle("src_dynamic_partition_overwrite")
def _src_dynamic_partition_overwrite_oracle() -> str:
    return """
    WITH final AS (
      SELECT o_orderstatus, o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY o_orderstatus
    """


@oracle("src_compaction")
def _src_compaction_oracle() -> str:
    return """
    SELECT 64 AS n_files_before, 4 AS n_files_after,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    """


@oracle("src_time_travel")
def _src_time_travel_oracle() -> str:
    return """
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    ),
    upd AS (
      SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
      FROM v1 WHERE o_orderkey % 10 = 0
    ),
    v2 AS (
      SELECT v1.o_orderkey, v1.o_totalprice FROM v1
      WHERE NOT EXISTS (SELECT 1 FROM upd WHERE upd.o_orderkey = v1.o_orderkey)
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM upd
    )
    SELECT
      (SELECT COUNT(*) FROM v1) AS v1_rows,
      (SELECT COUNT(*) FROM v2) AS v2_rows,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       FROM v1) AS v1_total,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       FROM v2) AS v2_total
    """


_Z_DUCK = zorder_key_sql(
    "o_custkey", f"date_diff('day', DATE '{_Z_EPOCH}', o_orderdate)"
)


@oracle("src_zorder_layout")
def _zorder_layout_oracle() -> str:
    return f"""
    WITH z AS (
      SELECT o_custkey,
             date_diff('day', DATE '1992-01-01', o_orderdate) AS day,
             {_Z_DUCK} AS zkey
      FROM orders
    )
    SELECT CAST(zkey >> 16 AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
           MIN(day) AS min_day, MAX(day) AS max_day
    FROM z GROUP BY bucket
    """


@oracle("src_snapshot_diff")
def _src_snapshot_diff_oracle() -> str:
    return """
    WITH v1 AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 13 != 3
    ),
    v2 AS (
      SELECT o_orderkey,
             CAST(o_totalprice AS DECIMAL(18,2))
               + CASE WHEN o_orderkey % 7 = 0
                      THEN CAST(5.00 AS DECIMAL(18,2))
                      ELSE CAST(0.00 AS DECIMAL(18,2)) END AS price
      FROM orders WHERE o_orderkey % 11 != 5
    ),
    d AS (
      SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                  WHEN v2.o_orderkey IS NULL THEN 'removed'
                  WHEN v1.price != v2.price THEN 'changed'
                  ELSE 'unchanged' END AS status,
             coalesce(v2.price, 0) - coalesce(v1.price, 0) AS delta
      FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    )
    SELECT status, COUNT(*) AS n,
           CAST(SUM(delta) AS DOUBLE) AS price_delta
    FROM d GROUP BY status
    """


@oracle("src_scd2_history")
def _src_scd2_history_oracle() -> str:
    return """
    WITH base AS (
      SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer
    ),
    delta AS (
      SELECT c_custkey,
             bal + CAST('100.00' AS DECIMAL(18,2)) AS new_bal
      FROM base WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey, bal AS new_bal
      FROM base WHERE c_custkey % 13 = 0
    ),
    j AS (
      SELECT COALESCE(b.c_custkey, d.c_custkey) AS c_custkey,
             b.bal, d.new_bal,
             b.c_custkey IS NOT NULL AS in_base,
             d.c_custkey IS NOT NULL AS in_delta
      FROM base b FULL OUTER JOIN delta d ON b.c_custkey = d.c_custkey
    ),
    hist AS (
      -- closed-out prior versions (value actually changed)
      SELECT c_custkey, bal, 0 AS valid_from, 1 AS valid_to
      FROM j WHERE in_base AND in_delta AND bal <> new_bal
      UNION ALL
      -- still-current untouched (or no-op delta) rows
      SELECT c_custkey, bal, 0 AS valid_from, NULL AS valid_to
      FROM j WHERE in_base AND (NOT in_delta OR bal = new_bal)
      UNION ALL
      -- new current versions: changed keys + inserts
      SELECT c_custkey, new_bal AS bal, 1 AS valid_from, NULL AS valid_to
      FROM j WHERE in_delta AND (NOT in_base OR bal <> new_bal)
    )
    SELECT c_custkey, CAST(bal AS DOUBLE) AS bal,
           CAST(valid_from AS INT) AS valid_from,
           CAST(valid_to AS INT) AS valid_to,
           valid_to IS NULL AS is_current
    FROM hist
    """


@oracle("src_quarantine_split")
def _src_quarantine_split_oracle() -> str:
    return """
    WITH raw AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 19 = 1 THEN -o_totalprice
                  ELSE o_totalprice END AS price,
             CASE WHEN o_orderkey % 23 = 2 THEN 'X'
                  ELSE o_orderstatus END AS status,
             CASE WHEN o_orderkey % 29 = 3 THEN NULL
                  ELSE o_custkey END AS custkey
      FROM orders
    ),
    flagged AS (
      SELECT list_filter([
               CASE WHEN price <= 0 THEN 'nonpositive_price' END,
               CASE WHEN status NOT IN ('O', 'F', 'P') THEN 'bad_status' END,
               CASE WHEN custkey IS NULL THEN 'null_custkey' END
             ], x -> x IS NOT NULL) AS reasons
      FROM raw
    )
    SELECT reason, COUNT(*) AS n FROM (
      SELECT unnest(CASE WHEN len(reasons) = 0 THEN ['valid']
                    ELSE reasons END) AS reason
      FROM flagged
    ) GROUP BY reason
    """


@oracle("src_bucketed_colocated_join")
def _src_bucketed_colocated_join_oracle() -> str:
    return """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
             AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """


@oracle("src_file_metadata")
def _src_file_metadata_oracle() -> str:
    return """
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM orders GROUP BY o_orderstatus
    """
