"""Relational core queries (SURVEY.md §2.A/B/C/D/E/F).

Each query exercises reference operators over the driver's TPC-H-ish
testdata and carries an exact DuckDB oracle. Float-summing queries go
through DECIMAL so the result is order-insensitive and bit-identical
across engines (see queries/__init__ determinism rules).

Reference citations are per-query; shorthand NB1/NB2/NB3 as in SURVEY.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.queries import query
from fuzzy_item_matching_spark.tables import load_table


def _dec(c: str, scale: int = 2) -> F.Column:
    return F.col(c).cast(f"decimal(18,{scale})")


@query("rel_pricing_summary")
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style scan→filter→hash-aggregate (A1 `NB2:264-268`,
    P6 filter, P1/P2 projections). Catalyst plan: parquet scan with
    pushed timestamp filter → partial+final hash agg; one shuffle on the
    2-value group key."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 4)))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("rel_top_revenue_orders")
def rel_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join (J1 `NB1:489-494`) + global sort (P9 `NB3:578-579`) +
    limit (P8). customer is the small side — broadcast-hash join, no
    shuffle of orders; TakeOrderedAndProject avoids a full sort at scale."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "o_orderkey",
            "c_name",
            _dec("o_totalprice").cast("double").alias("total_price"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(10)
    )


@query("rel_cust_order_stats")
def rel_cust_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer labeling join + COALESCE default (J2/P5,
    `NB2:233-242`): customers keep a row even with zero orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
        )
    )


@query("rel_union_distinct_nations")
def rel_union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union (bag, U1 `NB1:159`) + distinct (U2/U3 `NB2:212-218`):
    PySpark union == SQL UNION ALL; the explicit distinct() gives set
    semantics, executed as a partial+final hash aggregate."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct().orderBy("nationkey")


@query("rel_status_share")
def rel_status_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance ratio via unpartitioned window sum — exactly the
    reference's W1 (`NB2:264-271`). Physical plan: hash agg, then a
    single-partition window; the windowed input is |groups| rows, so the
    1-partition exchange is O(groups), safe at any scale."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("instances"))
    w = Window.partitionBy()
    return g.withColumn(
        "ratio", F.col("instances").cast("double") / F.sum("instances").over(w)
    ).orderBy("o_orderstatus")


@query("rel_price_clean_cast")
def rel_price_clean_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's price-cleaning expression — replace('$','') + cast
    (P3, `NB1:66`) — round-tripped through a dollar-formatted string.
    Pure narrow projection: no shuffle, whole-stage codegen."""
    p = load_table(spark, sf_dir, "part")
    price_str = F.concat(F.lit("$"), _dec("p_retailprice").cast("string"))
    return p.select(
        "p_partkey",
        price_str.alias("price_str"),
        F.regexp_replace(price_str, r"\$", "").cast("double").alias("price"),
    )


@query("rel_case_buckets")
def rel_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-expression evaluation (P7 `f.expr`, `NB3:103-105`) — CASE
    buckets + group-by, driven through F.expr like the reference does."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.expr(
                "CASE WHEN o_totalprice < 50000 THEN 'small' "
                "WHEN o_totalprice < 150000 THEN 'medium' ELSE 'large' END"
            ),
        )
        .groupBy("bucket", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket", "o_orderpriority")
    )


@query("rel_customers_without_orders")
def rel_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (relational-core completeness; SURVEY §2.C notes the
    reference has none). Spark: left_anti — the build side streams, no
    row materialization of the non-matching side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query("rel_customers_with_open_orders")
def rel_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS). The status filter pushes below the join into
    the orders scan (PushedFilters in the physical plan)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, o.o_custkey == c.c_custkey, "left_semi").select("c_custkey")


@query("rel_region_rollup")
def rel_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregate (SURVEY §2.E: 'engine gets grouping
    sets free from Spark SQL'). nation/region are tiny dims → broadcast
    joins; rollup is a single expand+agg, no extra shuffle rounds."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
        .orderBy(F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


@query("rel_events_hourly")
def rel_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour batch aggregation over the events table — the batch
    twin of the streaming window query (queries/streaming.py); identical
    results is the batch-equivalence check SURVEY §7.2 stage 8 calls for."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value", 6)).cast("double").alias("total_value"),
        )
        .orderBy("hour", "event_type")
    )


@query("rel_top_parts_per_brand")
def rel_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranking window — the partitioned-window
    capability SURVEY §2.F says the engine should expose beyond the
    reference's single global window. Deterministic tie-break on key."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "rn")
        .orderBy("p_brand", "rn")
    )


@query("rel_order_lines_collect")
def rel_order_lines_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by collect_list (A2, `01_Feature Engineering.py:228-249`):
    collapse exploded rows back to one array per entity. collect_list
    order is nondeterministic after a shuffle, so the array is sorted
    before rendering — the reference's SQLTransformer has the same
    property (it never relies on element order)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(
            ",", F.array_sort(F.collect_list(F.col("l_linenumber").cast("string")))
        ).alias("line_numbers"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query("rel_expr_join_scoring")
def rel_expr_join_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join on an expression condition against an aliased side (J3/J5,
    `03_Train & Deploy Model.py:71-76, 567-570`): the reference joins
    `features.alias('A')` with `f.expr('idA = A.id')`. Catalyst still
    extracts the equi-key for a hash join; the residual predicate
    filters in-stage (and pushes into the orders scan)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").alias("C")
    return o.join(
        c, F.expr("o_custkey = C.c_custkey AND o_totalprice > 400000")
    ).select(
        "o_orderkey",
        "c_name",
        _dec("o_totalprice").cast("double").alias("total_price"),
    )


@query("rel_segment_distinct_parts")
def rel_segment_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + distinct aggregate (J1 chain, A-family). orders and
    customer broadcast under AQE at small SF; at scale the l_orderkey
    join shuffles once and the distinct agg expands in the same stage."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("c_mktsegment")
    )


@query("rel_intersect_segments")
def rel_intersect_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics) — relational-core completeness (the
    reference has none; SURVEY §2.D says include them anyway).
    Customers with both finished and open orders."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return f.intersect(op)


@query("rel_except_segments")
def rel_except_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): customers with finished but no open
    orders."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return f.subtract(op)  # subtract = EXCEPT DISTINCT; exceptAll is bag
    # semantics (a customer with 3 F-orders and 1 O-order would survive
    # with 2 occurrences)


@query("rel_cube_summary")
def rel_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate (all grouping-set combinations) — free from
    Spark SQL per SURVEY §2.E; a single expand + hash agg, one
    shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@query("rel_pivot_status_priority")
def rel_pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation). Explicit value list keeps
    the plan a single pass — Spark's two-pass value discovery is the
    scale trap pivot beginners hit."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@query("rel_asof_join_events")
def rel_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time): each error event picks up the same
    user's latest click at-or-before it. Implemented with the
    union-and-carry pattern (operators/asof.py) — one shuffle on
    user_id, one ordered window, no per-pair work — vs the naive
    quadratic theta-join. DuckDB's native ASOF JOIN is the oracle."""
    from fuzzy_item_matching_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), "event_id", "value"
    )
    return asof_join(
        errors, clicks, key="user_id", left_ts="ts", right_ts="cts",
        payload_cols=["event_id", "value"],
    ).select(
        "event_id", "user_id", "ts",
        F.col("asof_event_id"), F.col("asof_value"),
    )


@query("rel_range_join_bands")
def rel_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: orders against a tiny band dimension on
    lo ≤ price < hi. With a broadcast side this is a
    BroadcastNestedLoopJoin — fine because |bands| is constant; a
    big-big range join would instead bucket both sides by
    floor(value/width) and equi-join the bucket (same pattern as the
    LSH joins)."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("budget", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
         ("premium", 150000.0, 300000.0), ("luxury", 300000.0, 1e12)],
        ["band", "lo", "hi"],
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


@query("rel_sql_entrypoint")
def rel_sql_entrypoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL API surface: tables registered as temp views, the
    query text handed to spark.sql — same Catalyst plan as the
    DataFrame form (the reference mixes both freely; SQLTransformer
    T13, f.expr P7). Proves the catalog registration path works for
    users who live in SQL."""
    from fuzzy_item_matching_spark.tables import load_tables

    load_tables(spark, sf_dir, register=True)
    return spark.sql(
        """
        SELECT n.n_name,
               COUNT(DISTINCT c.c_custkey) AS n_customers,
               COUNT(o.o_orderkey) AS n_orders
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name
        """
    )


@query("rel_json_props")
def rel_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface: events.props parsed with a TYPED
    from_json schema (not string get_json_object probing), then plain
    integer aggregation — exact at any parallelism. At 100 TB parsing
    is a row-local map-side expression; declaring the schema up front
    keeps the parsed struct inside codegen and lets projection pruning
    drop unused keys."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json("props", "k INT").getField("k").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@query("rel_latest_event_per_user")
def rel_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key — the CDC/compaction primitive: one
    row_number window per key ordered by recency with a unique
    tie-break. At 100 TB this is one shuffle on the key; map-side the
    window needs only a per-partition sort, and AQE handles hot keys.
    (The MERGE operator covers the incremental form; this is the
    batch-compaction twin.)"""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@query("rel_audit_referential")
def rel_audit_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the standing data-quality gate of
    any pipeline: orphan counts for three FK edges as one unioned plan
    of left-anti joins. Each anti-join shuffles on its key (broadcast
    where the parent side is small); counts are map-side partial. At
    100 TB this is the cheap pre-flight before an expensive join would
    silently drop rows."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def orphans(child: DataFrame, ck: str, parent: DataFrame, pk: str, label: str) -> DataFrame:
        return (
            child.join(parent, child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(orphans(o, "o_custkey", c, "c_custkey", "orders->customer"))
        .unionByName(orphans(c, "c_nationkey", F.broadcast(n), "n_nationkey", "customer->nation"))
    )


@query("rel_audit_profile")
def rel_audit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profile — the schema-drift/null-rate check a pipeline runs
    before trusting a new partition: row count, per-column null counts,
    key cardinality and ranges, in ONE aggregation pass (no per-column
    jobs). All counts/min/max combine map-side; the only shuffle is the
    single final-aggregate exchange."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).alias("null_status"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


@query("rel_price_quantiles")
def rel_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (`percentile` /
    quantile_cont — both engines sort-and-interpolate identically, so
    the oracle is value-exact). Exact percentile needs the group's
    values together — one shuffle on the group key; at 100 TB swap in
    `approx_percentile` (t-digest sketch, map-side mergeable) when the
    group payload outgrows a task, trading exactness for a bounded
    error the profile check tolerates."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(p_retailprice, 0.5)").alias("median_price"),
        F.expr("percentile(p_retailprice, 0.9)").alias("p90_price"),
        F.expr("percentile(p_retailprice, 0.99)").alias("p99_price"),
    )


_HISTO_BINS = 64


@query("rel_histo_quantiles")
def rel_histo_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles via a MERGEABLE equi-width
    histogram — the bounded-state path `rel_price_quantiles` documents
    as its 100 TB swap: exact percentile must co-locate a group's full
    value set in one task, while the histogram is two
    map-side-combinable aggregates (per-group min/max, then
    64-bin counts) whose state is B integers per group at ANY row
    count. The quantile estimate is the left edge of the first bin
    whose cumulative count reaches ceil(q·n) — every step integer or
    single-IEEE-op arithmetic, so the sketch is exactly
    oracle-replayed (unlike t-digest, whose merge order is
    engine-private; this is the deterministic sketch alternative).
    Estimate error is bounded by one bin width (range/64)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("v")
    )
    stats = li.groupBy("l_returnflag").agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = li.join(F.broadcast(stats), "l_returnflag").select(
        "l_returnflag",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(_HISTO_BINS - 1),
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * _HISTO_BINS
                ).cast("int"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("bin"),
    )
    hist = binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("l_returnflag").orderBy("bin")
        ),
    )
    qs = stats.select(
        "l_returnflag",
        "mn",
        "mx",
        "n",
        F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q"),
    ).withColumn("thr", F.ceil(F.col("q") * F.col("n")))
    sel = (
        qs.join(cum, "l_returnflag")
        .filter(F.col("cum").cast("long") >= F.col("thr"))
        .groupBy("l_returnflag", "q", "mn", "mx", "n")
        .agg(F.min("bin").alias("bin"))
    )
    return sel.select(
        "l_returnflag",
        "q",
        F.col("n").cast("long").alias("n"),
        "bin",
        (
            F.col("mn")
            + (F.col("mx") - F.col("mn")) / _HISTO_BINS * F.col("bin")
        ).alias("est"),
    )


_BLOOM_M = 1024  # bits (32 x 32-bit words: values stay positive in BIGINT)
_BLOOM_K = 3  # hash functions
_BLOOM_SEG = "BUILDING"


def _bloom_pos(j: "F.Column", key: "F.Column") -> "F.Column":
    """Bit position of hash j for key: md5-derived, portable."""
    from fuzzy_item_matching_spark.functions.text import hex_long_once

    h = F.md5(F.concat_ws(":", j.cast("string"), key.cast("string")).cast("binary"))
    return hex_long_once(h, 1) % _BLOOM_M


@query("rel_bloom_semi_join")
def rel_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit bloom-filter join pruning (m=1024 bits, k=3, portable
    md5 positions): build a bloom filter from the dimension keys
    (customers in one segment), probe every orders row against it, and
    report bloom-positive vs actually-matching counts — Spark's
    runtime row-level bloom filter (spark.sql.optimizer.runtime.
    bloomFilter) made explicit and engine-checkable, with the false
    positives surfaced as a column instead of hidden in the plan.

    Scale shape: the filter materializes as <= m/32 (word, bits)
    rows — a bit_or hash agg over the SMALL side only, broadcast to
    the probe; each probe row tests k bits via a broadcast join, so
    the 100 TB fact table is pruned to ~fpr x |non-matching| + |
    matching| rows BEFORE any shuffle toward the real join. No
    all-pairs, no shuffle of the fact table to build the filter."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    js = F.array([F.lit(j) for j in range(_BLOOM_K)])
    build = c.filter(F.col("c_mktsegment") == _BLOOM_SEG).select("c_custkey")
    bpos = build.select(
        "c_custkey", F.explode(js).alias("j")
    ).select(_bloom_pos(F.col("j"), F.col("c_custkey")).alias("pos"))
    filt = (
        bpos.withColumn("word", F.expr("pos div 32"))
        .withColumn("bitval", F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))"))
        .groupBy("word")
        .agg(F.bit_or("bitval").alias("bits"))
    )
    ppos = (
        o.select("o_orderkey", "o_custkey", F.explode(js).alias("j"))
        .select(
            "o_orderkey",
            "o_custkey",
            _bloom_pos(F.col("j"), F.col("o_custkey")).alias("pos"),
        )
        .withColumn("word", F.expr("pos div 32"))
    )
    probe = ppos.join(F.broadcast(filt), "word", "left").withColumn(
        "hit",
        F.expr(
            "cast((coalesce(bits, cast(0 as bigint)) &"
            " shiftleft(cast(1 as bigint), cast(pos % 32 as int))) <> 0 as int)"
        ),
    )
    passed = (
        probe.groupBy("o_orderkey", "o_custkey")
        .agg(F.sum("hit").alias("hits"))
        .filter(F.col("hits") == _BLOOM_K)
    )
    truth = build.distinct().withColumnRenamed("c_custkey", "t_key")
    labeled = o.join(
        F.broadcast(truth), o["o_custkey"] == F.col("t_key"), "left"
    )
    # coalesce: SUM over an empty fact table is NULL, and an empty
    # input must yield zero counts, not nulls (tests/test_empty_inputs)
    n_true = F.coalesce(
        F.sum(F.when(F.col("t_key").isNotNull(), 1).otherwise(0)),
        F.lit(0),
    ).cast("long")
    agg = labeled.agg(
        F.count(F.lit(1)).alias("n_orders"), n_true.alias("n_true")
    )
    n_pass = passed.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
    return agg.crossJoin(n_pass).select(
        "n_orders",
        "n_bloom_pass",
        "n_true",
        (F.col("n_bloom_pass") - F.col("n_true")).alias("n_false_pos"),
    )


_SALT_S = 8  # sub-keys per hot group


@query("rel_salted_agg")
def rel_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation: stage 1 aggregates on
    (key, salt) with the salt drawn from a deterministic row hash,
    stage 2 merges the 8 partials per key — the explicit remedy for a
    hot GROUP BY key whose single reducer would OOM or straggle at
    100 TB (the same trick salted_join applies to joins,
    operators/skew.py). The oracle is the PLAIN aggregation: salting
    must be an exact physical-only rewrite, which holds because every
    aggregate here (count, decimal sum, max) is a commutative monoid
    re-merged losslessly in stage 2.

    Note Spark's hash agg already does a map-side partial per task;
    salting adds value when one key dominates a whole STAGE's input —
    the partials bound per-reducer state to |rows|/8 for that key."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "__salt",
        F.pmod(F.hash(F.col("l_orderkey"), F.col("l_linenumber")), F.lit(_SALT_S)),
    )
    partial = salted.groupBy("l_returnflag", "__salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("psum"),
        F.max("l_extendedprice").alias("pmax"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("psum").cast("double").alias("sum_qty"),
            F.max("pmax").cast("double").alias("max_price"),
        )
    )


@query("rel_rolling_user_value")
def rel_rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: for every event, the count and value
    total of the SAME USER's events in the trailing hour — the rolling
    feature shape (fraud velocity, rate limiting, session intensity)
    that tumbling windows can't express because every row anchors its
    own frame. The frame key is floor-epoch-seconds so the range
    arithmetic is integer-exact in both engines, and the value total
    is a DECIMAL window sum (order-insensitive within the frame).

    Scale shape: one shuffle on user_id, then each partition sorts
    locally by time — the same layout the sessionization and as-of
    queries use; frames never cross users so state per task is one
    user's hour. At 100 TB you'd additionally bucket the event store
    by user_id so the shuffle disappears for repeated feature
    builds."""
    e = load_table(spark, sf_dir, "events")
    # TIMESTAMP_NTZ has no direct long cast; the session tz is pinned
    # UTC (session.py) so the NTZ->TZ hop is identity and the epoch
    # matches DuckDB's epoch_us of the naive timestamp.
    sec = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3599, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(_dec("value", 6)).over(w).cast("double").alias("val_1h"),
    )


_SESSION_GAP_S = 1800  # 30-minute inactivity gap


@query("rel_user_sessions_batch")
def rel_user_sessions_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via lag + cumulative flag: a new session
    starts after a >30-min gap; the running sum of start flags numbers
    each user's sessions — the lead/lag window family (absent from the
    rest of the surface) on its canonical workload, and the BATCH twin
    of stream_user_sessions' session_window (same gap semantics, so
    the two can be cross-checked). Ordering is made total with the
    (sec, event_id) tie-break; all session arithmetic is integer.

    Scale shape: one shuffle on user_id, local sort per partition —
    lag, the running sum, and the final per-session aggregate all
    reuse that single sort order (Catalyst collapses them into one
    Window + partial agg); state per task is one user's timeline."""
    e = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    e = e.select("event_id", "user_id", sec.alias("sec"), "value")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    new_sess = (
        F.when(
            F.lag("sec").over(w).isNull()
            | (F.col("sec") - F.lag("sec").over(w) > _SESSION_GAP_S),
            1,
        )
        .otherwise(0)
        .alias("new_sess")
    )
    flagged = e.select("*", new_sess)
    sessed = flagged.withColumn(
        "session_id",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sessed.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("sec").alias("start_sec"),
        F.max("sec").alias("end_sec"),
        F.sum(_dec("value", 6)).cast("double").alias("total_value"),
    )


@query("rel_grouping_sets")
def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the multi-granularity report shape
    between cube (all combinations, rel_cube_summary) and rollup
    (prefix hierarchy): exactly the requested set list, nothing more.
    Both group columns are non-null in the data, so the coalesce
    sentinel unambiguously marks each row's granularity. One Expand +
    hash agg, one shuffle — each input row replicates once per
    grouping set (3x here), which is why at 100 TB you enumerate the
    sets you need instead of CUBE's 2^k blowup."""
    o = load_table(spark, sf_dir, "orders")
    gs = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )
    return gs.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n",
        "total",
    )


@query("rel_value_outliers")
def rel_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 3-sigma outlier screen — the data-quality gate that
    runs before any metric is trusted. Mean and E[X^2] come from exact
    DECIMAL sums (one double division each, so mean/sigma are
    bit-identical cross-engine); sigma = sqrt(E[X^2] - mean^2)
    replayed in identical op order; the outlier test is then a
    row-local comparison against broadcast per-group stats.

    Scale shape: two passes — a map-side-combined stats agg to
    |groups| rows, then a broadcast join back for the row-local flag
    (the same rates-broadcast shape as the samplers). No window, no
    sort; the second pass re-aggregates to |groups|."""
    e = load_table(spark, sf_dir, "events")
    dec_v = _dec("value", 6)
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(dec_v).cast("double") / F.count(F.lit(1))).alias("mean"),
        (F.sum(dec_v * dec_v).cast("double") / F.count(F.lit(1))).alias(
            "mean_sq"
        ),
    )
    sig = stats.select(
        "event_type",
        "n",
        "mean",
        F.sqrt(F.greatest(F.col("mean_sq") - F.col("mean") * F.col("mean"),
                          F.lit(0.0))).alias("sigma"),
    )
    flagged = e.join(F.broadcast(sig), "event_type").withColumn(
        "is_out",
        (F.abs(F.col("value") - F.col("mean")) > 3.0 * F.col("sigma")).cast(
            "int"
        ),
    )
    return flagged.groupBy("event_type", "n", "mean", "sigma").agg(
        F.sum("is_out").cast("long").alias("n_outliers")
    )


@query("rel_ntile_price_deciles")
def rel_ntile_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile bucketing (the remaining ranking window function:
    row_number/rank family elsewhere) with a total order via the
    (price, key) tie-break so bucket boundaries are deterministic.
    Output is the decile manifest: count + [lo, hi] price band.

    Scale note: the unpartitioned NTILE is a single-partition sort —
    fine for dimension tables; for a 100 TB fact you'd approximate
    deciles from a sampled quantile sketch or range-partition first
    (the documented trade, same as rel_price_quantiles)."""
    p = load_table(spark, sf_dir, "part")
    w = Window.orderBy("p_retailprice", "p_partkey")
    t = p.select(
        "p_partkey", "p_retailprice", F.ntile(10).over(w).alias("decile")
    )
    return t.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("p_retailprice").cast("double").alias("lo"),
        F.max("p_retailprice").cast("double").alias("hi"),
    )


@query("rel_scd2_user_state")
def rel_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 built from an event stream:
    collapse each user's event_type runs to their CHANGE points (lag),
    then attach [valid_from, valid_to) validity windows (lead; the
    open period carries NULL valid_to) — the dimension-history build
    every warehouse runs, and the lead counterpart to the session
    query's lag. All interval arithmetic is integer epoch-seconds.

    Scale shape: the same single user_id shuffle + local time sort as
    sessionization — lag, the change filter, and lead all reuse one
    sort; per-task state is one user's timeline. The summary agg is
    map-side combined to |event types|."""
    e = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    ev = e.select("event_id", "user_id", "event_type", sec.alias("sec"))
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    marked = ev.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    changes = marked.filter(F.col("chg") == 1)
    hist = changes.select(
        "user_id",
        "event_type",
        F.col("sec").alias("valid_from"),
        F.lead("sec").over(w).alias("valid_to"),
    )
    open_p = F.when(F.col("valid_to").isNull(), 1).otherwise(0)
    closed_d = F.when(F.col("valid_to").isNull(), 0).otherwise(
        F.col("valid_to") - F.col("valid_from")
    )
    return hist.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_periods"),
        F.sum(open_p).cast("long").alias("n_current"),
        F.sum(closed_d).cast("long").alias("closed_duration_s"),
    )


@query("rel_observed_metrics")
def rel_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via ``df.observe`` (the Observation
    API): counters ride along INSIDE the filtered write pass —
    row count, a DECIMAL-exact revenue total, a threshold counter —
    and are read from the observation after one action, without a
    second scan of the data. This is how a 100 TB job publishes its
    own data-quality metrics (rows in/out, null rates, SLA counters)
    for free: the metrics are accumulated by the SAME tasks that
    produce the output, not by a follow-up audit query.

    The checked result is the observed metrics themselves, re-exposed
    as a 1-row frame — proving the in-flight counters equal the
    dedicated aggregation the oracle runs."""
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("order_metrics")
    observed = o.filter(F.col("o_orderstatus") == "O").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
    )
    observed.write.mode("overwrite").format("noop").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_price"], m["n_high"])],
        "n_rows long, total_price double, n_high long",
    )


@query("rel_rows_frame_ma")
def rel_rows_frame_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame sliding window: per event, the 3-event moving
    average of the SAME user's values — the count-based frame
    completing the window-frame family (RANGE time frame:
    rel_rolling_user_value; unbounded running: sessions/shuffle). The
    frame is made deterministic by the (sec, event_id) total order;
    the average is one double division over a DECIMAL window sum.

    Scale shape: the identical single user-shuffle + local sort every
    per-user window op here reuses; ROWS frames hold at most 3 rows
    of state per position."""
    e = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    ev = e.select("event_id", "user_id", sec.alias("sec"), "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        n.alias("n_window"),
        (F.sum(_dec("value", 6)).over(w).cast("double") / n).alias("ma3"),
    )


@query("rel_unpivot_metrics")
def rel_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — wide-to-long reshape, the inverse of
    rel_pivot_status_priority: three per-order measures become
    (key, metric, value) rows, the layout every generic
    metric-monitoring sink and plotting pipeline wants. Uses Spark's
    native ``DataFrame.unpivot`` (Expand under the hood — row-local,
    3× fan-out, no shuffle); nulls are dropped by both engines'
    UNPIVOT semantics (all three measures are non-null here, asserted
    by the 3x row count).

    At 100 TB: pure map-side Expand, the cheapest possible reshape —
    the hazard is only output volume (rows × metrics), the same
    documented cost as any melt."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 100 == 0
    )
    wide = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.substring("o_orderpriority", 1, 1).cast("int").cast("double").alias("priority_grade"),
        (F.col("o_custkey") % 97).cast("double").alias("cust_bucket"),
    )
    return wide.unpivot(
        ids=["o_orderkey"],
        values=["total_price", "priority_grade", "cust_bucket"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_RJ_BUCKET_S = 3600  # range-join bucket width (1 hour)


@query("rel_bucketed_range_join")
def rel_bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big point-in-interval range join via time bucketing — the
    scale form `rel_range_join_bands`' docstring promises: attribute
    every 'view' event to the same user's active 'click' session
    window. Intervals explode into the hour buckets they cover;
    (padded ±30 min — the attribution window, which also keeps
    single-click sessions from collapsing to zero length); points
    carry their single bucket; the join is a plain EQUI-join
    on (user, bucket) with a row-local BETWEEN verify — Spark's
    non-equi range join would otherwise fall back to a per-user
    cross product (BroadcastNestedLoopJoin) that dies on big-big
    inputs. A (point, interval) pair meets in exactly one bucket (the
    point's), so no post-join dedup is needed.

    Scale shape: interval explode volume = session duration /
    bucket width (activity-bounded); both sides shuffle once on
    (user, bucket); bucket width trades explode volume against
    bucket occupancy — at 100 TB pick it near the median interval
    length. All arithmetic is integer epoch-seconds; the session
    derivation replays `rel_user_sessions_batch`'s exact lag/cumsum
    oracle restricted to clicks."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    clicks = e.filter(F.col("event_type") == "click")
    flagged = clicks.select(
        "*",
        F.when(
            F.lag("sec").over(w).isNull()
            | (F.col("sec") - F.lag("sec").over(w) > _SESSION_GAP_S),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sessions = (
        flagged.withColumn(
            "session_id",
            F.sum("new_sess")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            (F.min("sec") - 1800).alias("start_sec"),
            (F.max("sec") + 1800).alias("end_sec"),
        )
    )
    iv = sessions.select(
        "user_id",
        "session_id",
        "start_sec",
        "end_sec",
        F.explode(
            F.sequence(
                F.expr(f"start_sec div {_RJ_BUCKET_S}"),
                F.expr(f"end_sec div {_RJ_BUCKET_S}"),
            )
        ).alias("bucket"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        "event_id",
        "sec",
        F.expr(f"sec div {_RJ_BUCKET_S}").alias("bucket"),
    )
    hits = views.join(iv, ["user_id", "bucket"]).filter(
        (F.col("sec") >= F.col("start_sec"))
        & (F.col("sec") <= F.col("end_sec"))
    )
    return hits.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.min("sec").alias("first_view"),
        F.max("sec").alias("last_view"),
    )


@query("rel_skew_report")
def rel_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the report you run BEFORE sizing a
    salted join or an AQE skew threshold (operators/skew.py): per-key
    frequencies of the prospective shuffle key, reduced to the numbers
    that drive the decision — heaviest key and its identity,
    skew_ratio = max/mean key load (1.0 = perfectly uniform; the
    salting factor you need is ~this), and the share the 5 heaviest
    keys would put on 5 of the shuffle's partitions.

    Plan: ONE map-side-combined per-key count (the same pass any
    shuffle would do anyway), then 1-row aggregates and two
    TakeOrdered top-k's over the |keys|-sized frame — no full sort.
    Ties break (count DESC, user_id). The two ratios are each one
    fixed-order IEEE tree over exact integers."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).persist()
    s = k.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_n"),
    )
    top1 = (
        k.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(1)
        .select(F.col("user_id").alias("top_user"))
    )
    top5 = (
        k.orderBy(F.desc("n"), F.asc("user_id"))
        .limit(5)
        .agg(F.sum("n").alias("t5"))
    )
    return (
        s.crossJoin(F.broadcast(top1))
        .crossJoin(F.broadcast(top5))
        .select(
            "n_rows",
            "n_keys",
            "max_n",
            "top_user",
            (
                F.col("max_n").cast("double")
                * F.col("n_keys")
                / F.col("n_rows")
            ).alias("skew_ratio"),
            (F.col("t5").cast("double") / F.col("n_rows")).alias(
                "top5_share"
            ),
        )
    )


@query("rel_range_interval_ma")
def rel_range_interval_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — the value-based frame the W-family's
    other queries don't cover (rel_rows_frame_ma is ROWS-based,
    rel_rolling_user_value row-counted): per event, the count and
    DECIMAL-exact sum of all same-type events in the trailing ONE HOUR
    by timestamp (RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT
    ROW). Equal timestamps fall in one frame for every peer — the
    semantics ROWS frames cannot express and ties make
    nondeterministic.

    Scale shape: one shuffle on event_type (the window partition key),
    then a single ordered scan per partition with an incremental frame
    — no self-join materialization of the 1-hour neighborhood (the
    rel_bucketed_range_join alternative when the frame must join two
    DIFFERENT tables). Skewed partition keys would shard via the
    salted-window pattern (rel_salted_agg).

    Determinism: frame membership is exact timestamp arithmetic; the
    sum accumulates DECIMAL(18,6) — order-insensitive within the
    frame; count is an integer."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        "PARTITION BY event_type ORDER BY ts "
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW"
    )
    return ev.select(
        "event_id",
        "event_type",
        F.expr(f"count(*) OVER ({w})").cast("long").alias("n_1h"),
        F.expr(
            f"cast(sum(cast(value as decimal(18,6))) OVER ({w})"
            " as double)"
        ).alias("sum_1h"),
    )


@query("rel_cohort_retention")
def rel_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-retention matrix — the canonical product-analytics
    rollup: users cohorted by first-seen week, per (cohort, offset)
    the share of the cohort still active. Week and offset are PURE
    INTEGER arithmetic on floor-epoch days (day // 7), never engine
    date-truncation — date_trunc('week') semantics (ISO Monday, TZ)
    are exactly the kind of cross-engine hazard the integer form
    sidesteps, and at 100 TB the integer keys also hash cheaper.
    Offset-0 n_active IS the cohort size by construction, so the
    denominator joins back from the same aggregate (broadcast —
    cohort count is weeks-sized). Plan: one user-keyed window for the
    cohort day, one (cohort, offset) distinct-count aggregate, one
    broadcast join; retention is an integer-count ratio in one
    rounded division.

    Engine note: Spark's ``DIV`` truncates toward zero while DuckDB's
    ``//`` floors, so the epoch-day keys agree only for non-negative
    epochs — this query (like rel_ewma_control) assumes post-1970
    timestamps, which the events table guarantees."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        # TIMESTAMP_NTZ has no direct long cast; the session TZ is
        # pinned UTC (session.py), so NTZ -> TIMESTAMP -> epoch-seconds
        # matches DuckDB's naive-UTC epoch(ts) exactly
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) DIV 86400").alias(
            "day"
        ),
    )
    c = ev.withColumn(
        "cohort_day",
        F.min("day").over(Window.partitionBy("user_id")),
    )
    act = (
        c.select(
            F.expr("cohort_day DIV 7").alias("cohort_week"),
            F.expr("(day - cohort_day) DIV 7").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    base = act.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("n_cohort")
    )
    return (
        act.join(F.broadcast(base), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            F.round(F.col("n_active") * 1.0 / F.col("n_cohort"), 9).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


_EWMA_LAMBDA = 0.2
_EWMA_LAGS = 60


def _ewma_weights() -> list[float]:
    """(1−λ)^k for k = 0..LAGS−1, rounded to 12 — computed ONCE on the
    driver and embedded as identical literals in both engines (pow is
    libm-dependent; a literal double is not)."""
    return [round((1.0 - _EWMA_LAMBDA) ** k, 12) for k in range(_EWMA_LAGS)]


@query("rel_ewma_control")
def rel_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over hourly event volume — the
    time-ADAPTIVE baseline that upgrades stream_anomaly_zscore's
    static one: each hour's expected volume is the exponentially
    weighted average of the trailing {lags} observed hours
    (λ = {lam}), and a burst flags when the hour runs at >2× its own
    recent history — the monitoring shape that survives regime
    changes a fixed baseline mis-flags.

    Determinism/scale: the geometric weights are driver-computed
    literals (libm pow never runs in either engine); the recursion is
    unrolled as a bounded-lag EQUI-join (hour = hour − lag — a
    {lags}-wide explode of the hour spine, never a range scan or
    running state), per-term products round to 9 and DECIMAL-sum, one
    division per hour. Hour keys are floor-epoch integers (the
    cohort-retention discipline). At 100 TB the hourly rollup is
    metric-sized, so the lag join costs |hours|×{lags} rows
    regardless of event volume; the streaming twin is one
    applyInPandasWithState fold. Hour keys assume post-1970
    timestamps (Spark DIV truncates, DuckDB // floors — they agree
    only for non-negative epochs; see rel_cohort_retention)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(CAST(ts AS TIMESTAMP) AS LONG) DIV 3600").alias("h")
    )
    hourly = ev.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    return ewma_frame(hourly)


def ewma_frame(hourly: DataFrame) -> DataFrame:
    """The EWMA fold over an (h, n) hourly rollup — shared by the
    batch chart and its streaming twin (stream_ewma_control), so both
    compute the identical bounded-lag plan over whichever rollup fed
    them."""
    spark = hourly.sparkSession
    lags = F.broadcast(
        spark.createDataFrame(
            list(enumerate(_ewma_weights())), "lag long, w double"
        )
    )
    terms = (
        hourly.alias("cur")
        .crossJoin(lags)
        .join(
            hourly.alias("src"),
            F.col("src.h") == F.col("cur.h") - F.col("lag"),
        )
        .select(
            F.col("cur.h").alias("h"),
            F.col("cur.n").alias("n"),
            F.col("w"),
            F.col("src.n").alias("n_src"),
        )
    )
    dec = "decimal(38,18)"
    e = terms.groupBy("h", "n").agg(
        F.round(
            F.sum(F.round(F.col("w") * F.col("n_src"), 9).cast(dec)).cast(
                "double"
            )
            / F.sum(F.col("w").cast(dec)).cast("double"),
            9,
        ).alias("ewma")
    )
    return e.select(
        "h",
        "n",
        "ewma",
        F.when(F.col("n") > 2.0 * F.col("ewma"), 1).otherwise(0).alias(
            "burst"
        ),
    ).orderBy("h")


rel_ewma_control.__doc__ = rel_ewma_control.__doc__.format(
    lags=_EWMA_LAGS, lam=_EWMA_LAMBDA
)


@query("rel_last_touch_attribution")
def rel_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution — for every purchase, credit the same
    user's most recent PRIOR non-purchase event (the marketing-
    analytics staple, and the within-stream as-of shape:
    rel_asof_join_events is the cross-TABLE twin). One window per
    user over (ts, event_id) — a total order, so ties can't flip the
    credited touch — with a conditional IGNORE-NULLS last_value
    reaching back past interleaved purchases; purchases with no prior
    touch credit '(none)'. One shuffle on user_id, then a 5-key
    count; no self-join, no per-purchase subquery."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = ev.withColumn(
        "touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        o.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("(none)")).alias("touch"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .orderBy(F.desc("n_purchases"), F.asc("touch"))
    )


@query("rel_recursive_hierarchy")
def rel_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE — Spark 4's WITH RECURSIVE (UnionLoop execution),
    the iterative-query shape every other closure on this surface
    drives with a driver-side loop (dedup_canonical_closure,
    rel_pagerank_brands): here the ENGINE owns the iteration, one SQL
    statement, no collect between steps. Workload: the implicit 10-ary
    hierarchy over customer keys (parent = key DIV 10) — each
    customer's ancestor chain is walked to its single-digit root,
    returning (c_custkey, depth, root).

    Scale: each recursion step is one filter + projection over the
    previous frontier; the frontier SHRINKS by 10× per step (integer
    division), so the loop runs ceil(log10(max_key)) steps and total
    work is a geometric series bounded by 1.2× the table — the same
    reason large-star contraction converges in O(log n). Keys are
    positive, so Spark's DIV (truncate) and DuckDB's // (floor)
    agree. The aggregate closes the recursion into one row per
    customer (exactly one ancestor per chain is single-digit)."""
    c = load_table(spark, sf_dir, "customer")
    c.select("c_custkey").createOrReplaceTempView("__rh_customer")
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT c_custkey, c_custkey AS node, 0 AS depth
          FROM __rh_customer
          UNION ALL
          SELECT c_custkey, node DIV 10 AS node, depth + 1 AS depth
          FROM anc WHERE node >= 10
        )
        SELECT c_custkey,
               CAST(MAX(depth) AS INT) AS depth,
               CAST(MAX(CASE WHEN node < 10 THEN node END) AS BIGINT)
                 AS root
        FROM anc GROUP BY c_custkey
        """
    )


# Type-tag offsets keep the heterogeneous node ids disjoint in one
# BIGINT namespace (region/nation/supplier/customer/order).
_RC_EDGES_SQL = """
    SELECT CAST(1000000000 AS BIGINT) + CAST(n_regionkey AS BIGINT) AS parent,
           CAST(2000000000 AS BIGINT) + CAST(n_nationkey AS BIGINT) AS child
    FROM {nation}
    UNION ALL
    SELECT CAST(2000000000 AS BIGINT) + CAST(s_nationkey AS BIGINT) AS parent,
           CAST(3000000000 AS BIGINT) + CAST(s_suppkey AS BIGINT) AS child
    FROM {supplier}
    UNION ALL
    SELECT CAST(2000000000 AS BIGINT) + CAST(c_nationkey AS BIGINT) AS parent,
           CAST(4000000000 AS BIGINT) + CAST(c_custkey AS BIGINT) AS child
    FROM {customer}
    UNION ALL
    SELECT CAST(4000000000 AS BIGINT) + CAST(o_custkey AS BIGINT) AS parent,
           CAST(5000000000 AS BIGINT) + CAST(o_orderkey AS BIGINT) AS child
    FROM {orders}
"""

_RC_CLOSURE_SQL = """
    WITH RECURSIVE
    edges AS ({edges}),
    reach(region_key, node, depth) AS (
      SELECT CAST(r_regionkey AS BIGINT) AS region_key,
             CAST(1000000000 AS BIGINT) + CAST(r_regionkey AS BIGINT)
               AS node,
             CAST(0 AS INT) AS depth
      FROM {region}
      UNION ALL
      SELECT r.region_key, e.child AS node,
             CAST(r.depth + 1 AS INT) AS depth
      FROM reach r JOIN edges e ON e.parent = r.node
      WHERE r.depth < 8
    )
    SELECT region_key, CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_desc,
           CAST(SUM(node) AS BIGINT) AS node_sum
    FROM reach GROUP BY region_key, depth
"""


@query("rel_recursive_closure")
def rel_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROWING-frontier WITH RECURSIVE — the r10 VERDICT's #6 ask and
    the other half of the engine-owned-iteration surface:
    rel_recursive_hierarchy's frontier SHRINKS 10× per step, while this
    transitive closure DESCENDS the region → nation → {supplier,
    customer} → orders FK DAG, so the frontier GROWS ~5× to ~60× per
    step (5 regions → 25 nations → suppliers+customers → orders) — the
    shape users actually get wrong when recursion is unbounded. The
    explicit ``depth < 8`` guard is the pattern this query exists to
    pin: engine-owned recursion has no natural stopping point other
    than frontier exhaustion, so a closure over user-supplied edges
    ALWAYS carries a depth bound (Spark additionally enforces
    spark.sql.cteRecursionLevelLimit=100 as a backstop).

    UNION ALL recursion (all Spark 4 supports — UNION-distinct raises
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) is EXACT here because every
    child has in-degree 1 in the FK DAG: each node is reached once, no
    duplicate paths. On a cyclic graph (the dedup edge list) UNION ALL
    would enumerate paths, not nodes — exponential blowup — which is
    why dedup_canonical_closure keeps its driver-looped star
    contraction with per-round lineage truncation; see
    docs/SCALE_NOTES.md §recursion for when each form wins.

    Scale: each step is one equi-join of the previous frontier against
    the edge table (shuffle on parent — at 100 TB, bucket the edge
    table by parent so every step co-locates); total work is the node
    count, the same as the hand loop, but with zero driver round-trips
    and the engine free to AQE-replan each step. Output closes the
    recursion into (region_key, depth) descendant counts + an exact
    BIGINT id checksum."""
    for t in ("region", "nation", "supplier", "customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__rc_{t}")
    return spark.sql(
        _RC_CLOSURE_SQL.format(
            edges=_RC_EDGES_SQL.format(
                nation="__rc_nation",
                supplier="__rc_supplier",
                customer="__rc_customer",
                orders="__rc_orders",
            ),
            region="__rc_region",
        )
    )


@query("rel_variant_props")
def rel_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT — the schema-FLEXIBLE semi-structured type:
    ``parse_json`` ingests the props payload once into the binary
    variant encoding, then ``variant_get`` path access extracts typed
    values without declaring a schema up front (rel_json_props is the
    schema-DECLARED twin: from_json with an explicit struct).
    ``try_variant_get`` on an absent path returns NULL instead of
    failing — the evolution-tolerant read (n_missing_hits pins it at
    0). At 100 TB variant beats per-query string re-parsing: the
    binary encoding is decoded once at scan time and every downstream
    path access is an offset lookup, not a JSON parse; shredded
    variant columns also support pushdown in lake formats. The
    aggregate closes per event_type: count, typed k sum, missing-path
    hit count."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.expr("parse_json(props)").alias("v")
    )
    return v.select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        F.expr("try_variant_get(v, '$.missing', 'int')").alias("m"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("k_sum"),
        F.count("m").alias("n_missing_hits"),
    )


@query("rel_sql_udf_tiers")
def rel_sql_udf_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4 ``CREATE FUNCTION ...
    RETURNS ... RETURN expr``) — the F-family's declarative member:
    unlike the registered pandas_udf (F1/F2, an Arrow hop to Python),
    a SQL UDF is INLINED by the analyzer into the calling plan, so it
    costs nothing at any scale — whole-stage codegen sees the CASE
    expression as if written in place, and predicate pushdown through
    it still works. The oracle states the expanded expression — which
    is exactly what Spark executes. Aggregation closes per tier."""
    ev = load_table(spark, sf_dir, "orders")
    ev.createOrReplaceTempView("__udf_orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION order_tier(x DOUBLE)"
        " RETURNS STRING"
        " RETURN CASE WHEN x > 150000.0 THEN 'high' ELSE 'standard' END"
    )
    return spark.sql(
        """
        SELECT order_tier(CAST(o_totalprice AS DOUBLE)) AS tier,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM __udf_orders GROUP BY 1
        """
    )


@query("rel_pipe_syntax_pricing")
def rel_pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>``) — the linear query form: scan
    |> filter |> aggregate |> order |> limit, each operator reading
    top-to-bottom the way the DataFrame API chains. Pure syntax over
    the SAME Catalyst plan (the oracle states the classic form — the
    plans are identical, so filter pushdown and partial aggregation
    are unchanged); registered because a reference user migrating SQL
    should be able to keep either dialect."""
    p = load_table(spark, sf_dir, "part")
    p.createOrReplaceTempView("__pipe_part")
    return spark.sql(
        """
        FROM __pipe_part
        |> WHERE p_size >= 25
        |> AGGREGATE COUNT(*) AS n_parts,
                     CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total_price
           GROUP BY p_brand
        |> ORDER BY total_price DESC, p_brand
        |> LIMIT 10
        """
    )


@query("rel_sql_table_function")
def rel_sql_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined TABLE function (Spark 4 ``CREATE FUNCTION ...
    RETURNS TABLE``) invoked through a correlated LATERAL join — the
    declarative UDTF: like the scalar SQL UDF it is analyzer-inlined,
    so the per-order installment expansion compiles to the same
    explode+project any hand-written plan would, with zero runtime
    function-call surface. Workload: each order's total (in integer
    cents — DECIMAL×100 is exact in both engines) splits into
    n = min(4, 1 + cents DIV 10^7) installments, remainder on the
    first; the integer identity Σ inst_cents = Σ cents makes any
    drift unmissable. Cents come from floor(x·100 + 0.5) — the
    pure-IEEE rounding both engines evaluate identically, because
    CAST(DOUBLE AS BIGINT) itself diverges (DuckDB rounds, Spark
    truncates). The aggregate closes per installment index."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias(
            "cents"
        ),
    )
    o.createOrReplaceTempView("__tf_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pay_schedule(cents BIGINT)
        RETURNS TABLE (inst INT, inst_cents BIGINT)
        RETURN SELECT x AS inst,
               CASE WHEN x = 1 THEN cents - (n - 1) * (cents DIV n)
                    ELSE cents DIV n END AS inst_cents
        FROM (SELECT LEAST(4, 1 + CAST(cents DIV 10000000 AS INT)) AS n)
        LATERAL VIEW explode(sequence(1, n)) t AS x
        """
    )
    return spark.sql(
        """
        SELECT inst, COUNT(*) AS n_orders,
               CAST(SUM(inst_cents) AS BIGINT) AS total_cents
        FROM __tf_orders o, LATERAL pay_schedule(o.cents)
        GROUP BY inst ORDER BY inst
        """
    )


@query("rel_python_udtf_runs")
def rel_python_udtf_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF over a partitioned TABLE argument — the REAL
    user-defined table function (SURVEY F3's posexplode rows cover the
    built-in lateral shape; this is the extension API): the class
    receives each customer's orders as ONE partition in
    (o_orderdate, o_orderkey) total order, folds sequential state in
    ``eval`` (consecutive price increases — a computation that needs
    ordered iteration, exactly what the TABLE(... PARTITION BY ...
    ORDER BY ...) contract guarantees), and emits the summary row
    from ``terminate``. Prices arrive as exact Decimals, so the
    comparison matches the oracle's DECIMAL lag comparison
    bit-for-bit.

    Scale: one shuffle on the partition key (the same exchange a
    window would need); per-partition state is three scalars. This IS
    the Python row path — per-key sequential folds that defeat both
    built-in aggregates and pandas vectorization are its one
    legitimate niche; anything expressible as a window (like this
    demo's oracle shows) should stay JVM-side in production."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="custkey bigint, n_orders int, n_increases int")
    class OrderRuns:
        def __init__(self) -> None:
            self.key = None
            self.n = 0
            self.inc = 0
            self.prev = None

        def eval(self, row):
            self.key = row["o_custkey"]
            self.n += 1
            if self.prev is not None and row["o_totalprice"] > self.prev:
                self.inc += 1
            self.prev = row["o_totalprice"]

        def terminate(self):
            if self.key is not None:
                yield (self.key, self.n, self.inc)

    spark.udtf.register("order_runs", OrderRuns)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "__udtf_orders"
    )
    return spark.sql(
        """
        SELECT * FROM order_runs(
          TABLE(__udtf_orders)
          PARTITION BY o_custkey
          ORDER BY (o_orderdate, o_orderkey)
        )
        """
    )


@query("rel_pandas_udaf_median")
def rel_pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF — the UDAF member of the function
    surface (scalar pandas_udf, applyInPandas, UDTF, and SQL UDFs are
    all covered elsewhere; this is the Arrow-batched custom AGGREGATE
    usable inside ``.agg()`` alongside built-ins). The statistic is
    the exact median: order-FREE (sorting happens inside the kernel),
    and numpy's even-count interpolation (a+b)/2 is the identical
    IEEE expression DuckDB's median evaluates, so the oracle matches
    bit-for-bit with no rounding discipline needed — which is exactly
    why median, not a log-sum, is the demo statistic (libm ln is not
    portable; see the charlm scorer for how logs are handled when
    they're unavoidable).

    Scale: grouped-agg pandas UDFs receive the WHOLE group as one
    Arrow batch — right for group counts that fit an executor (here:
    5 priorities × ~orders/5). For unbounded groups use the mergeable
    sketch family (rel_histo_quantiles) instead; that trade-off is
    the operator's documented contract."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _median_kernel(v):
        return float(v.median())

    # Real annotation objects: this module's postponed annotations
    # (PEP 563) would hand pandas_udf strings it can't classify.
    _median_kernel.__annotations__ = {"v": pd.Series, "return": float}
    exact_median = pandas_udf(_median_kernel, "double")

    def _count_kernel(v):
        return len(v)

    # Spark forbids mixing grouped-agg pandas UDFs with JVM aggregates
    # in one .agg(), so the count rides the same Arrow batch.
    _count_kernel.__annotations__ = {"v": pd.Series, "return": int}
    group_count = pandas_udf(_count_kernel, "bigint")

    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            group_count("o_totalprice").alias("n"),
            exact_median("o_totalprice").alias("med_price"),
        )
    )


# ---------------------------------------------------------------------------
# Spark 4 DataFrame surface: lateralJoin and transpose
# ---------------------------------------------------------------------------


@query("rel_lateral_topk_per_cust")
def rel_lateral_topk_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated top-k per entity via the Spark 4 `DataFrame.lateralJoin`
    API: each customer joins the LATERAL subquery of its own top-3
    orders by price (total order: price DESC, orderkey ASC). The same
    result as the window-rank idiom (rel_top_parts_per_brand), written
    the way SQL users think about it — "for each row, run this
    parameterized query".

    The plan is the point: Catalyst DE-CORRELATES the per-row LIMIT
    into `WindowGroupLimit` (partial on the scan side, final after the
    o_custkey exchange — the rank<=k pushdown that keeps only k rows
    per key ahead of the shuffle) feeding ONE equi-join; no nested
    loop, no per-customer re-execution. tests/test_round11_ops.py pins
    both facts. At 100 TB this is exactly the per-key top-k plan you
    would hand-write: map-side group-limit, one keyed shuffle, join.

    Determinism: top-3 under a total order; price emitted as
    DECIMAL(18,2).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    top3 = (
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(3)
        .select("o_orderkey", "o_totalprice")
    )
    return c.lateralJoin(top3).select(
        "c_custkey",
        "o_orderkey",
        F.col("o_totalprice")
        .cast("decimal(18,2)")
        .cast("double")
        .alias("totalprice"),
    )


@query("rel_transpose_status_metrics")
def rel_transpose_status_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-matrix pivot via the Spark 4 `DataFrame.transpose` API:
    the (status x metric) summary flips to (metric x status) — the
    report layout — with the index column's VALUES ('F','O','P')
    becoming columns, sorted, and original column names becoming the
    `key` rows. Complements rel_pivot_status_priority (values pivot)
    and rel_unpivot_metrics (melt): transpose is the full matrix flip.

    Scale contract: transpose is a BOUNDED-FRAME API — it must
    enumerate the index values to mint column names (here 3 statuses
    from a 3-row aggregate output; the heavy lifting — the groupBy
    over all orders — happened before, distributed). Using it on an
    unbounded frame would be the same mistake as collect(); the repo
    convention is transpose-after-aggregate only.

    Determinism: counts and DECIMAL(18,2) revenue sums are exact;
    avg_price is ONE IEEE division of the exact sum by the exact count
    (NOT Spark's decimal avg, whose scale-6 intermediate rounds
    differently than DuckDB's double division).

    Oracle assumption, stated: transpose mints columns from the DATA
    (the index values), while the SQL twin must be static — it pins
    the TPC-H order-status domain {'F','O','P'}, present at every
    generated SF. A dataset missing a status would diverge on the
    COLUMN SET (a loud schema mismatch, not a silent value drift);
    the empty-input contract covers the fully-empty edge explicitly.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    m = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.sum(dec).cast("double").alias("revenue"),
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("avg_price"),
    )
    return m.transpose(indexColumn="o_orderstatus")


# ---------------------------------------------------------------------------
# Join-size estimation from count-min sketches (AMS-style inner product)
# ---------------------------------------------------------------------------

_CMJ_D = 4  # sketch rows (independent hash functions)
_CMJ_W = 64  # buckets per row
_CMJ_QTY = 45  # build side = high-quantity lines


@query("rel_cm_join_size")
def rel_cm_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE ESTIMATION from count-min sketches — the AMS
    inner-product estimator every cost-based planner needs before
    committing to a join strategy: |A ⋈_k B| = Σ_k cnt_A(k)·cnt_B(k),
    estimated WITHOUT touching the join as
    est_r = Σ_bucket cmA[r]·cmB[r] per sketch row, each an upper bound
    (collisions only add), with min_r est the usable figure. Here A =
    lineitem keyed by part, B = the high-quantity subset (l_quantity >
    {qty}) — estimating the self-join a hot-parts analysis would run.

    Why it matters at 100 TB: the sketches are d×w = {d}×{w} cells
    REGARDLESS of input size, built in one map-side-combined pass per
    side, and mergeable by + across partitions/days (the count-min
    monoid, same family as ts_countmin_heavy). The planner's question
    "will this join explode?" is answered from kilobytes of state —
    no sampling pass over A or B, no key histogram shuffle. Output is
    one row per sketch row r with its estimate next to the exact
    Σ c_A·c_B (computed here only to surface the one-sided error as
    an explicit overcount column).

    Determinism: counts are exact integers; buckets come from the
    portable md5-derived family; every product/sum is BIGINT — the
    oracle replays sketch construction cell-for-cell.
    """
    from fuzzy_item_matching_spark.functions.text import hex_long_once

    li = load_table(spark, sf_dir, "lineitem")
    ca = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cb = (
        li.filter(F.col("l_quantity") > _CMJ_QTY)
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = F.array([F.lit(r) for r in range(_CMJ_D)])

    def sketch(counts: DataFrame) -> DataFrame:
        hashed = counts.select(
            "k", "c", F.explode(rows).alias("r")
        ).withColumn(
            "bucket",
            hex_long_once(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("r").cast("string"),
                        F.col("k").cast("string"),
                    ).cast("binary")
                ),
                1,
            )
            % _CMJ_W,
        )
        return hashed.groupBy("r", "bucket").agg(F.sum("c").alias("c"))

    cma, cmb = sketch(ca), sketch(cb)
    est = (
        cma.join(cmb.withColumnRenamed("c", "cb"), ["r", "bucket"])
        .groupBy("r")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("est_size"))
    )
    tru = (
        ca.join(cb.withColumnRenamed("c", "cb"), "k")
        .agg(F.sum(F.col("c") * F.col("cb")).alias("true_size"))
    )
    return est.crossJoin(F.broadcast(tru)).select(
        F.col("r").cast("int").alias("r"),
        "est_size",
        "true_size",
        (F.col("est_size") - F.col("true_size")).alias("overcount"),
    )


rel_cm_join_size.__doc__ = rel_cm_join_size.__doc__.format(
    d=_CMJ_D, w=_CMJ_W, qty=_CMJ_QTY
)


# ---------------------------------------------------------------------------
# Time-decay multi-touch attribution (dyadic half-life — exact arithmetic)
# ---------------------------------------------------------------------------

_TDA_LOOKBACK_S = 604800  # 7 days
_TDA_HALFLIFE_S = 86400  # 1 day


@query("rel_time_decay_attribution")
def rel_time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY MULTI-TOUCH attribution — every purchase splits one
    unit of credit across ALL the user's prior touches in a 7-day
    lookback, weighted by a 1-day half-life: w = 2^-floor(Δt/24h),
    credit share = w / Σw per purchase, then credit sums per channel.
    The multi-touch generalization of rel_last_touch_attribution
    (which gives the newest touch everything) — the two bracket the
    attribution-model family marketing teams actually A/B.

    Exactness by construction: the decay is DYADIC — floor() makes the
    exponent an integer 0..7, so every weight is exactly 2^-k in
    binary floating point (1 << k is integer, one exact division), the
    per-purchase Σw is a sum of small dyadic rationals (exact in
    double), the share is ONE division of identical operands, and the
    cross-purchase channel sum accumulates as DECIMAL(38,18) (the PPR
    discipline). A pow(2.0, -dt/τ) continuous decay would be
    libm-dependent; the dyadic ladder is the same model, exactly
    replayable.

    Plan: the purchase-touch pairing is a per-user range join (events
    per user are bounded; the join key is user_id, one shuffle); the
    per-purchase normalizer is a window over pid; the channel rollup
    is a 4-key hash agg. No self-join ever leaves the user key, so
    the pairing is Σ_u touches(u)·purchases(u), not |events|².
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        # NTZ has no direct long cast; session tz is UTC so the hop is
        # identity and matches DuckDB's epoch_us (rel_rolling_user_value).
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("sec").alias("tp")
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("touch"),
        F.col("sec").alias("te"),
    )
    j = p.join(
        t,
        (p.user_id == t.user_id)
        & (t.te < p.tp)
        & (p.tp - t.te <= _TDA_LOOKBACK_S),
    ).select(
        "pid",
        "touch",
        # F.shiftleft needs a literal shift; the SQL form takes a column
        F.expr(
            f"1.0 / cast(shiftleft(1, cast((tp - te) div {_TDA_HALFLIFE_S}"
            " as int)) as double)"
        ).alias("w"),
    )
    sw = j.withColumn("tot", F.sum("w").over(Window.partitionBy("pid")))
    return sw.groupBy("touch").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum((F.col("w") / F.col("tot")).cast("decimal(38,18)"))
        .cast("double")
        .alias("credit"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (Page 1954) over per-user event streams
# ---------------------------------------------------------------------------

_CUSUM_K = "60.00"  # allowance (reference level the page test drifts above)
_CUSUM_H = "500.00"  # decision threshold


@query("rel_cusum_changepoints")
def rel_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint/drift detection (Page's one-sided test) per
    user over the event stream — the sequential monitor a data-quality
    pipeline runs on every upstream feed: S_t = max(0, S_{{t-1}} +
    (x_t − k)), alarm when S_t > h. The recurrence is NOT computed as
    a sequential loop: S_t = P_t − min(0, min_{{m≤t}} P_m) where P is
    the prefix sum of (x−k), so the whole test is two ordered window
    passes (running SUM, then running MIN of it) — the prefix-min
    factorization that turns a stateful scan into a relational plan.

    Why it matters at 100 TB: one shuffle on user_id, then both window
    passes are streaming single-pass per user partition (no buffering
    beyond the frame head) inside WholeStageCodegen; the alarm
    aggregate is map-side combinable. A per-row Python loop (the
    naive form of Page's test) would pin the whole stream through one
    process; this plan is embarrassingly parallel across users. Skewed
    users cost O(their rows), never O(global).

    Determinism: values are DECIMAL(18,2)-exact, so prefix sums are
    exact integers-in-decimal regardless of platform; ordering ties
    break on event_id; MAX/MIN/COUNT are order-insensitive. The one
    double cast happens after all arithmetic.

    Reference scope: extends the reference's batch QC aggregations
    (NB1's profiling cells) with the sequential-drift test it lacks.
    """
    ev = load_table(spark, sf_dir, "events")
    dev = F.col("value").cast("decimal(18,2)") - F.lit(_CUSUM_K).cast(
        "decimal(18,2)"
    )
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(dev).over(wsum).cast("decimal(38,2)").alias("pre"),
    )
    wmin = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = p.withColumn("runmin", F.min("pre").over(wmin))
    c = m.select(
        "user_id",
        "ts",
        (
            F.col("pre")
            - F.least(F.lit("0.00").cast("decimal(38,2)"), F.col("runmin"))
        ).alias("cusum"),
    )
    return (
        c.filter(F.col("cusum") > F.lit(_CUSUM_H).cast("decimal(38,2)"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_alarms"),
            F.max("cusum").cast("double").alias("max_cusum"),
            F.min("ts").alias("first_alarm_ts"),
        )
    )


# ---------------------------------------------------------------------------
# Holt's linear-trend exponential smoothing via engine-owned recursion
# ---------------------------------------------------------------------------

@query("rel_holt_forecast")
def rel_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT's linear-trend exponential smoothing (double exponential
    smoothing, Holt 1957) over the daily event series, run as an
    ENGINE-OWNED recursion: l_t = αx_t + (1−α)(l_{t−1} + b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, with the one-step-ahead
    forecast l_t + b_t per day. ONE recursion text drives both engines
    verbatim (WITH RECURSIVE + window ROW_NUMBER are common syntax),
    making this the repo's third recursion shape: shrinking frontier
    (hierarchy), growing frontier (closure), and now a SEQUENTIAL
    scan-recurrence of bounded depth.

    The 100 TB design point: the recurrence is inherently sequential,
    so the plan aggregates FIRST — the distributed work is the daily
    COUNT (one map-side-combined shuffle over the full stream), and
    the recursion walks the resulting ~30-row series. On the Spark
    side that series is MATERIALIZED (localCheckpoint) before the
    recursion so each of the ~30 recursive steps joins a 30-row
    cached table instead of re-running the full scan per step —
    measured 12.0 s → ~2 s at sf0.01. Smoothing state never touches
    the raw events; this is the aggregate-then-iterate discipline
    (same as the BPE/unigram fits), and why a 720-step hourly variant
    would instead batch through the EWMA window form. Depth is
    bounded by the i < 95 guard under Spark's
    cteRecursionLevelLimit=100 backstop.

    Determinism: daily counts are exact BIGINTs; α=1/2 and β=1/4 are
    exact binary fractions, so every step is exact-scaling + IEEE
    addition on identical operands — bit-identical trajectories with
    no per-step rounding, and the shared recursion text makes the
    expression trees identical by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("d")
    # r14 (guide §2.4, §5 — the markov-removal discipline): the
    # distributed work is the daily COUNT; the recursion walks a
    # ≤96-row series (the i < 95 recursion guard bounds it at ANY
    # corpus size), so it now runs DRIVER-SIDE over one bounded
    # collect instead of ~30 recursive-CTE steps each re-joining the
    # checkpointed anchor (each step a scheduled job — ~2 s of pure
    # stage overhead). Replication is exact op for op: every step is
    # 0.5·x / 0.25·x / 0.75·x multiplies and IEEE adds on identical
    # operands in the identical association — Python floats are the
    # same IEEE doubles, so the trajectory is bit-identical to the
    # recursive SQL the oracle still replays verbatim.
    rows = sorted(
        daily.select(
            "n", (F.row_number().over(w).cast("long") - 1).alias("i")
        )
        .filter(F.col("i") <= 95)
        .collect(),
        key=lambda r: r["i"],
    )
    schema = (
        "day_idx long, n_events long, lvl double, trend double,"
        " fc_next double"
    )
    if len(rows) < 2:
        return spark.createDataFrame([], schema)
    lvl = float(rows[0]["n"])
    trend = float(rows[1]["n"]) - float(rows[0]["n"])
    out = [(0, rows[0]["n"], lvl, trend, lvl + trend)]
    for r in rows[1:]:
        d = float(r["n"])
        new_lvl = 0.5 * d + 0.5 * (lvl + trend)
        trend = 0.25 * (new_lvl - lvl) + 0.75 * trend
        lvl = new_lvl
        out.append((int(r["i"]), r["n"], lvl, trend, lvl + trend))
    return spark.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) — Börzsönyi et al., ICDE 2001
# ---------------------------------------------------------------------------


@query("rel_skyline_parts")
def rel_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE / Pareto frontier (Börzsönyi et al., ICDE 2001):
    the parts no other part beats on BOTH axes (cheaper AND bigger) —
    the multi-criteria shortlist every "best value" query wants. The
    classic O(n²) dominance anti-join collapses to ONE ordered window
    pass via the 2-D sweep: after sorting by (price ASC, size DESC),
    a point is dominated iff the running MAX of size over its strict
    predecessors ≥ its size (any predecessor is strictly cheaper, or
    same-priced with strictly larger size — exactly the dominators;
    grouping to DISTINCT (price, size) first makes the tie logic
    airtight and carries multiplicity as n_parts).

    Scale shape: the distinct-pair projection is one map-side-combined
    aggregation; the sweep orders the DISTINCT VALUE GRID (bounded by
    price-tick × size cardinality — ~10⁴·50 rows at ANY corpus size),
    not the parts — so the single-partition window is a deliberate,
    bounded choice, same as the model-table collects. For a
    high-cardinality 2-D space the merge property skyline(S) =
    skyline(∪ local skylines) turns this into per-partition sweeps +
    one tiny merge — documented, not needed at the grid's size.

    Determinism: price is DECIMAL(18,2)-exact; the sweep's order and
    the dominance comparison are integer/decimal only; MIN/COUNT are
    order-insensitive.
    """
    p = load_table(spark, sf_dir, "part")
    pts = p.groupBy(
        F.col("p_retailprice").cast("decimal(18,2)").alias("price"),
        "p_size",
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_partkey").alias("min_partkey"),
    )
    w = Window.orderBy(F.asc("price"), F.desc("p_size")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    d = pts.withColumn("best_prev", F.max("p_size").over(w))
    return d.filter(
        F.col("best_prev").isNull() | (F.col("best_prev") < F.col("p_size"))
    ).select(
        F.col("price").cast("double").alias("price"),
        "p_size",
        "n_parts",
        "min_partkey",
    )


# ---------------------------------------------------------------------------
# Bitmap-index segment overlap (bit_or / bit_count words)
# ---------------------------------------------------------------------------


@query("rel_bitmap_overlap")
def rel_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX set algebra — the OLAP classic: per-brand customer
    membership packed into 63-bit WORDS (word = custkey div 63, bit =
    custkey mod 63 — the sign bit stays clear because DuckDB range-
    checks 1<<63 on signed BIGINT; one bit_or aggregation), then every pairwise
    audience overlap computed as Σ bit_count(word_a AND word_b) — the
    roaring-bitmap query pattern expressed with Spark's native
    bit_or/bit_count/& (all inside WholeStageCodegen, no UDF). The
    EXACT counterpart of the KMV sketch family: sketches estimate at
    fixed size, bitmaps answer exactly at |universe|/8 bits — the
    right tool when the id universe is dense and bounded.

    Scale shape: membership distinct is one shuffle; the bitmap build
    compresses n memberships to ≤ |brands|·|universe|/64 words
    (64× row reduction before ANY pairwise work); the overlap join is
    keyed on word_idx so only co-occupied words pair, and popcounts
    are single instructions. At 100 TB: build once, reuse across
    every segment-combination query — the bitmap-index contract.

    Determinism: pure integer/bit algebra end to end; the one
    division is IEEE on exact BIGINTs.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .select(F.col("p_brand").alias("brand"), F.col("o_custkey").alias("ck"))
        .distinct()
    )
    w = m.groupBy(
        # integer `div`, NOT double `/`+cast: a double quotient of a
        # >2^52 key could round across the word boundary
        "brand", F.expr("ck div 63").alias("word_idx")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(ck % 63 AS INT)))"
        ).alias("word")
    ).persist()
    sizes = w.groupBy("brand").agg(
        F.sum(F.bit_count("word")).alias("n")
    )
    a = w.select(
        F.col("brand").alias("brand_a"), "word_idx", F.col("word").alias("wa")
    )
    b = w.select(
        F.col("brand").alias("brand_b"), "word_idx", F.col("word").alias("wb")
    )
    inter = (
        a.join(b, "word_idx")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(
            F.sum(
                F.bit_count(F.col("wa").bitwiseAND(F.col("wb")))
            ).alias("n_common")
        )
    )
    sa = sizes.select(F.col("brand").alias("brand_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("brand").alias("brand_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .filter(F.col("n_common") > 0)
        .select(
            "brand_a",
            "brand_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) classification — inventory analytics' 80/20 workhorse
# ---------------------------------------------------------------------------

_ABC_A = 0.5  # cumulative revenue share boundaries
_ABC_B = 0.8


@query("rel_abc_classes")
def rel_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / PARETO classification — inventory analytics' 80/20
    workhorse: rank parts by revenue, walk the cumulative share, and
    cut classes at {a:.0%} (A: the few items carrying half the
    revenue) and {b:.0%} (B) with the long tail as C. The report
    procurement/working-capital reviews run weekly; structurally the
    decile-lift chart's cousin with DATA-DRIVEN class boundaries
    instead of equal-count buckets.

    Scale shape: per-part revenue is one map-side-combined shuffle;
    the cumulative walk is one ordered window over the PART domain
    (items, not line items — already aggregated), and the class
    rollup is a 3-group aggregation. At 100 TB the window input is
    |parts| rows; a value-bucketed two-pass variant (histogram →
    boundary refinement) swaps in if even the part domain outgrows a
    partition, same output contract.

    Determinism: revenue sums are DECIMAL(18,2)-exact; the cumulative
    sum runs over a TOTAL order (revenue DESC, partkey); the share
    comparisons divide identical doubles by the exact total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r")
    )
    tot = rev.agg(F.sum("r").cast("double").alias("t"))
    wc = Window.orderBy(F.desc("r"), F.asc("pk")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.select(
        "pk", "r", F.sum("r").over(wc).cast("double").alias("cum")
    )
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "pk",
        "r",
        "t",
        F.when(F.col("cum") / F.col("t") <= _ABC_A, F.lit("A"))
        .when(F.col("cum") / F.col("t") <= _ABC_B, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc"),
    )
    return classed.groupBy("abc", "t").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("r").cast("double").alias("revenue"),
        (F.sum("r").cast("double") / F.col("t")).alias("revenue_share"),
    ).select("abc", "n_parts", "revenue", "revenue_share")


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud/data-quality screening)
# ---------------------------------------------------------------------------


@query("rel_benford_audit")
def rel_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    standard forensic/data-quality screen for fabricated or
    unit-mangled monetary columns (synthetic uniform prices FAIL
    Benford loudly, which is exactly what this surfaces on TPC-H-ish
    data; a conforming ledger tracks log10(1+1/d)). Emits per-digit
    observed counts, shares, the Benford expectation, and the
    chi-square contribution.

    Plan: one projection (first digit of the DECIMAL rendering — both
    engines print DECIMAL(18,2) canonically, no scientific notation)
    + one 9-key aggregation + a broadcast 1-row total. At 100 TB this
    is a single map-side-combined scan; the audit family's cheapest
    member. Counts exact; each derived share/term is one fixed IEEE
    expression tree rounded to 9 on both sides."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("t"))
    share = F.col("n").cast("double") / F.col("t")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("digit"),
        F.col("n").alias("observed"),
        F.round(share, 9).alias("observed_share"),
        F.round(benford, 9).alias("benford_share"),
        F.round(
            F.col("t").cast("double")
            * (share - benford)
            * (share - benford)
            / benford,
            9,
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# Gini concentration of part revenue (inequality audit)
# ---------------------------------------------------------------------------


@query("rel_gini_concentration")
def rel_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-part revenue concentration — the
    assortment-inequality audit (how much of the catalog carries the
    business) that complements rel_abc_classes' discrete Pareto
    bands with the standard continuous index:
    G = 2·Σ i·x_(i) / (n·Σ x) − (n+1)/n over revenues sorted
    ascending.

    Plan: one keyed revenue aggregation (map-side combined), ONE
    global rank window over the PART domain — already aggregated, the
    same honest bound as rel_abc_classes' Pareto walk, range-
    bucketable when the part domain outgrows a partition — and a
    1-row reduction. Revenue sums and the rank-weighted sum are exact
    DECIMAL (rank · DECIMAL stays DECIMAL); the final index is one
    fixed expression tree rounded to 9. Ties in revenue break on part
    id, making the rank (and thus the index) fully deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pid")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r")
    )
    w = Window.orderBy("r", "pid")
    ranked = rev.select("r", F.row_number().over(w).alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").alias("s"),
        F.sum(F.col("i").cast("decimal(38,2)") * F.col("r")).alias("si"),
    )
    return agg.select(
        F.col("n").alias("n_parts"),
        F.col("s").cast("double").alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.col("si").cast("double")
            / (F.col("n") * F.col("s").cast("double"))
            - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n"),
            9,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# FIFO budget allocation (cumulative interval matching)
# ---------------------------------------------------------------------------


@query("rel_fifo_allocation")
def rel_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation by cumulative interval matching: each
    customer's account balance funds their orders OLDEST-FIRST, the
    marginal order splitting into a funded and an unfunded slice —
    the inventory/payment-application primitive (allocate supply lots
    to demand, payments to invoices, budget to campaigns) that looks
    iterative but is ONE window: an order's funded amount is a pure
    function of (its cumulative prefix, the budget), so no loop, no
    UDF, no recursion.

    Plan: one cumulative-sum window keyed on customer (ordered by
    date with the order key as total tie-break) + one broadcast-sized
    join against the budget frame + one keyed aggregation. At 100 TB:
    a single shuffle on the customer key; the window frame is
    ROWS-bounded so state is O(1) per key. All money stays
    DECIMAL(18,2) end-to-end (cumulative sums, splits, totals —
    NO floating point anywhere), so every slice is exact.
    Output keeps only customers with an unfunded remainder (the
    actionable rows)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("cust")
        .orderBy("o_orderdate", "okey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = o.select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderdate"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    ).withColumn("cum", F.sum("price").over(w))
    budget = c.select(
        F.col("c_custkey").alias("cust"),
        F.greatest(F.col("c_acctbal"), F.lit(0))
        .cast("decimal(18,2)")
        .alias("bal"),
    )
    alloc = seq.join(budget, "cust").select(
        "cust",
        "okey",
        "price",
        F.when(F.col("cum") <= F.col("bal"), F.col("price"))
        .when(
            F.col("cum") - F.col("price") >= F.col("bal"),
            F.lit(0).cast("decimal(18,2)"),
        )
        .otherwise(
            (F.col("bal") - (F.col("cum") - F.col("price"))).cast(
                "decimal(18,2)"
            )
        )
        .alias("funded"),
    )
    return (
        alloc.groupBy("cust")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(
                F.when(
                    (F.col("funded") == F.col("price")) & (F.col("price") > 0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("fully_funded"),
            F.sum("funded").alias("f_dec"),
            F.sum(F.col("price") - F.col("funded")).alias("u_dec"),
        )
        .filter(F.col("u_dec") > 0)
        .select(
            "cust",
            "n_orders",
            "fully_funded",
            F.col("f_dec").cast("double").alias("funded_total"),
            F.col("u_dec").cast("double").alias("unfunded_total"),
        )
    )


# ---------------------------------------------------------------------------
# Sequential pattern support (A happens-before B across user timelines)
# ---------------------------------------------------------------------------


@query("rel_seq_patterns")
def rel_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support (the PrefixSpan/GSP length-2 core):
    for every ordered event-type pair (A → B), the number and share
    of users whose FIRST A strictly precedes their FIRST B — the
    happens-before statistic behind onboarding-funnel design and
    next-action models, distinct from rel_markov_*'s CONSECUTIVE
    transitions (here A→B counts even with arbitrary events between).

    Plan: first-occurrence collapse per (user, type) — one keyed agg
    that shrinks each timeline to <= |event types| rows — then the
    per-user type-pair self-join is bounded by |types|² per user
    REGARDLESS of timeline length (the same structural cap discipline
    as the co-purchase basket cap: collapse BEFORE you pair). One
    more keyed agg gives global support. At 100 TB the only
    input-sized pass is the first collapse; everything after lives in
    the types² × users domain. Ties (same first timestamp) break on
    event id, so the precedence relation — and every count — is
    exact."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("t0"), F.min("event_id").alias("eid")
    )
    a, b = firsts.alias("a"), firsts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") != F.col("b.event_type"))
        & (
            (F.col("a.t0") < F.col("b.t0"))
            | ((F.col("a.t0") == F.col("b.t0")) & (F.col("a.eid") < F.col("b.eid")))
        ),
    ).select(
        F.col("a.event_type").alias("ante"),
        F.col("b.event_type").alias("conseq"),
    )
    users = e.agg(F.countDistinct("user_id").cast("long").alias("u"))
    return (
        pairs.crossJoin(F.broadcast(users))
        .groupBy("ante", "conseq", "u")
        .agg(F.count(F.lit(1)).cast("long").alias("support_users"))
        .select(
            "ante",
            "conseq",
            "support_users",
            F.round(
                F.col("support_users").cast("double") / F.col("u"), 9
            ).alias("support"),
        )
    )


# ---------------------------------------------------------------------------
# Theil inequality decomposition (within/between nations) — r13
# ---------------------------------------------------------------------------


@query("rel_theil_decomposition")
def rel_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-T inequality decomposition of customer spend:
    T = (1/n)Σ(y/μ)ln(y/μ), split EXACTLY (unlike Gini, which does
    not decompose) into within-nation + between-nation components —
    the audit that says whether spend concentration is a global
    phenomenon or a geography story, complementing
    rel_gini_concentration's single index with attribution.
    Customers without orders are excluded (ln 0; the spend support).

    Scale shape: one keyed spend rollup (the only input-sized pass),
    one |nations|-key group aggregation, arithmetic over ≤25 rows.
    GROUP means use exact DECIMAL sums of 2-rounded spend; each
    entropy term is a fixed ln tree rounded to 12 before DECIMAL
    accumulation (order-insensitive), so within + between reproduces
    total up to the printed 9 digits on both engines identically."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
        .select(F.col("c_nationkey").alias("s"), "y")
        .persist()
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.round(F.col("y"), 2).cast("decimal(38,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    tt = (
        spend.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("y") / F.col("mu"))
                        * F.log(F.col("y") / F.col("mu")),
                        12,
                    ).cast("decimal(38,18)")
                ).cast("double")
                / F.col("n")
            ).alias("theil")
        )
        .select("theil")
    )
    gmeans = spend.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        (
            F.sum(F.round(F.col("y"), 2).cast("decimal(38,2)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mus"),
    )
    groups = (
        spend.join(F.broadcast(gmeans), "s")
        .groupBy("s", "ns", "mus")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("y") / F.col("mus"))
                        * F.log(F.col("y") / F.col("mus")),
                        12,
                    ).cast("decimal(38,18)")
                ).cast("double")
                / F.col("ns")
            ).alias("ts")
        )
    )
    decomp = (
        groups.crossJoin(F.broadcast(tot))
        .groupBy("n", "mu")
        .agg(
            F.sum(
                F.round(
                    (F.col("ns").cast("double") / F.col("n"))
                    * (F.col("mus") / F.col("mu"))
                    * F.col("ts"),
                    12,
                ).cast("decimal(38,18)")
            )
            .cast("double")
            .alias("within_"),
            F.sum(
                F.round(
                    (F.col("ns").cast("double") / F.col("n"))
                    * (F.col("mus") / F.col("mu"))
                    * F.log(F.col("mus") / F.col("mu")),
                    12,
                ).cast("decimal(38,18)")
            )
            .cast("double")
            .alias("between_"),
        )
        .select("within_", "between_")
    )
    return (
        tot.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(decomp))
        .select(
            F.col("n").alias("n_customers"),
            F.round("theil", 9).alias("theil_total"),
            F.round("within_", 9).alias("theil_within"),
            F.round("between_", 9).alias("theil_between"),
        )
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition of monthly revenue — r14
# ---------------------------------------------------------------------------


@query("rel_seasonal_decompose")
def rel_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue
    (the moving-average method behind every `seasonal_decompose`
    call): trend = centered 13-term moving average with half weights
    at the ends (the standard even-period-12 centering), seasonal
    index = mean detrended value per calendar month, centered to sum
    to zero — the decomposition a forecasting pipeline runs before
    choosing between rel_holt_forecast's trend model and a seasonal
    one, with NO sequential recursion (unlike Holt's level/trend
    chain, every step here is a window or an agg, so the plan
    parallelizes trivially).

    Scale shape: ONE input-sized group-by-month agg; all windows and
    aggs after that live in the bounded month domain (~84 rows for
    the 7-year window at any corpus scale). Determinism: monthly
    sums are exact DECIMAL; the 13-term numerator is an exact
    integer-weighted DECIMAL sum with ONE double division (/24)
    rounded 6 (monthly revenue is ~1e6-magnitude: 6 decimals keeps
    the round well inside double precision — 9 would not); per-month
    means sum round-6 DECIMAL(38,6) terms; the final centering
    subtracts once and rounds 6."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.trunc("o_orderdate", "month").alias("m"),
        F.month("o_orderdate").cast("int").alias("moy"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("yd"))
    w = Window.orderBy("m")
    lags = {f"l{i}": F.lag("yd", i).over(w) for i in range(1, 7)}
    leads = {f"r{i}": F.lead("yd", i).over(w) for i in range(1, 7)}
    lagged = monthly.select(
        "moy",
        F.col("yd").cast("double").alias("y"),
        "yd",
        *[c.alias(n) for n, c in {**lags, **leads}.items()],
    )
    mid = (
        F.col("l5") + F.col("l4") + F.col("l3") + F.col("l2") + F.col("l1")
        + F.col("yd") + F.col("r1") + F.col("r2") + F.col("r3")
        + F.col("r4") + F.col("r5")
    )
    detrended = lagged.filter(
        F.col("l6").isNotNull() & F.col("r6").isNotNull()
    ).select(
        "moy",
        F.round(
            F.col("y")
            - (F.col("l6") + F.col("r6") + F.lit(2) * mid).cast("double")
            / F.lit(24.0),
            6,
        ).alias("d"),
    )
    raw = detrended.groupBy("moy").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        (
            F.sum(F.col("d").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("s"),
    )
    ctr = raw.agg(
        (
            F.sum(F.round(F.col("s"), 6).cast("decimal(38,6)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_s")
    )
    return raw.crossJoin(F.broadcast(ctr)).select(
        "moy",
        "n_obs",
        F.round(F.col("s") - F.col("mean_s"), 6).alias("seasonal_index"),
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation — r14
# ---------------------------------------------------------------------------


@query("rel_rfm_segmentation")
def rel_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the marketing-analytics workhorse: per customer, days since last
    order, order count, and total spend, each scored into quintiles
    by ntile(5) (score 1 = most recent / most frequent / highest
    spend, deterministic customer-key tie-break), composed into the
    classic 3-digit RFM code (111 = champions, 555 = lost), reported
    as segment counts with total spend and mean frequency.

    Scale shape: one input-sized customer agg (map-side-combinable);
    the ntile windows run over the CUSTOMER domain — a global sort
    each, the same honest bound as every ranking query here
    (range-partitionable sort at 100 TB); the final agg collapses to
    ≤125 code rows. Determinism: quintile boundaries follow ANSI
    ntile (first n mod 5 groups get the extra row) over total
    orders; sums are exact DECIMAL cast once; the division rounds
    9."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("m"),
    )
    mx = o.agg(F.max("o_orderdate").alias("maxd"))
    base = per_cust.crossJoin(F.broadcast(mx))
    scored = base.select(
        F.ntile(5)
        .over(Window.orderBy(F.datediff("maxd", "last_d"), "ck"))
        .cast("int")
        .alias("r_s"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("f"), F.asc("ck")))
        .cast("int")
        .alias("f_s"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("m"), F.asc("ck")))
        .cast("int")
        .alias("m_s"),
        "f",
        "m",
    )
    return scored.groupBy(
        (F.col("r_s") * 100 + F.col("f_s") * 10 + F.col("m_s"))
        .cast("int")
        .alias("rfm_code")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum("m").cast("double"), 2).alias("monetary_total"),
        F.round(
            F.sum("f").cast("double") / F.count(F.lit(1)), 9
        ).alias("avg_frequency"),
    )
