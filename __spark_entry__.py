"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``fuzzy_item_matching_spark.queries`` (one module
per capability layer, see SURVEY.md §2); this file is pure glue.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001 — the reference's NB1+NB2 flow in one
    plan (SURVEY §7.1): tokenize part.p_name (T1) → stopwords (T2) →
    char-3-grams (T4/T5) → hashed binary TF (T7) → IDF (T8) → L2 norm
    (T9) → inverted-index cosine self-join (J4/V1) → same-brand labeling
    join (J2) → label aggregate (A1).
    """
    from pyspark.sql import functions as F

    from fuzzy_item_matching_spark.operators.similarity import fuzzy_match_pairs
    from fuzzy_item_matching_spark.tables import load_table

    part = load_table(spark, SMOKE_SF_DIR, "part")
    pairs = fuzzy_match_pairs(
        part, None, id_col="p_partkey", text_col="p_name", min_sim=0.3
    )
    brands = part.select("p_partkey", "p_brand")
    a = brands.withColumnRenamed("p_partkey", "id_a").withColumnRenamed(
        "p_brand", "brand_a"
    )
    b = brands.withColumnRenamed("p_partkey", "id_b").withColumnRenamed(
        "p_brand", "brand_b"
    )
    return (
        pairs.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .withColumn(
            "label", F.when(F.col("brand_a") == F.col("brand_b"), 1).otherwise(0)
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.avg("cosine").alias("avg_cosine"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from fuzzy_item_matching_spark.queries import load_all

    return {name: q.fn for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query, keyed by
    query name. Queries whose semantics are not SQL-expressible (LSH
    bucketing, streaming state, seeded sampling) are omitted and get a
    rows-only check, with stronger checks in tests/.

    The oracles live outside the engine, each registered under its
    query's name in the root ``oracles/`` package.
    ``oracles.oracle_sql()`` is the one way to read them; this returns
    its dict.
    """
    from oracles import oracle_sql as _oracle_sql

    return _oracle_sql()
