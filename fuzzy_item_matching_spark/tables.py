"""Test-data table loader / catalog registration.

Mirrors the reference's source layer (SURVEY.md §2.A): the reference
reads CSVs with explicit schemas (`01_Feature Engineering.py:62-65`) and
thereafter passes state through path-addressed tables
(`01_Feature Engineering.py:75`). Here the canonical storage is Parquet;
``load_tables`` registers each table as a temp view so both the
DataFrame and SQL entry points see one catalog.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The length of every embeddings.embedding vector.
EMB_DIM = 64

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def footer_schema(spark: SparkSession, path: str) -> tuple[StructType, tuple[str, ...]]:
    """The schema ``spark`` reads the parquet file ``path`` with, and
    its TIMESTAMP(NANOS) columns, both from the file's footer.

    Spark reads TIMESTAMP(NANOS) only as long
    (spark.sql.legacy.parquet.nanosAsLong), so those columns are longs
    here, and the loader casts them back to timestamp. Timestamps not
    adjusted to UTC are TIMESTAMP_NTZ under the session's
    spark.sql.parquet.inferTimestampNTZ.enabled. A reader given this
    schema skips Spark's schema inference, which is one job per load;
    the footer read is driver-side and O(1) in the data size.
    """
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    schema = pq.read_schema(path)
    nanos = tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    read = pa.schema([pa.field(f.name, pa.int64()) if f.name in nanos else f for f in schema])
    return from_arrow_schema(read, prefer_timestamp_ntz=ntz), nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (SURVEY S3). Column pruning + predicate pushdown are
    Catalyst's job — callers express plain selects/filters. The read
    schema comes from the footer (``footer_schema``), so a load runs no
    Spark job.

    TIMESTAMP(NANOS) columns come back as ns-since-epoch longs; restore
    them to timestamps (micros, truncating) so downstream date logic and
    DuckDB oracles agree.
    """
    path = table_path(sf_dir, name)
    schema, nanos = footer_schema(spark, path)
    if nanos:
        # Runtime-settable SQL conf; the caller's session may not be the
        # repo's get_spark() (the correctness driver passes its own), so
        # set it here rather than relying on session-build confs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    for col in nanos:
        # Integer division keeps the ns long exact; float division would
        # route ~1.7e18 through double (53-bit mantissa) and flip ~1µs on
        # a fraction of rows vs DuckDB's exact truncation.
        df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, register: bool = True
) -> dict[str, DataFrame]:
    """Load every test table; optionally register temp views for SQL."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
