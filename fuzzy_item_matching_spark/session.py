"""SparkSession factory tuned for this engine.

Local mode is the test/bench environment (one JVM, N threads); the
configuration is written for cluster scale: AQE on (runtime coalesce +
skew-join handling), Arrow for any pandas interop, UTC session timezone
so results are oracle-comparable, and shuffle partitions sized to cores
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
    min(48g, half the physical RAM) in MiB, so a small host keeps room
    for the Python driver (where the boosting fits run) and workers."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 * 1024, ram // 2 // 2**20)}m"


def get_spark(
    app_name: str = "fuzzy_item_matching_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from the environment; locally we
    default to ``local[$SPARK_GRAFT_CPUS]`` (32 in the test container).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Test parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long (ns since epoch) and let the table
        # loader restore a timestamp column (tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
