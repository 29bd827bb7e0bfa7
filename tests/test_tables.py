"""``tables.load_table`` reads with the schema of the parquet footer:
the schema Spark infers, without the job that inference runs."""

from __future__ import annotations

import os

import pytest

from fuzzy_item_matching_spark.tables import (
    TABLE_NAMES,
    footer_schema,
    load_table,
    table_path,
)

from .conftest import SF_CHECK

SF_BENCH = os.path.join(os.path.dirname(SF_CHECK), "sf0.1")


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_footer_schema_equals_inferred(spark, name):
    path = table_path(SF_BENCH, name)
    if not os.path.exists(path):
        pytest.skip(f"no {path}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, _ = footer_schema(spark, path)
    assert schema == spark.read.parquet(path).schema


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "table load job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_runs_no_job(spark):
    names = [n for n in TABLE_NAMES if os.path.exists(table_path(SF_CHECK, n))]
    assert names
    # schema inference, the step the footer schema replaces, is a job
    assert _jobs(spark, "infer", lambda: spark.read.parquet(table_path(SF_CHECK, names[0]))) >= 1
    assert _jobs(spark, "load", lambda: [load_table(spark, SF_CHECK, n) for n in names]) == 0
