"""Where an operator runs: on the driver, or as a distributed plan.

Operators whose input is small run it on the driver: one Arrow collect,
numpy, and a DataFrame of the result back (``lsh_sqdist_join``,
``tfidf_features``, ``sparse_cosine_join``). A Spark
plan's fixed per-job, per-stage and per-task costs dominate such
inputs; at scale the distributed plan runs unchanged. The rule is the
one Spark's planner broadcasts by, so it needs no option of its own.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame


def fits_driver(df: DataFrame) -> bool:
    """Whether Spark's planner would broadcast ``df``: a batch plan
    whose optimized size estimate (``stats().sizeInBytes``) is within
    ``spark.sql.autoBroadcastJoinThreshold`` (-1: never)."""
    if df.isStreaming:
        return False
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= limit


def driver_frame(spark, table: pa.Table, schema) -> DataFrame:
    """A driver placement's result as a DataFrame: a local relation
    when its Arrow bytes are within
    ``spark.sql.autoBroadcastJoinThreshold``, so that a consumer can
    place it on the driver in turn, else an RDD of its Arrow batches,
    one per shuffle partition, which Spark plans as large. Spark turns
    a local relation into rows on the driver and evaluates every
    projection and filter over it there, one row at a time, before a
    job starts: 500k postings took 1.0–1.3 s to create and 0.9–3.0 s
    per derived collect, against 0.05–0.1 and 0.3–0.6 s as an RDD
    (``local[4]``, 4-vCPU VM). createDataFrame cuts an RDD into
    batches of ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows,
    one task each: 640 tasks for sf0.1's 6.4M part-name pairs, which
    made ``sim_blocking_eval`` 11.3–11.8 s against 6.5 s in 4."""
    conf = spark._jsparkSession.sessionState().conf()
    if table.nbytes <= conf.autoBroadcastJoinThreshold():
        return spark.createDataFrame(table, schema)
    batch = -(-table.num_rows // conf.numShufflePartitions())
    keys = {
        "spark.sql.execution.arrow.localRelationThreshold": "0",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(max(batch, 1)),
    }
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        return spark.createDataFrame(table, schema)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def reusable(df: DataFrame) -> DataFrame:
    """``df`` ready to be read more than once: persisted, unless it is
    data already, as a driver placement returns it (a local relation,
    or an RDD of its Arrow batches past
    ``spark.sql.execution.arrow.localRelationThreshold``). Reading that
    twice recomputes nothing, and persisting it costs a pass."""
    node = df._jdf.queryExecution().analyzed().nodeName()
    return df if node in ("LocalRelation", "LogicalRDD") else df.persist()


def spark_keys(col: pa.ChunkedArray | pa.Array) -> pa.DictionaryArray:
    """``col`` dictionary-encoded under Spark's grouping and join-key
    equality: -0.0 is 0.0 and every NaN is one value (Arrow already
    groups NaNs). NULLs stay NULL indices."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_floating(col.type):
        col = pc.add(col, pa.scalar(0.0, col.type))  # -0.0 + 0.0 = 0.0
    return pc.dictionary_encode(col)


def group_codes(cols: list) -> np.ndarray:
    """Dense group codes (0, 1, ...) of the rows of ``cols`` (Arrow
    columns of one length), as ``groupBy(*cols)`` groups them: NULL is
    a key of its own."""
    code = np.zeros(len(cols[0]), dtype=np.int64)
    for col in cols:
        enc = spark_keys(col)
        idx = enc.indices.fill_null(len(enc.dictionary)).to_numpy()
        _, code = np.unique(code * (len(enc.dictionary) + 1) + idx, return_inverse=True)
    return code
