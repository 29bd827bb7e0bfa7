"""Corpus-level featurization: TF-IDF over term bags, sparse layout.

The reference materializes TF-IDF as dense hashed VectorUDT columns
(HashingTF -> IDF, `01_Feature Engineering.py:274-290`). At 100 TB the
right physical layout is SPARSE and RELATIONAL: one row per
(id, term, weight). That keeps every step a plain shuffle-partitioned
aggregation/join that Catalyst can plan, makes weights
DuckDB-oracle-checkable, and feeds the inverted-index similarity join
(`operators/similarity.py`) without ever building a dense vector.
Inputs within the broadcast threshold are weighted on the driver
instead (``operators/placement.py``), with the same output.

IDF formula is MLlib's: log((N+1)/(df+1))  (ml.feature.IDF,
`01_Feature Engineering.py:284-290`).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.operators.placement import (
    driver_frame,
    fits_driver,
    group_codes,
    spark_keys,
)
from fuzzy_item_matching_spark.operators.spark_numerics import strict_log


def _spark_tfidf(
    terms_df: DataFrame,
    id_cols: list[str],
    term_col: str,
    binary: bool,
    max_df_ratio: float,
) -> DataFrame:
    """The distributed plan: two hash aggregations (tf by id+term, df
    by term), N as a 1-row aggregate cross-joined onto the vocabulary
    (no eager count), one shuffle join on term (AQE broadcasts the
    vocab side when it actually fits — an unconditional broadcast of an
    unbounded vocabulary would OOM at 100 TB) and a window for the
    per-id norm."""
    tf = terms_df.groupBy(*id_cols, term_col).agg(F.count("*").alias("tf"))
    tf = tf.withColumn(
        "tf", F.lit(1.0) if binary else F.col("tf").cast("double")
    )

    # tf is unique per (id, term) so document frequency is a plain count.
    df_by_term = tf.groupBy(term_col).agg(F.count("*").alias("df"))
    n_docs_df = (
        tf.select(*id_cols)
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    )
    idf = df_by_term.crossJoin(F.broadcast(n_docs_df))  # 1-row broadcast
    n_docs_col = F.col("__n_docs")

    if max_df_ratio < 1.0:
        idf = idf.filter(F.col("df") <= max_df_ratio * n_docs_col)
    idf = idf.withColumn(
        "idf", F.log((n_docs_col + 1.0) / (F.col("df") + 1.0))
    ).select(term_col, "idf")

    weighted = tf.join(idf, on=term_col).withColumn(
        "weight", F.col("tf") * F.col("idf")
    )
    w = Window.partitionBy(*id_cols)
    norm = F.sqrt(F.sum(F.col("weight") ** 2).over(w))
    weighted = weighted.withColumn(
        "weight",
        # norm==0 ⇔ every surviving term has idf=0 (df==N); weights
        # are all 0.0 — pass them through instead of 0/0 → null.
        F.when(norm == 0.0, F.col("weight")).otherwise(F.col("weight") / norm),
    )
    return weighted.select(*id_cols, term_col, "weight")


def _driver_tfidf(
    rows: pa.Table,
    id_cols: list[str],
    doc_row: np.ndarray,
    terms: pa.Array,
    binary: bool,
    max_df_ratio: float,
    schema: T.StructType,
    spark,
) -> DataFrame:
    """``_spark_tfidf`` in numpy over collected rows: ``terms[i]`` is
    a term occurrence of the document in row ``doc_row[i]`` of
    ``rows``. Rows with equal ids (NULL included) are one document; N
    counts the documents with a term row, a NULL term too, and the
    idf join then drops the NULL term."""
    row_doc = group_codes([rows.column(c) for c in id_cols])
    doc = row_doc[doc_row]
    n_docs = float(len(np.unique(doc)))
    enc = spark_keys(terms)
    n_terms = len(enc.dictionary)
    has_term = enc.indices.is_valid().to_numpy(zero_copy_only=False)
    term = enc.indices.fill_null(0).to_numpy()[has_term]
    pair, tf = np.unique(doc[has_term] * n_terms + term, return_counts=True)
    doc, term = np.divmod(pair, n_terms)
    df = np.bincount(term, minlength=n_terms)
    if max_df_ratio < 1.0:
        keep = df[term] <= max_df_ratio * n_docs
        doc, term, tf = doc[keep], term[keep], tf[keep]
    idf = strict_log((n_docs + 1.0) / (df + 1.0))  # Spark's LOG, bit for bit
    weight = idf[term] if binary else tf * idf[term]
    norm = np.sqrt(np.bincount(doc, weight * weight))[doc]
    weight = np.divide(weight, norm, out=weight.copy(), where=norm != 0.0)
    _, first_row = np.unique(row_doc, return_index=True)
    out = rows.select(id_cols).take(first_row[doc])
    out = out.append_column(schema.names[-2], enc.dictionary.take(term))
    return driver_frame(spark, out.append_column("weight", pa.array(weight)), schema)


def sparse_tfidf(
    terms_df: DataFrame,
    id_cols: list[str],
    term_col: str = "term",
    binary: bool = False,
    max_df_ratio: float = 1.0,
) -> DataFrame:
    """(id, term) rows -> (id, term, weight) L2-normalized TF-IDF rows.

    ``terms_df`` has one row per term OCCURRENCE (bag semantics).
    ``binary=True`` is presence-only TF — the reference's "IDF-only"
    names variant (`01_Feature Engineering.py:280`).
    ``max_df_ratio`` drops terms appearing in more than that fraction of
    documents: at scale the inverted-index join is quadratic in per-term
    document frequency, so ultra-common terms must be cut (this is the
    blocking analogue of the reference's LSH threshold tuning,
    `02_Build Training Pairs.py:119-123`).
    N counts documents with ≥1 term row (empty docs contribute nothing).
    A document whose surviving weights are all 0 (every term has
    df == N) keeps them unnormalized.

    The plan is lazy and distributed (``_spark_tfidf``). A term bag
    column, one row per document, goes to ``tfidf_features`` instead,
    which places a small input on the driver: Spark estimates an
    ``explode`` at its bag frame's size, not by its element count, so
    only the bag frame's estimate can gate that placement. A caller
    whose consumer is a large Spark plan keeps its features planned
    here (``sim_maxscore_topk``).
    """
    return _spark_tfidf(
        terms_df.select(*id_cols, term_col), id_cols, term_col, binary, max_df_ratio
    )


def tfidf_features(
    df: DataFrame,
    id_cols: list[str],
    terms_col: str,
    binary: bool = False,
    max_df_ratio: float = 1.0,
) -> DataFrame:
    """``sparse_tfidf`` of a term-bag array column, one row per
    document: (id, term, weight) rows. The placement gate and the
    collect read the bag frame, so the driver collects one row per
    document rather than one per term occurrence; otherwise the bags
    are exploded into the distributed plan."""
    bags = df.select(*id_cols, F.col(terms_col).alias("term"))
    if fits_driver(bags):
        schema = T.StructType(
            [bags.schema[c] for c in id_cols]
            + [
                T.StructField("term", bags.schema["term"].dataType.elementType),
                T.StructField("weight", T.DoubleType()),
            ]
        )
        t = bags.toArrow()
        lists = t.column("term").combine_chunks()
        return _driver_tfidf(
            t, id_cols, pc.list_parent_indices(lists).to_numpy(),
            pc.list_flatten(lists), binary, max_df_ratio, schema, bags.sparkSession,
        )
    terms = bags.select(*id_cols, F.explode("term").alias("term"))
    return _spark_tfidf(terms, id_cols, "term", binary, max_df_ratio)
