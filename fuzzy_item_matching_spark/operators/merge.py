"""Incremental upsert — the reference's Delta MERGE (S6) re-expressed.

The reference maintains its feature table with
``DeltaTable.merge(...).whenMatchedUpdate(...).whenNotMatchedInsertAll()``
(`03_Train & Deploy Model.py:480-495`). Without requiring Delta, the
identical upsert semantics are: source rows win on key match, unmatched
target rows survive:

    merged = source ∪ (target ⟕anti source on keys)

The anti-join runs on any table format, with one shuffle on the key
(AQE broadcasts a small source — the common incremental case: a
trickle of updates against a huge target). The caller writes the
merged frame back; nothing here depends on Delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Upsert ``source`` into ``target`` on ``keys`` (source wins).

    Column sets must match (whenMatchedUpdate(set=all) +
    whenNotMatchedInsertAll semantics). Idempotent: applying the same
    source twice yields the same result.
    """
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"schema mismatch: target={sorted(target.columns)} "
            f"source={sorted(source.columns)}"
        )
    kept = target.join(source.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(source)
