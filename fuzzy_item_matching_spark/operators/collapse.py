"""Duplicate-collapse machinery for exact self-join pair operators.

The Σ_t df(t)² hazard: every postings/bucket self-join (sparse cosine,
n-gram Jaccard, SimHash banding) shuffles one partial row per
CO-BUCKETED PAIR. On a duplicate-heavy corpus (10⁶ copies of a few
templates — exactly what raw web crawls look like BEFORE dedup, which
is when these operators run) the biggest buckets are the duplicate
classes themselves, and the pair shuffle goes quadratic in the class
size even though the ANSWER is fully determined by the handful of
distinct contents. The r11 scaling harness measured the cosine form of
this cliff at 227.6 s → 11.4 s (×10 keyshift) after collapsing.

The cure generalizes (r11 VERDICT ask #7): group documents whose
operator-visible CONTENT SIGNATURE is identical (sorted shingle set
for Jaccard, the 64-bit fingerprint for SimHash, the sorted
(term, weight) vector for cosine), run the pair join over one
REPRESENTATIVE per group (g² scale, not n²), then expand matched
group pairs back through the doc→group map — plus the intra-group
pairs, whose value is known in closed form (Jaccard 1.0, Hamming 0).

Exactness: a signature is chosen so the operator's output value is a
pure function of the two signatures; identical signatures therefore
yield identical values, and the expansion emits the same (id_a, id_b,
value) rows the plain join would — pinned on both corpus shapes by
tests/test_round12_ops.py.

Adaptive gate: one cheap aggregate counts docs vs distinct signatures;
when the corpus is mostly distinct (n_groups > ratio·n_docs) the
collapse cannot pay and the caller runs its plain join — the
operator-level analogue of AQE, same discipline as
operators/similarity.py:sparse_cosine_self_join_collapsed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def signature_gate(
    doc_sig: DataFrame, collapse_ratio: float = 0.5
) -> tuple[int, int, bool]:
    """(n_docs, n_groups, collapse?) from ONE aggregate over a
    persisted (__id, __sig) frame. Collapse pays when duplicates are
    plentiful: n_groups <= collapse_ratio * n_docs (and n_docs > 0)."""
    stats = doc_sig.agg(
        F.count(F.lit(1)).alias("nd"), F.countDistinct("__sig").alias("ng")
    ).first()
    n_docs, n_groups = stats["nd"], stats["ng"]
    return n_docs, n_groups, (n_docs > 0 and n_groups <= collapse_ratio * n_docs)


def group_map(doc_sig: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(groups, doc_gid) from a persisted (__id, __sig) frame: groups
    keys each distinct signature by its min doc id (__sig, __gid);
    doc_gid maps every doc to its group (__id, __gid). The groups
    frame is broadcast into the map join — it is n_groups rows, and
    the gate already proved n_groups ≤ ratio·n_docs."""
    groups = doc_sig.groupBy("__sig").agg(F.min("__id").alias("__gid"))
    doc_gid = doc_sig.join(F.broadcast(groups), "__sig").select("__id", "__gid")
    return groups, doc_gid


def expand_group_pairs(
    doc_gid: DataFrame,
    rep_pairs: DataFrame,
    val_cols: list[str],
    self_groups: DataFrame | None = None,
) -> DataFrame:
    """Expand group-level pairs back to document-level pairs.

    ``rep_pairs``: matches over representative ids (id_a < id_b, both
    group ids; an id_a = id_b row gives its group's intra-group value)
    plus ``val_cols``. ``self_groups``:
    (__gid, *val_cols) rows for groups whose INTRA-group pairs belong
    in the output (their value is signature-determined — Jaccard 1.0,
    Hamming 0); groups of size 1 contribute nothing via the final
    id_a < id_b filter, so no size predicate is needed.

    Plan: symmetrize so every doc expands from its own group's side,
    join the doc→group map (one row per doc, spread over the shuffle
    partitions), explode the other side's member list map-side — the
    (possibly huge) output never crosses a shuffle. The group pairs
    are broadcast; the group → member list broadcasts under AQE.
    """
    sym = rep_pairs.select(
        F.col("id_a").alias("__ga"), F.col("id_b").alias("__gb"), *val_cols
    )
    sym = sym.unionByName(
        sym.filter(F.col("__ga") != F.col("__gb")).select(
            F.col("__gb").alias("__ga"), F.col("__ga").alias("__gb"), *val_cols
        )
    )
    if self_groups is not None:
        sym = sym.unionByName(
            self_groups.select(
                F.col("__gid").alias("__ga"),
                F.col("__gid").alias("__gb"),
                *val_cols,
            )
        )
    # the output explodes from doc_gid's partitions: spread its rows
    # over the shuffle partitions (AQE coalesces a small doc map to a
    # partition or two) and broadcast the group pairs, which the
    # planner would otherwise stream when both sides look small
    n_parts = int(doc_gid.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    docs = doc_gid.repartition(n_parts)
    gid_ids = doc_gid.groupBy("__gid").agg(
        F.collect_list("__id").alias("__ids")
    ).select(F.col("__gid").alias("__g2"), "__ids")
    return (
        docs.join(F.broadcast(sym), F.col("__gid") == F.col("__ga"))
        .join(gid_ids, F.col("__gb") == F.col("__g2"))
        .select(
            F.col("__id").alias("id_a"),
            F.explode("__ids").alias("id_b"),
            *val_cols,
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
