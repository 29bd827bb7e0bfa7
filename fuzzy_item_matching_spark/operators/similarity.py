"""Similarity joins — the engine's flagship fuzzy-matching operators.

The reference's flagship operator is ``approxSimilarityJoin`` (J4,
`02_Build Training Pairs.py:92-106`, `03_Train & Deploy Model.py:506-538`):
join rows of two sets whose feature vectors are close. This module
provides the Spark-first decompositions:

- ``exact_sqdist_join``     — exact threshold join over ``array<float>``
  vectors; the ORACLE variant (cross-join + distance predicate) that the
  approximate operators are containment-checked against.
- ``sparse_cosine_join``    — inverted-index cosine join over SPARSE
  (id, term, weight) rows. This is the 100 TB scale path for text: the
  join key is the term, so work is proportional to index postings, never
  |A|×|B|. Ultra-common terms are pruned upstream (sparse_tfidf
  max_df_ratio) exactly like the reference tunes LSH thresholds to bound
  candidate counts (`02_Build Training Pairs.py:119-123`). Postings
  within the broadcast threshold and a measured work bound are joined
  on the driver instead.
- ``fuzzy_match_pairs``     — end-to-end: raw text column → tokenize →
  stopword filter → char-3-grams → TF-IDF → L2 norm → cosine pair join;
  the engine-native equivalent of the reference's NB1 pipeline + NB2
  candidate-pair generation.

LSH-accelerated dense-vector joins live in ``operators/lsh.py``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_item_matching_spark.functions.text import (
    char_ngrams_of_words,
    regex_tokenize,
    remove_stopwords,
)
from fuzzy_item_matching_spark.functions.vector import squared_dist
from fuzzy_item_matching_spark.operators.features import tfidf_features
from fuzzy_item_matching_spark.operators.placement import (
    driver_frame,
    fits_driver,
    reusable,
    spark_keys,
)


def exact_sqdist_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dist_col: str = "sqdist",
    self_dedup: bool = False,
    out_ids: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Exact squared-Euclidean threshold join (J4 exact oracle form).

    Semantics of ``approxSimilarityJoin(A, B, sqrt(threshold))`` with
    recall 1.0: every pair with ``sqdist(a, b) <= threshold``. Physical
    plan is a cross/nested-loop join with the distance predicate — O(n²),
    intended for oracle checks and small blocked partitions, NOT the
    100 TB path (use sparse_cosine_join / lsh_sqdist_join there).

    Both sides use ``id_col``/``vec_col`` names (self-join safe: sides
    are re-aliased to ``out_ids`` internally). ``self_dedup=True`` keeps
    one direction of each pair (id_a < id_b) and drops the diagonal —
    the explicit dedup mode SURVEY §2.C calls for (the reference
    accidentally self-joins abt-abt, `02_Build Training Pairs.py:144-145`;
    we make it a flag).
    """
    ia, ib = out_ids
    a = left.select(F.col(id_col).alias(ia), F.col(vec_col).alias("__va"))
    b = right.select(F.col(id_col).alias(ib), F.col(vec_col).alias("__vb"))
    pairs = a.join(b, F.col(ia) < F.col(ib)) if self_dedup else a.crossJoin(b)
    return (
        pairs.withColumn(dist_col, squared_dist("__va", "__vb"))
        .filter(F.col(dist_col) <= F.lit(threshold))
        .select(ia, ib, dist_col)
    )


# Most pair partials (Σ_t df_a(t)·df_b(t); in self mode only the
# id_a < id_b ones) the driver placement generates: near where the
# collapsed self join overtook it on template names (see
# sparse_cosine_join, "Placement").
_DRIVER_MAX_PARTIALS = 10_000_000
# Most output pairs the collapsed self join expands on the driver
# (24 bytes each as Arrow): sf0.1's part names make 6.4M.
_DRIVER_MAX_PAIRS = 10_000_000
# Partials (or expanded pairs) generated per chunk on the driver:
# about 40 MB of transient index and product arrays.
_CHUNK_PARTIALS = 1 << 19


def _sum_pairs(ta, ida, wa, tb, idb, wb, rank, n_ids, n_terms, self_dedup, min_sim):
    """The pairs (id_a code, id_b code, Σ w_a·w_b) at or over
    ``min_sim`` of left postings (term codes ``ta``, id codes ``ida``,
    weights ``wa``) sorted by id then term, against right postings
    sorted by term then id ``rank``, in chunks of whole left documents
    (each left posting meets the run of right postings on its term),
    so every pair is summed and thresholded within one chunk and only
    its hits are kept. None, before any pair is generated, past
    ``_DRIVER_MAX_PARTIALS`` partials."""
    cb = np.bincount(tb, minlength=n_terms)
    b_end = np.cumsum(cb)
    if self_dedup:  # a left posting meets the right ones of its term ranked above it
        b_first = np.searchsorted(
            tb * (n_ids + 1) + rank[idb], ta * (n_ids + 1) + rank[ida], side="right"
        )
    else:  # ... or all the right ones of its term
        b_first = (b_end - cb)[ta]
    reps = b_end[ta] - b_first
    ends = np.cumsum(reps)
    if len(ends) and ends[-1] > _DRIVER_MAX_PARTIALS:
        return None
    doc_end = np.searchsorted(ida, ida, side="right")  # past each posting's document
    pairs, sims = [np.empty(0, np.int64)], [np.empty(0)]
    lo = 0
    while lo < len(ta):
        base = ends[lo - 1] if lo else 0
        # whole left documents, so every pair's partials sum in one chunk
        hi = doc_end[max(int(np.searchsorted(ends, base + _CHUNK_PARTIALS, side="right")), lo + 1) - 1]
        r = reps[lo:hi]
        ai = np.repeat(np.arange(lo, hi), r)
        bi = np.repeat(b_first[lo:hi] - (ends[lo:hi] - r - base), r) + np.arange(ends[hi - 1] - base)
        lo = hi
        pair, at = np.unique(ida[ai] * n_ids + idb[bi], return_inverse=True)
        sim = np.bincount(at, wa[ai] * wb[bi])
        hit = (sim >= min_sim) | np.isnan(sim)  # Spark orders NaN above every value
        pairs.append(pair[hit])
        sims.append(sim[hit])
    ka, kb = np.divmod(np.concatenate(pairs), n_ids)
    return ka, kb, np.concatenate(sims)


def _collapsed_pairs(ta, ida, wa, tb, idb, wb, rank, n_ids, n_terms, min_sim, collapse_ratio):
    """``_sum_pairs`` of a self join (one frame's postings on both
    sides, id_a < id_b) through the collapse
    ``sparse_cosine_self_join_collapsed`` plans in Spark: documents
    whose (term, weight) runs are identical form a group, the pairs
    are summed over one representative per group, and matched groups
    expand to their members' pairs in chunks. A representative pair
    sums the same products in the same term order as each member pair,
    so the cosines are the plain join's, bit for bit. None when the
    groups exceed ``collapse_ratio`` of the documents, or past
    ``_DRIVER_MAX_PARTIALS`` partials or ``_DRIVER_MAX_PAIRS``
    output pairs."""
    starts = np.flatnonzero(np.r_[True, ida[1:] != ida[:-1]]) if len(ida) else ida
    lens = np.diff(np.r_[starts, len(ida)])
    sigs: dict[bytes, int] = {}
    gid = np.array(
        [
            sigs.setdefault(ta[s:e].tobytes() + wa[s:e].tobytes(), len(sigs))
            for s, e in zip(starts, starts + lens)
        ],
        dtype=np.int64,
    )
    if not len(gid) or len(sigs) > collapse_ratio * len(gid):
        return None
    doc = ida[starts]  # each document's id code
    _, first = np.unique(gid, return_index=True)
    rep_of = np.full(n_ids, -1)  # a representative's group, by id code
    rep_of[doc[first]] = np.arange(len(first))
    la, lb = rep_of[ida] >= 0, rep_of[idb] >= 0
    found = _sum_pairs(
        ta[la], ida[la], wa[la], tb[lb], idb[lb], wb[lb], rank, n_ids, n_terms, True, min_sim
    )
    if found is None:
        return None
    # the matched groups: representative pairs, and each group with
    # itself (intra-group pairs) when its self sum passes: Σ w_p·w_q
    # over its postings p, q of one term (Σ w² without repeated terms)
    run = np.cumsum(np.r_[True, (ida[1:] != ida[:-1]) | (ta[1:] != ta[:-1])]) - 1
    on_run = np.bincount(run, wa)[run]
    self_sim = np.bincount(np.repeat(np.arange(len(doc)), lens), wa * on_run)[first]
    hit = (self_sim >= min_sim) | np.isnan(self_sim)
    g_all = np.arange(len(first))
    ga = np.r_[rep_of[found[0]], g_all[hit]]
    gb = np.r_[rep_of[found[1]], g_all[hit]]
    g_sim = np.r_[found[2], self_sim[hit]]
    size = np.bincount(gid)
    members = doc[np.lexsort((rank[doc], gid))]  # by group, then id rank
    g_start = np.cumsum(size) - size
    cnt = size[ga] * size[gb]  # a group with itself: all ordered pairs, halved below
    if (cnt - np.where(ga == gb, (cnt + size[ga]) // 2, 0)).sum() > _DRIVER_MAX_PAIRS:
        return None
    cum = np.cumsum(cnt)
    out_a, out_b, out_s = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for k0 in range(0, int(cum[-1]) if len(cum) else 0, _CHUNK_PARTIALS):
        k = np.arange(k0, min(k0 + _CHUNK_PARTIALS, int(cum[-1])))
        p = np.searchsorted(cum, k, side="right")
        within = k - (cum[p] - cnt[p])
        x = members[g_start[ga[p]] + within // size[gb[p]]]
        y = members[g_start[gb[p]] + within % size[gb[p]]]
        keep = (ga[p] != gb[p]) | (rank[x] < rank[y])
        x, y, p = x[keep], y[keep], p[keep]
        swap = rank[x] > rank[y]
        out_a.append(np.where(swap, y, x))
        out_b.append(np.where(swap, x, y))
        out_s.append(g_sim[p])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s)


def _driver_cosine_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    term_col: str,
    weight_col: str,
    min_sim: float,
    sim_col: str,
    self_dedup: bool,
    collapse_ratio: float | None = None,
) -> DataFrame | None:
    """``_spark_cosine_pairs`` on the driver: ONE Arrow collect of both
    sides' postings tagged by a side byte (of one side's, when both
    sides are the same frame), the pairs summed by ``_sum_pairs`` →
    a DataFrame of the hits (``placement.driver_frame``). Memory is
    bounded by the chunk, not by the candidate pairs. None, before any
    collect, when the collected postings would be over the broadcast
    threshold, and before any pair is generated when they make more
    than ``_DRIVER_MAX_PARTIALS`` partials; with ``collapse_ratio``,
    a self join of one frame past that bound tries
    ``_collapsed_pairs`` first.

    Semantics are the join's: NULL terms never meet, a NULL weight adds
    nothing (a pair of only NULL partials sums to NULL and is dropped),
    NULL ids pair in pair mode, and ``self_dedup`` keeps id_a < id_b in
    Spark's order (NaN above every number, NULL never)."""

    def side(df: DataFrame, id_col: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"),
            F.col(term_col).alias("__t"),
            F.col(weight_col).alias("__w"),
        )

    def tagged(df: DataFrame, tag: int) -> DataFrame:
        return df.select(F.lit(tag).cast("byte").alias("__side"), "*")

    a, b = side(left, left_id), side(right, right_id)
    # a join of one frame with itself (sides renamed apart) collects
    # it once: on the 80k sf0.1 part-name postings the tagged union of
    # two copies took about twice as long to collect as one copy
    same = a.sameSemantics(b)
    rows = a if same else tagged(a, 0).unionByName(tagged(b, 1))
    if not fits_driver(rows):
        return None
    t = rows.toArrow()
    t = t.filter(pc.and_(pc.is_valid(t["__t"]), pc.is_valid(t["__w"])))
    ids = spark_keys(t["__id"])
    n_ids = len(ids.dictionary) + 1  # the last code is NULL
    # int64: a pair key, id_a code × n_ids + id_b code, passes 2^31
    id_code = ids.indices.fill_null(n_ids - 1).to_numpy().astype(np.int64)
    terms = spark_keys(t["__t"])
    term = terms.indices.to_numpy().astype(np.int64)
    in_a = np.ones(t.num_rows, bool) if same else t["__side"].to_numpy() == 0
    in_b = in_a if same else ~in_a
    w = t["__w"].to_numpy()
    # the order id_a < id_b compares ids in: Spark's, NaN above every
    # number (the NULL code's rank is unused: self mode drops NULL ids,
    # which never compare)
    rank = pc.rank(ids.dictionary, null_placement="at_end", tiebreaker="dense")
    rank = np.append(rank.to_numpy().astype(np.int64), 0)
    live = id_code != n_ids - 1 if self_dedup else True

    def postings(mask: np.ndarray, *keys: np.ndarray):
        order = np.lexsort([k[mask] for k in keys])  # the last key sorts first
        return term[mask][order], id_code[mask][order], w[mask][order]

    # left postings by id (then term), right postings by term (then id rank)
    sides = (
        *postings(in_a & live, term, id_code),
        *postings(in_b & live, rank[id_code], term),
        rank, n_ids, len(terms.dictionary),
    )
    found = _sum_pairs(*sides, self_dedup, min_sim)
    if found is None and collapse_ratio is not None and same and self_dedup:
        found = _collapsed_pairs(*sides, min_sim, collapse_ratio)
    if found is None:
        return None
    ka, kb, sim = found
    schema = T.StructType(
        [
            T.StructField(left_id, left.schema[left_id].dataType),
            T.StructField(right_id, right.schema[right_id].dataType),
            T.StructField(sim_col, T.DoubleType()),
        ]
    )
    id_values = pa.concat_arrays([ids.dictionary, pa.nulls(1, ids.dictionary.type)])
    out = pa.table(
        [id_values.take(ka), id_values.take(kb), pa.array(sim)],
        names=[left_id, right_id, sim_col],
    )
    return driver_frame(rows.sparkSession, out, schema)


def _spark_cosine_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    term_col: str,
    weight_col: str,
    min_sim: float,
    sim_col: str,
    self_dedup: bool,
) -> DataFrame:
    """The distributed postings join: one shuffle on ``term`` (the
    postings join), one on the pair key (the aggregation)."""
    a = left.select(
        F.col(left_id),
        F.col(term_col).alias("__t"),
        F.col(weight_col).alias("__wa"),
    )
    b = right.select(
        F.col(right_id),
        F.col(term_col).alias("__t"),
        F.col(weight_col).alias("__wb"),
    )
    joined = a.join(b, "__t")
    if self_dedup:
        joined = joined.filter(F.col(left_id) < F.col(right_id))
    return (
        joined.groupBy(left_id, right_id)
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias(sim_col))
        .filter(F.col(sim_col) >= F.lit(min_sim))
    )


def sparse_cosine_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    term_col: str = "term",
    weight_col: str = "weight",
    min_sim: float = 0.5,
    sim_col: str = "cosine",
    self_dedup: bool = False,
) -> DataFrame:
    """Inverted-index cosine join over sparse L2-normalized weights.

    Inputs are (id, term, weight) rows (one row per document-term, as
    produced by ``operators.features.sparse_tfidf``).
    With unit-norm weights, cosine(a, b) = Σ_t w_a(t)·w_b(t), so the
    join is: equi-join postings on term → per-pair partial products →
    hash-aggregate sum → threshold filter. ``self_dedup`` keeps
    id_a < id_b.

    Never materializes |A|×|B| — only pairs sharing ≥1 term appear, the
    same candidate-bounding idea as the reference's LSH bucketing
    (`02_Build Training Pairs.py:52-58`).

    Placement. When both sides' postings, tagged and unioned (or the
    one frame both sides rename), are a batch plan within
    ``spark.sql.autoBroadcastJoinThreshold``
    (``operators/placement.fits_driver``), they are collected with one
    Arrow collect. If they make at most ``_DRIVER_MAX_PARTIALS``
    partials, the pairs are summed on the driver in bounded chunks
    (``_driver_cosine_pairs``) and a local DataFrame comes back: the
    call is EAGER. The bound exists because the input size does not
    bound the work, which grows with Σ_t df_a(t)·df_b(t), and the
    driver sums on one thread (crossover runs in
    ``docs/scaling/text_placement_ab.json``). Otherwise the plan is
    lazy and distributed (``_spark_cosine_pairs``): one shuffle on
    ``term``, one on the pair key, both plain hash partitions
    Catalyst/AQE handles, skew bounded by pruning high-df terms
    upstream. Both placements return the same pairs; a cosine may
    differ in its last bits, since the partials are summed in another
    order.
    """
    args = (left, right, left_id, right_id, term_col, weight_col, min_sim, sim_col, self_dedup)
    out = _driver_cosine_pairs(*args)
    return out if out is not None else _spark_cosine_pairs(*args)


def sparse_cosine_self_join_collapsed(
    weights: DataFrame,
    id_col: str,
    term_col: str = "term",
    weight_col: str = "weight",
    min_sim: float = 0.5,
    sim_col: str = "cosine",
    collapse_ratio: float = 0.5,
) -> DataFrame:
    """Vector-COLLAPSED sparse cosine self-join — identical output to
    ``sparse_cosine_join(..., self_dedup=True)`` (columns id_a, id_b,
    sim), built for corpora where many documents carry an IDENTICAL
    sparse vector (short template-generated names: TPC-H part names
    collapse 20k docs → 64 distinct trigram-set vectors, and with
    binary TF the weight vector is a pure function of the term set).

    Why: the plain postings join's shuffle volume is Σ_t df(t)² pair
    partials. With g distinct vectors over n docs that volume is
    Θ((n/g)²·Σ_t df_g(t)²) while the ANSWER is produced anyway — at a
    x10 keyshift scale of sf0.1 the plain join shuffles 1.12e9 partial
    products for 230-330 s; this plan measured 1.8 s for the identical
    output (scripts/scaling_bench.py, docs/SCALING.md).

    Plan: ONE small shuffle builds per-doc sorted (term, weight)
    signatures; groups = distinct signatures keyed by their min doc id;
    the postings pair join runs over GROUP REPRESENTATIVES only (g²
    scale, not n²); matched rep pairs are symmetrized and expanded back
    through the doc→group map and a group→ids list (the gate, the map
    and the expansion are operators/collapse.py's) — both joins sized
    g/n rows, AQE picks broadcast at runtime — so the (possibly huge)
    output explodes map-side with NO shuffle of the output. Cosine
    values are the same Σ w_a·w_b over the same term multiset as the
    plain join (identical vectors ⇒ identical products), so results
    agree to the engine's round-9 float discipline.

    Adaptive gate: the signature build is one cheap aggregate over the
    postings; if distinct vectors exceed ``collapse_ratio``·n_docs the
    collapse cannot pay and the plain postings join runs instead (the
    two counts are doc-level, not postings-level). This is a physical
    strategy choice on measured stats — the operator-level analogue of
    AQE — pinned by tests/test_round11_ops.py equality tests on both
    corpus shapes.

    Placement: postings within the broadcast threshold are collected
    once and joined on the driver, with no gate job: plainly within
    ``_DRIVER_MAX_PARTIALS``, else through the same collapse in numpy
    (``_collapsed_pairs``: the same gate, representative partials
    within that bound, at most ``_DRIVER_MAX_PAIRS`` output pairs).
    The Spark plan below is for the postings past those bounds."""
    from fuzzy_item_matching_spark.operators.collapse import (
        expand_group_pairs,
        group_map,
        signature_gate,
    )

    w = weights
    args = (
        w.withColumnRenamed(id_col, "id_a"), w.withColumnRenamed(id_col, "id_b"),
        "id_a", "id_b", term_col, weight_col, min_sim, sim_col, True,
    )
    out = _driver_cosine_pairs(*args, collapse_ratio=collapse_ratio)
    if out is not None:
        return out
    doc_sig = w.groupBy(F.col(id_col).alias("__id")).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(term_col), F.col(weight_col)))
        ).alias("__sig")
    ).persist()  # read by the gate count, the doc→gid map and (via
    # groups) the representative postings — one shuffle, three readers
    _, _, collapse = signature_gate(doc_sig, collapse_ratio)
    if not collapse:
        doc_sig.unpersist()
        return _spark_cosine_pairs(*args)
    groups, doc_gid = group_map(doc_sig)
    doc_gid = doc_gid.persist()
    rep_w = w.join(
        F.broadcast(groups.select(F.col("__gid").alias(id_col))),
        id_col,
        "left_semi",
    )
    ra = rep_w.select(
        F.col(id_col).alias("__ga"),
        F.col(term_col).alias("__t"),
        F.col(weight_col).alias("__wa"),
    )
    rb = rep_w.select(
        F.col(id_col).alias("__gb"),
        F.col(term_col).alias("__t"),
        F.col(weight_col).alias("__wb"),
    )
    # the diagonal (__ga = __gb) carries each group's intra-group cosine
    rep_pairs = (
        ra.join(rb, "__t")
        .filter(F.col("__ga") <= F.col("__gb"))
        .groupBy(F.col("__ga").alias("id_a"), F.col("__gb").alias("id_b"))
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias(sim_col))
        .filter(F.col(sim_col) >= F.lit(min_sim))
    )
    return expand_group_pairs(doc_gid, rep_pairs, [sim_col])


def featurize_text(
    df: DataFrame,
    id_cols: list[str],
    text_col: str,
    ngram_n: int = 3,
    num_features: int | None = 46656,
    binary: bool = True,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """Raw text → sparse L2-normalized TF-IDF rows (id, term, weight).

    The engine-native form of the reference's name pipeline
    T1→T2→T4/T5→T7→T8→T9 (`01_Feature Engineering.py:184-298`):
    tokenize, stopword-filter, char-n-gram, (optionally) feature-hash
    as JVM-side expressions, then ``tfidf_features``: IDF-weight and
    L2-normalize, on the driver for a bag frame within the broadcast
    threshold, else as two hash aggregations; no VectorUDT, no Python
    UDF.

    ``num_features=None`` keeps raw n-gram strings as terms (exact,
    oracle-checkable); an int feature-hashes them (the reference's
    HashingTF with numFeatures=36³, `01_Feature Engineering.py:279`).
    """
    grams = char_ngrams_of_words(
        remove_stopwords(regex_tokenize(F.col(text_col))), n=ngram_n
    )
    if num_features is not None:
        grams = F.transform(grams, lambda g: F.pmod(F.hash(g), F.lit(num_features)).cast("string"))
    featured = df.select(*id_cols, grams.alias("__grams"))
    return tfidf_features(
        featured,
        id_cols,
        "__grams",
        binary=binary,
        max_df_ratio=max_df_ratio,
    )


def fuzzy_match_pairs(
    left: DataFrame,
    right: DataFrame | None,
    id_col: str,
    text_col: str,
    min_sim: float = 0.5,
    ngram_n: int = 3,
    num_features: int | None = 46656,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """End-to-end fuzzy text matching: the reference's NB1+NB2 flow as
    one composable operator.

    ``right=None`` → self-match (dedup mode): one row per unordered pair
    (id_a < id_b) with cosine ≥ min_sim. Otherwise left-vs-right with
    ids aliased ``id_a``/``id_b`` (the reference's idA/idB,
    `02_Build Training Pairs.py:100-106`).

    IDF statistics are fit on the union of both sides (the reference
    fits its pipelines on the unioned abt+buy table,
    `01_Feature Engineering.py:143-159`).

    Both layers place small inputs on the driver: ``tfidf_features``
    weighs a bag frame within the broadcast threshold with one collect
    and returns its rows as data, and ``sparse_cosine_join`` (or, in
    self mode, ``sparse_cosine_self_join_collapsed``, which collapses
    template names on the driver past the plain work bound) then sums
    their postings on the driver, so a small call runs two collects
    and no shuffle. Larger inputs run the distributed plans, with the
    features persisted for both join sides.
    """

    def features(df: DataFrame, id_cols: list[str]) -> DataFrame:
        feats = featurize_text(
            df, id_cols, text_col,
            ngram_n=ngram_n, num_features=num_features, max_df_ratio=max_df_ratio,
        )
        # both join sides reference this plan; without persistence the
        # whole TF-IDF (aggs + window) computes TWICE — measured 8.5×
        # slower at sf0.1. The reference caches its features for the
        # same reason (`03_Train & Deploy Model.py:455`).
        return reusable(feats)

    if right is None:
        feats = features(left, [id_col])
        # Adaptive self-join strategy: template-generated short texts
        # (part names) collapse to few distinct vectors — the collapsed
        # join shrinks the pair shuffle from Σ df² doc-pair partials to
        # group-pair partials (measured 230 s → 1.8 s at a x10 scale of
        # sf0.1, identical output); diverse corpora (documents) fail
        # its gate and run the plain postings join unchanged.
        return sparse_cosine_self_join_collapsed(
            feats, id_col, min_sim=min_sim
        )

    tagged = left.select(
        F.lit("L").alias("__side"), F.col(id_col), F.col(text_col)
    ).unionByName(
        right.select(F.lit("R").alias("__side"), F.col(id_col), F.col(text_col))
    )
    feats = features(tagged, ["__side", id_col])
    a = feats.filter(F.col("__side") == "L").withColumnRenamed(id_col, "id_a")
    b = feats.filter(F.col("__side") == "R").withColumnRenamed(id_col, "id_b")
    return sparse_cosine_join(a, b, "id_a", "id_b", min_sim=min_sim)


def blocked_pair_stats(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    dim: int | None = None,
) -> DataFrame:
    """All within-block vector-pair statistics (dot, sqdist, cosine),
    scored blockwise in Arrow (V1 applied per label block,
    `03_Train & Deploy Model.py:100-107`).

    The block key IS the blocking strategy: work is Σ per-block n²,
    never global n², and blocks score independently across executors.
    Each block is one run of the sorted-run pass
    (``operators/lsh._sorted_run_pairs``, self mode), scored with a
    dimension-by-dimension accumulated numpy kernel — the identical
    left-to-right IEEE fold as the engine's `F.aggregate` expressions
    and DuckDB's `list_sum`, so results stay bitwise oracle-exact
    (interpreted per-pair HOF folds measured ~2.5× slower at sf0.1).
    Equi-join semantics: NULL block keys never match (NaN keys do, and
    -0.0 meets 0.0). NULL vectors and vectors off the dimension most
    rows have (``valid_vectors``) have no defined stats, so one ragged
    row costs that row, even when it comes first. A caller that knows
    the dimension passes ``dim`` and skips that aggregate's job.
    """
    from fuzzy_item_matching_spark.operators.lsh import (
        _cosine_block,
        _folded_sqdist_block,
        _sorted_run_pairs,
        valid_vectors,
        vector_dim,
    )

    if dim is None:
        dim = vector_dim(df, vec_col, default=0)  # no vector at all: no pairs
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("dp", T.DoubleType()),
            T.StructField("sqdist", T.DoubleType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def pair_stats(_key, ids_a, v_a, ids_b, v_b):
        dp, cos = _cosine_block(v_a, v_b)
        sq = _folded_sqdist_block(v_a, v_b)
        ia, ib = np.nonzero(ids_a[:, None] < ids_b[None, :])
        return ids_a[ia], ids_b[ib], dp[ia, ib], sq[ia, ib], cos[ia, ib]

    rows = valid_vectors(df, vec_col, dim).select(
        F.col(block_col).alias("__blk"),
        F.lit(0).cast("byte").alias("__side"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).filter(F.col("__blk").isNotNull())
    return _sorted_run_pairs(rows, ("__blk",), pair_stats, out_schema, self_mode=True)


def as_struct_pairs(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    pair_left_id: str = "id_a",
    pair_right_id: str = "id_b",
    dist_col: str = "sqdist",
) -> DataFrame:
    """Reference-API adapter for J4: re-shape a flat (id_a, id_b, dist)
    pair frame into ``approxSimilarityJoin``'s output contract —
    ``datasetA``/``datasetB`` structs carrying the FULL input rows,
    plus ``distCol`` (`02_Build Training Pairs.py:100-106` addresses
    results as ``datasetA.id``). Two equi-joins back to the inputs;
    struct construction is free (Catalyst collapses
    ``struct(cols).field`` back to the column, so downstream dot-path
    projections prune unused fields — including wide payloads like the
    embedding array — before the scan)."""
    a = left.select(
        F.col(left_id).alias("__ida"), F.struct(*left.columns).alias("datasetA")
    )
    b = right.select(
        F.col(right_id).alias("__idb"), F.struct(*right.columns).alias("datasetB")
    )
    return (
        pairs.join(a, F.col(pair_left_id) == F.col("__ida"))
        .join(b, F.col(pair_right_id) == F.col("__idb"))
        .select("datasetA", "datasetB", F.col(dist_col).alias("distCol"))
    )
