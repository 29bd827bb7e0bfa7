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
  candidate counts (`02_Build Training Pairs.py:119-123`).
- ``fuzzy_match_pairs``     — end-to-end: raw text column → tokenize →
  stopword filter → char-3-grams → TF-IDF → L2 norm → cosine pair join;
  the engine-native equivalent of the reference's NB1 pipeline + NB2
  candidate-pair generation.

LSH-accelerated dense-vector joins live in ``operators/lsh.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.functions.text import (
    char_ngrams_of_words,
    regex_tokenize,
    remove_stopwords,
)
from fuzzy_item_matching_spark.functions.vector import squared_dist
from fuzzy_item_matching_spark.operators.features import tfidf_features


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
    produced by ``operators.features.sparse_tfidf(normalize=True)``).
    With unit-norm weights, cosine(a, b) = Σ_t w_a(t)·w_b(t), so the
    join is: equi-join postings on term → per-pair partial products →
    hash-aggregate sum → threshold filter.

    Scale shape: one shuffle on ``term`` (the postings join), one shuffle
    on the pair key (the aggregation); both are plain hash partitions
    Catalyst/AQE handles, skew bounded by pruning high-df terms upstream.
    Never materializes |A|×|B| — only pairs sharing ≥1 term appear, the
    same candidate-bounding idea as the reference's LSH bucketing
    (`02_Build Training Pairs.py:52-58`).
    """
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
    corpus shapes."""
    from fuzzy_item_matching_spark.operators.collapse import (
        expand_group_pairs,
        group_map,
        signature_gate,
    )

    w = weights
    doc_sig = w.groupBy(F.col(id_col).alias("__id")).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(term_col), F.col(weight_col)))
        ).alias("__sig")
    ).persist()  # read by the gate count, the doc→gid map and (via
    # groups) the representative postings — one shuffle, three readers
    _, _, collapse = signature_gate(doc_sig, collapse_ratio)
    if not collapse:
        doc_sig.unpersist()
        a = w.withColumnRenamed(id_col, "id_a")
        b = w.withColumnRenamed(id_col, "id_b")
        return sparse_cosine_join(
            a, b, "id_a", "id_b",
            term_col=term_col, weight_col=weight_col,
            min_sim=min_sim, sim_col=sim_col, self_dedup=True,
        )
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
    n_docs: int | None = None,
) -> DataFrame:
    """Raw text → sparse L2-normalized TF-IDF rows (id, term, weight).

    The engine-native form of the reference's name pipeline
    T1→T2→T4/T5→T7→T8→T9 (`01_Feature Engineering.py:184-298`):
    tokenize, stopword-filter, char-n-gram, (optionally) feature-hash,
    IDF-weight, L2-normalize — entirely JVM-side expressions plus two
    hash aggregations; no VectorUDT, no Python UDF.

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
        n_docs=n_docs,
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
    """
    if right is None:
        feats = featurize_text(
            left, [id_col], text_col,
            ngram_n=ngram_n, num_features=num_features, max_df_ratio=max_df_ratio,
        ).persist()  # both self-join sides reference this plan; without
        # persistence the whole TF-IDF (aggs + window) computes TWICE —
        # measured 8.5× slower at sf0.1. The reference caches its
        # features for the same reason (`03_Train & Deploy Model.py:455`).
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
    feats = featurize_text(
        tagged, ["__side", id_col], text_col,
        ngram_n=ngram_n, num_features=num_features, max_df_ratio=max_df_ratio,
    ).persist()  # referenced by both filtered sides (see self-mode note)
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
    import numpy as np
    from pyspark.sql import types as T

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
