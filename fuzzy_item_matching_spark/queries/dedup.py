"""Deduplication queries over `documents` / `embeddings`.

Core large-scale-pipeline surface (SURVEY §4.3 extension; MinHash named
in the reference at `02_Build Training Pairs.py:58`). The exact and
Jaccard forms carry exact DuckDB oracles (integer arithmetic up to one
final division); the MinHash/SimHash forms are seeded-hash-dependent →
rows-only here, containment-checked in tests/test_dedup.py.

The sf0.01 documents table has 25 planted near-duplicate pairs at
jaccard ≥ 0.8, cleanly separated from the background (< 0.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.functions.text import regex_tokenize, word_ngrams
from fuzzy_item_matching_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from fuzzy_item_matching_spark.queries import fit_once, query
from fuzzy_item_matching_spark.tables import EMB_DIM, load_table

@query("dedup_exact_docs")
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = hash groupBy on content, min-id canonical row.
    The corpus is unioned with an id-shifted copy of itself so every
    text has ≥2 copies (sf0.01 has no natural exact dups) — exercises
    U1 union + the dedup aggregate. One shuffle on the text hash;
    at 100 TB you'd group on md5(text) to shrink shuffle rows."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return (
        d.unionByName(shifted)
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


@query("dedup_ngram_jaccard")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via inverted index —
    only pairs sharing ≥1 shingle materialize (never all-pairs).
    Integer intersection/size arithmetic → exact oracle."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", regex_tokenize("text"), n=3, min_jaccard=0.5
    )


@query("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (32 hashes) + 8-band LSH candidates, exact-Jaccard
    verified ≥ 0.5. The 100 TB dedup path: shuffle volume is bands×ids
    + candidate pairs, never n². Output ⊆ dedup_ngram_jaccard.
    Uses the md5-derived hash family (one md5 per shingle,
    Kirsch–Mitzenmacher derivation) so banding is exactly replicated by
    the SQL oracle."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", regex_tokenize("text"),
        n=3, n_hashes=32, bands=8, min_jaccard=0.5,
    )


@query("dedup_incremental_minhash")
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the production shape where a delta
    batch (here doc_id % 5 = 0, a fifth of the corpus standing in for
    today's arrivals) is checked against the already-indexed corpus
    WITHOUT re-deriving corpus×corpus pairs: only delta rows drive the
    probe side of the band join, so the cost is |delta| × bucket
    occupancy per ingest. Output = Jaccard-verified pairs touching the
    delta (delta×corpus ∪ delta×delta), a superset-free restriction of
    `dedup_minhash_lsh`'s full run (containment pinned in
    tests/test_dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", regex_tokenize("text"),
        n=3, n_hashes=32, bands=8, min_jaccard=0.5,
        delta_ids=lambda c: c % 5 == 0,
    )


@query("dedup_minhash_recall")
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: banded-MinHash recall against the
    exact word-3-gram Jaccard truth at the SAME threshold — the check
    a scale user runs before trusting LSH with 100 TB (the analogue of
    sim_ann_recall for the dedup index). Both sides are Jaccard-
    verified, so the LSH set is a subset of the truth and precision
    is 1 by construction; what banding risks is RECALL: with 8 bands
    of 4 rows, P(candidate | j) = 1 − (1 − j⁴)⁸ ≈ 0.40 at j = 0.5 but
    0.985 at j = 0.8 — so threshold-boundary pairs may be missed while
    the planted near-dup band (j ≥ 0.8) should survive ~fully. The
    result quantifies exactly that: n_missed counted via anti-join
    (not assumed from containment), recall as one IEEE division.

    Scale shape: both pair generators are inverted-index equi-joins
    (never all-pairs). The tokenized corpus is persisted ONCE and both
    generators read it (~9% off the warm query at sf0.1; the
    remaining cost is genuinely the two index builds — the exact
    side's full inverted-index join plus the MinHash signature
    aggregate — which is what this query exists to compare). r15
    (guide §2.4): the three counts come from ONE full-outer join of
    the two (unique) pair sets + ONE aggregate — the old
    three-aggregate cross-join evaluated the exact subtree twice
    (n_exact + the anti-join) and the LSH subtree twice (n_lsh + the
    anti-join); each index now builds exactly once per run. n_missed
    is still COUNTED from the join (exact rows with no LSH partner),
    not assumed from containment."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", regex_tokenize("text").alias("__toks"))
        .persist()
    )
    exact = ngram_jaccard_pairs(
        d, "doc_id", F.col("__toks"), n=3, min_jaccard=0.5
    ).select("id_a", "id_b", F.lit(1).alias("__e"))
    lsh = minhash_lsh_pairs(
        d, "doc_id", F.col("__toks"),
        n=3, n_hashes=32, bands=8, min_jaccard=0.5,
    ).select("id_a", "id_b", F.lit(1).alias("__l"))
    both = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.count("__e").alias("n_exact"),
        F.count("__l").alias("n_lsh"),
        F.count(
            F.when(F.col("__e").isNotNull() & F.col("__l").isNull(), 1)
        ).alias("n_missed"),
    ).select(
        "n_exact",
        "n_lsh",
        "n_missed",
        F.when(F.col("n_exact") == 0, F.lit(1.0))
        .otherwise(
            (F.col("n_exact") - F.col("n_missed")).cast("double")
            / F.col("n_exact")
        )
        .alias("recall"),
    )


# Content-defined chunking: a token opens a new chunk when its md5
# bucket mod _CDC_MOD is 0 → expected chunk length _CDC_MOD tokens,
# boundaries a pure function of local content.
_CDC_MOD = 16
_CDC_MIN_TOKS = 5


@query("dedup_cdc_chunks")
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) shared-chunk report — the
    storage-dedup boundary discipline (Rabin/Gear CDC; LBFS, Muthitacharoen
    et al., SOSP '01) applied to corpus text: a token OPENS a new
    chunk when md5(token) mod 16 = 0, so expected chunk length is
    16 tokens and — unlike dedup_chunk_lines' fixed 8-token grid —
    boundaries are a pure function of LOCAL content: inserting or
    deleting a sentence shifts every downstream fixed-window chunk but
    re-synchronizes CDC chunks at the next boundary token, which is
    what lets shared passages between document revisions keep
    identical fingerprints. Output: every chunk of ≥ 5 tokens that
    appears in ≥ 2 documents, with its occurrence counts and min-id
    keeper — the cross-document boilerplate ledger.

    Scale shape: boundary flags are a narrow per-row expression; the
    running segment id is a per-document window cumsum (state bounded
    by one document); chunk assembly is a (doc, segment) hash agg with
    position-sorted reassembly, and the cross-corpus ledger is one
    more map-side-combinable agg keyed on the chunk (at 100 TB: on
    xxhash64(chunk) — cheaper shuffle key, same grouping). Nothing is
    all-pairs."""
    from fuzzy_item_matching_spark.operators.dedup import cdc_chunk_ledger

    d = load_table(spark, sf_dir, "documents")
    return cdc_chunk_ledger(
        d, "doc_id", regex_tokenize("text"), mod=_CDC_MOD,
        min_toks=_CDC_MIN_TOKS,
    )


@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs within hamming ≤ 3, candidates from
    16-bit chunk collisions (pigeonhole: recall 1.0 for hamming ≤ 3).
    Row-local fingerprint; the only shuffles are the chunk join and
    pair distinct. Uses the portable md5-derived bit family so the
    full pipeline is hash-exact against the SQL oracle (xxhash64
    remains the hot path via portable=False; property checks in
    tests/test_dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(
        d, "doc_id", regex_tokenize("text"), max_hamming=3, band_bits=16,
        portable=True,
    )


@query("dedup_embedding_exact_pairs")
def dedup_embedding_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact O(n²) oracle form (bench
    excludes it; `sim_lsh_sqdist_pairs` is the bucketed scale twin —
    for unit-ish vectors cosine ≥ t ⇔ sqdist ≤ 2-2t)."""
    from fuzzy_item_matching_spark.functions.vector import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.4)
    )


_SEM_N_CELLS, _SEM_ITERS, _SEM_MIN_COS, _SEM_PROBE = 16, 1, 0.4, 2


# Centroids shared by the semantic-dedup pair/keep twins: the index
# build (2 driver collects: lowest-id sample + one Lloyd mean table,
# KBs each) runs once; the keep query then reuses the pairs frame
# instead of re-clustering.
@fit_once
def _sem_centroids(spark: SparkSession, sf_dir: str) -> list:
    from fuzzy_item_matching_spark.operators.ivf import (
        refine_centroids,
        sample_centroids,
    )
    from fuzzy_item_matching_spark.operators.lsh import valid_vectors, vector_dim

    e = load_table(spark, sf_dir, "embeddings")
    e = valid_vectors(e, "embedding", vector_dim(e, "embedding"))
    c = sample_centroids(e, "vec_id", "embedding", _SEM_N_CELLS)
    if _SEM_ITERS:
        c = refine_centroids(e, "vec_id", "embedding", c, _SEM_ITERS)
    return c


@query("dedup_semantic_pairs")
def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style scalable embedding near-dup pairs: cluster into
    IVF cells (deterministic sampled centroids + one exact-decimal
    Lloyd pass — the SAME index build `sim_ann_ivf_topk` verifies),
    place every vector in its 2 nearest cells (multi-probe), and emit
    pairs sharing a probed cell at cosine ≥ 0.4 from one Arrow-batched
    block dot per cell. The scale twin of
    `dedup_embedding_exact_pairs`: candidate volume is occupancy-
    bounded (24% of n² here; shrinks as n_centroids grows ~√n), never
    n²; shuffles are one on cell + the pair-dedup groupBy. Pairs
    with disjoint probe lists are missed by design — the subset
    property and the 40/59 recall floor vs the exact O(n²) pairs are
    graded in tests/test_dedup.py."""
    from fuzzy_item_matching_spark.operators.ivf import ivf_cell_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_cell_pairs(
        e, "vec_id", "embedding", min_cosine=_SEM_MIN_COS,
        n_probe=_SEM_PROBE, centroids=_sem_centroids(spark, sf_dir),
    )


@query("dedup_semantic_recall")
def dedup_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third leg of the index-evaluation triangle (with
    sim_ann_recall and dedup_minhash_recall): SemDeDup's multi-probe
    cell-blocked pairs measured against the exact O(n²) cosine truth
    at the same threshold. Pairs whose probe lists are disjoint are
    missed BY DESIGN — this query turns the test-suite recall floor
    into a queryable metric a pipeline can monitor as n_centroids /
    n_probe are tuned. n_missed is counted via anti-join; recall is
    one IEEE division.

    The truth is a deterministic ANCHOR SAMPLE (pairs whose lower id
    is ≡ 0 mod 5 — a fifth of the n² work), which is also how a
    production run would do it: recall estimated on a sampled truth
    set, never the full corpus. Bench-excluded anyway (the sampled
    side is still quadratic in corpus size; the sim_ann_recall
    precedent)."""
    from fuzzy_item_matching_spark.functions.vector import cosine_similarity
    from fuzzy_item_matching_spark.operators.ivf import ivf_cell_pairs

    e = load_table(spark, sf_dir, "embeddings")
    sem = (
        ivf_cell_pairs(
            e, "vec_id", "embedding", min_cosine=_SEM_MIN_COS,
            n_probe=_SEM_PROBE, centroids=_sem_centroids(spark, sf_dir),
        )
        .filter(F.col("id_a") % 5 == 0)
        .select("id_a", "id_b")
        .distinct()
    )
    a = e.filter(F.col("vec_id") % 5 == 0).alias("a")
    b = e.alias("b")
    exact = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_similarity(
                F.col("a.embedding"), F.col("b.embedding")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _SEM_MIN_COS)
        .select("id_a", "id_b")
    )
    missed = exact.join(sem, ["id_a", "id_b"], "left_anti")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    ns = sem.agg(F.count(F.lit(1)).alias("n_sem"))
    nm = missed.agg(F.count(F.lit(1)).alias("n_missed"))
    return (
        ne.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nm))
        .select(
            "n_exact",
            "n_sem",
            "n_missed",
            F.when(F.col("n_exact") == 0, F.lit(1.0))
            .otherwise(
                (F.col("n_exact") - F.col("n_missed")).cast("double")
                / F.col("n_exact")
            )
            .alias("recall"),
        )
    )


@query("dedup_semantic_keep")
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable SemDeDup verdict: per vector, its cell and
    kept=0 iff a LOWER-id within-cell neighbor sits at cosine ≥ 0.4
    (min-id survivorship — each near-dup set keeps exactly its lowest
    id, the `dedup_exact_docs` convention). One anti-join over the
    memoized pair frame; the centroid build is shared with
    `dedup_semantic_pairs` via `_sem_centroids` so fit-then-apply
    costs one index, not two."""
    from fuzzy_item_matching_spark.operators.ivf import (
        assign_cells,
        ivf_cell_pairs,
    )
    from fuzzy_item_matching_spark.operators.lsh import valid_vectors

    e = load_table(spark, sf_dir, "embeddings")
    cents = _sem_centroids(spark, sf_dir)
    pairs = ivf_cell_pairs(
        e, "vec_id", "embedding", min_cosine=_SEM_MIN_COS,
        n_probe=_SEM_PROBE, centroids=cents,
    )
    drops = (
        pairs.select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    assigned = assign_cells(
        valid_vectors(e, "embedding", EMB_DIM),
        "vec_id", "embedding", cents,
    )
    return (
        assigned.select(
            F.col("__id").alias("vec_id"), F.col("__cell").alias("cell")
        )
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("__dropped").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("kept"),
        )
    )


@query("dedup_canonical_map")
def dedup_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that makes dedup actionable: map every document to a
    canonical id (its lowest-id near-duplicate, or itself) and flag
    drops. One-hop assignment — at 100 TB the full transitive closure
    is an iterative connected-components job; one hop already
    deduplicates all planted pairs here and is the common production
    compromise (each doc points at its best earlier match)."""
    d = load_table(spark, sf_dir, "documents")
    # Persist the (small: one row per near-dup pair) pairs frame so the
    # shingle-postings pipeline behind it runs once, not once per
    # downstream reference (measured 12.6s -> ~jaccard-cost at sf0.1).
    pairs = ngram_jaccard_pairs(
        d, "doc_id", regex_tokenize("text"), n=3, min_jaccard=0.5
    ).persist()
    best = pairs.groupBy("id_b").agg(F.min("id_a").alias("canonical_id"))
    return (
        d.select("doc_id")
        .join(best, d.doc_id == best.id_b, "left")
        .select(
            "doc_id",
            F.coalesce("canonical_id", "doc_id").alias("canonical_id"),
            F.when(F.col("canonical_id").isNotNull(), 1).otherwise(0).alias("is_duplicate"),
        )
    )


@query("dedup_canonical_closure")
def dedup_canonical_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-transitive-closure canonical map: connected components of
    the near-dup pair graph, every document labeled with the MINIMUM
    doc id of its whole component (`dedup_canonical_map` is the
    one-hop compromise — a chain a~b~c leaves c pointing at b there,
    at a here; the component min itself is the survivor,
    is_duplicate=0). Spark side is `operators/dedup.connected_components`
    (one collect of the pair ids, then a driver-side union-find — exact
    for any graph diameter); the oracle is the same closure as a
    DuckDB recursive CTE — set-semantics UNION reaches the fixpoint.
    """
    from fuzzy_item_matching_spark.operators.dedup import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", regex_tokenize("text"), n=3, min_jaccard=0.5
    )
    comps = connected_components(pairs, "id_a", "id_b")
    return (
        d.select("doc_id")
        .join(comps, d.doc_id == comps.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("canonical_id"),
            F.when(
                F.col("component").isNotNull()
                & (F.col("component") != F.col("doc_id")),
                1,
            )
            .otherwise(0)
            .alias("is_duplicate"),
        )
    )


_DECON_N = 5  # n-gram length for containment (benchmark-decontamination style)


@query("dedup_decontaminate")
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: for every eval-split document
    (doc_id % 10 = 0), the share of its distinct word-5-grams that
    also appear anywhere in the train split — the n-gram-containment
    check run before a benchmark ships, distinct from near-dup Jaccard
    (containment is asymmetric and cross-split, not corpus-wide
    similarity).

    Scale shape: an inverted postings equi-join on the gram — eval
    grams only ever meet train grams that hash to the same shuffle
    partition, never all-pairs; the train side is a distinct (map-side
    combined) postings set. At 100 TB you'd equi-join on xxhash64(gram)
    instead of the string (cheaper shuffle key, same join), and keep
    eval bounded (it is the benchmark, not the corpus)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", regex_tokenize("text").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("toks"), _DECON_N))).alias(
            "g"
        ),
    )
    ev = grams.filter(F.col("doc_id") % 10 == 0)
    tr = (
        grams.filter(F.col("doc_id") % 10 != 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        ev.join(tr, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            hits.alias("n_contaminated"),
            (hits.cast("double") / F.count(F.lit(1))).alias("contamination"),
        )
    )

_CHUNK_W = 8  # tokens per pseudo-line chunk
_CHUNK_MAX_DF = 1  # corpus-wide occurrence cap; above it a chunk is boilerplate


@query("dedup_chunk_lines")
def dedup_chunk_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (line-level-analog) boilerplate removal: segment
    each document into fixed 8-token chunks, count each chunk's exact
    occurrences across the whole corpus, drop chunks seen more than
    once, and reassemble the surviving chunks in original order — the
    repeated-line/boilerplate-paragraph filter every web-scale
    pretraining pipeline runs (RefinedWeb/Gopher line-dedup; fixed
    token windows stand in for newline splits because the synthetic
    corpus is single-line). Complements doc-level dedup: it edits
    WITHIN documents instead of dropping them.

    Scale shape: chunking is a narrow per-row transform; the corpus
    chunk-frequency is one map-side-combined hash agg; membership is an
    equi-join on the chunk (at 100 TB: on xxhash64(chunk) — cheaper
    shuffle key, same join); reassembly is a per-doc collect_list
    bounded by document length, sorted locally by chunk position.
    Nothing is all-pairs and no state exceeds one document."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", regex_tokenize("text").alias("t"))
    w = _CHUNK_W
    n_chunks = F.expr(f"(size(t) + {w - 1}) div {w}")
    chunk_arr = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.array_join(F.slice(F.col("t"), i * w + 1, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = toks.select(
        "doc_id",
        n_chunks.alias("n_chunks"),
        F.posexplode_outer(chunk_arr).alias("pos", "chunk"),
    )
    freq = chunks.filter(F.col("chunk").isNotNull()).groupBy("chunk").agg(
        F.count(F.lit(1)).alias("df")
    )
    kept = (
        chunks.join(freq, "chunk")
        .filter(F.col("df") <= _CHUNK_MAX_DF)
        .select("doc_id", "pos", "chunk")
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = chunks.select("doc_id", "n_chunks").distinct()
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


_GR_JW = 0.92


@query("dedup_golden_record")
def dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the last step of entity resolution the linkage
    and closure queries stop short of: collapse each matched cluster
    to ONE golden record by deterministic per-attribute rules
    (name from the minimum-key representative, price = cluster max,
    type = modal value with lexicographic tie-break). Clusters
    come from connected components over (brand,size)-blocked pairs
    whose Jaro-Winkler name similarity ≥ {jw} — the same kernel as
    text_jaro_winkler_pairs feeding the same closure operator as
    dedup_canonical_closure, composed into the reference's end goal:
    a deduplicated item master.

    Plan: blocked pair join (bounded candidates) → connected
    components (operators/dedup.connected_components: ONE collect of
    the pair ids, a driver-side union-find, labels back as a local
    frame — driver memory O(pairs)) → three cluster-keyed aggs
    (counts/max, modal argmax-by-count window, representative join),
    each keyed on cluster or node ids.

    Determinism: the JW kernel is bit-identical to DuckDB's; modal
    tie-breaks are total; golden_price is DECIMAL-exact before one
    closing cast."""
    from fuzzy_item_matching_spark.functions.text import jaro_winkler
    from fuzzy_item_matching_spark.operators.dedup import connected_components
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "part")
    a = p.alias("a")
    b = p.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
            jaro_winkler(F.col("a.p_name"), F.col("b.p_name")).alias("jw"),
        )
        .filter(F.col("jw") >= _GR_JW)
        .select("id_a", "id_b")
    )
    comps = connected_components(pairs, "id_a", "id_b")
    members = (
        p.join(comps, p.p_partkey == comps.node, "left")
        .select(
            F.coalesce(F.col("component"), F.col("p_partkey")).alias(
                "cluster_id"
            ),
            "p_partkey",
            "p_name",
            "p_retailprice",
            "p_type",
        )
    )
    members.persist()
    wmode = Window.partitionBy("cluster_id").orderBy(
        F.desc("cnt"), F.asc("p_type")
    )
    modal = (
        members.groupBy("cluster_id", "p_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rnk", F.row_number().over(wmode))
        .filter(F.col("rnk") == 1)
        .select("cluster_id", F.col("p_type").alias("golden_type"))
    )
    agg = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("p_partkey").alias("rep_key"),
        F.max(F.col("p_retailprice").cast("decimal(18,2)")).alias("gp"),
    )
    rep = p.select(
        F.col("p_partkey").alias("rep_key"), F.col("p_name").alias("golden_name")
    )
    return (
        agg.filter(F.col("n_members") >= 2)
        .join(rep, "rep_key")
        .join(modal, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "golden_name",
            F.col("gp").cast("double").alias("golden_price"),
            "golden_type",
        )
    )


dedup_golden_record.__doc__ = dedup_golden_record.__doc__.format(jw=_GR_JW)


_BOUNDARY_W = 3  # boundary window: last/first W words


@query("dedup_boundary_overlap")
def dedup_boundary_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-contamination detection: documents whose LAST W words equal
    another document's FIRST W words — the signature a chunking bug or
    re-crawled continuation leaves in a pretraining corpus (one source
    page split into overlapping records). head_id continues into
    tail_id. Extension surface: the boundary-window join complements
    whole-document dedup (exact / MinHash) and the 5-gram
    decontaminator, which both miss edge-aligned partial overlap.

    Plan: one narrow projection computes both boundary keys row-locally
    (slice of the tokenized array), then a single md5-keyed equi-join
    suffix→prefix. Never all-pairs: the shuffle key is the boundary
    hash, candidate count = Σ_k suf_count(k)·pre_count(k), the inverted
    -index bound. At 100 TB identical shape — two narrow frames keyed
    by a 128-bit hash; skew only if one boundary phrase is corpus-hot,
    the same max_df-style cap as the similarity join would apply.

    Determinism: the join key is the exact word sequence (md5 of the
    space-joined words); output carries the phrase itself so the
    oracle's list-equality join is replayed verbatim.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", regex_tokenize("text").alias("t")).filter(
        F.size("t") >= _BOUNDARY_W
    )
    f = toks.select(
        "doc_id",
        F.concat_ws(" ", F.slice("t", 1, _BOUNDARY_W)).alias("pre"),
        F.concat_ws(" ", F.slice("t", -_BOUNDARY_W, _BOUNDARY_W)).alias(
            "suf"
        ),
    )
    a = f.select(
        F.col("doc_id").alias("head_id"),
        F.md5("suf").alias("k"),
        F.col("suf").alias("boundary"),
    )
    b = f.select(F.col("doc_id").alias("tail_id"), F.md5("pre").alias("k"))
    return (
        a.join(b, "k")
        .filter(F.col("head_id") != F.col("tail_id"))
        .select("head_id", "tail_id", "boundary")
    )


@query("dedup_funnel_counts")
def dedup_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup funnel as ONE plan — per-stage survivor counts for a
    duplicated ingest (the corpus unioned with an id-shifted copy,
    the dedup_exact_docs fixture): ingest → exact dedup (min-id per
    text) → near-dup drop (word-3-gram Jaccard ≥ 0.5 one-hop keeper)
    → minimum-length gate. The stage-count report every production
    dedup run emits — it's how you notice a mis-tuned threshold
    eating the corpus before training does.

    Ordering is the scale ordering: exact dedup FIRST (one
    content-hash groupBy halves the corpus before the expensive
    shingle join — and removes the identical-text degenerate case
    the within-cell semantic kernel documents), then the
    inverted-index Jaccard join over survivors only. Counts are
    1-row aggregates unioned — no stage materializes more than the
    survivor frame it already needed."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ingest = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    # r15 (guide §2.4): the ingest stage count rides the exact-dedup
    # aggregate as a group-size column (n_ingest = Σ group sizes over
    # the cached exact frame), so stage 1 no longer re-scans the
    # doubled ingest union — the before-plan read the parquet 4×
    # (2 for the count, 2 for the dedup build); after: 2.
    exact = ingest.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("__mult"),
    )
    exact = exact.select("doc_id", "text", "__mult").persist()
    pairs = ngram_jaccard_pairs(
        exact, "doc_id", regex_tokenize("text"), n=3, min_jaccard=0.5
    )
    drops = pairs.select("id_b").distinct().withColumn("__d", F.lit(1))
    near = (
        exact.join(drops, exact.doc_id == drops.id_b, "left")
        .filter(F.col("__d").isNull())
        .select("doc_id", "text")
        .persist()
    )
    quality = near.filter(F.size(regex_tokenize("text")) >= 20)

    def stage(i: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(i).alias("stage"),
            F.lit(name).alias("name"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    ingest_n = exact.agg(
        F.lit(1).alias("stage"),
        F.lit("ingest").alias("name"),
        # coalesce: an EMPTY ingest sums to NULL where count() gave 0
        F.coalesce(F.sum("__mult"), F.lit(0)).cast("long").alias("n_docs"),
    )
    return (
        ingest_n
        .unionByName(stage(2, "exact_dedup", exact))
        .unionByName(stage(3, "near_dedup", near))
        .unionByName(stage(4, "min_length", quality))
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup: cross-document repeated n-gram spans.

_SS_N = 8  # span gram width (tokens) — the Lee et al. 50-token idea
#             scaled to this corpus's ~25-token documents


@query("dedup_substring_spans")
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-level dedup — the sub-document granularity of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), at word-{n}-gram resolution instead of suffix
    arrays: every position whose {n}-gram occurs in ≥2 DISTINCT
    documents is a duplicated position; runs of consecutive duplicated
    positions merge into SPANS (gaps-and-islands: i − row_number is
    constant within a run), and the output manifest
    (doc_id, span_start, span_end, n_grams, span_tokens) is what a
    trainer consumes to mask or drop the repeated text — the
    substring-level sibling of ts_loss_mask's packing manifest.

    Scale shape: positional grams hash to 16-hex md5 prefixes BEFORE
    the frequency groupBy, so the corpus-wide shuffle carries a fixed
    16-byte key instead of {n}-word strings; the duplicated-gram set
    joins back as a semi-join (inverted-index discipline — never pair
    enumeration); islands are one per-doc window over only the
    DUPLICATED positions. Exactly one corpus-sized exchange (the gram
    groupBy) plus the doc-keyed window.

    Determinism: integers end-to-end (positions, counts); the md5
    prefix is the engine-portable hash (functions/text.py md5_bucket's
    convention). Both engines emit identical span rows."""
    n = _SS_N
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", regex_tokenize("text").alias("tl")
    )
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("tl") < n, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("tl") - n),
                    lambda i: F.concat_ws(" ", F.slice("tl", i + 1, n)),
                )
            )
        ).alias("p", "g"),
    ).select(
        "doc_id",
        (F.col("p") + 1).cast("long").alias("i"),
        F.substring(F.md5("g"), 1, 16).alias("gh"),
    )
    grams = grams.persist()  # feeds the frequency agg AND the join-back
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "left_semi").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    islands = hits.withColumn(
        "grp", F.col("i") - F.row_number().over(w)
    )
    return islands.groupBy("doc_id", "grp").agg(
        F.min("i").alias("span_start"),
        (F.max("i") + F.lit(n - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
        (F.max("i") - F.min("i") + F.lit(n)).alias("span_tokens"),
    ).select("doc_id", "span_start", "span_end", "n_grams", "span_tokens")


# ---------------------------------------------------------------------------
# Winnowing (MOSS) local fingerprint dedup
# ---------------------------------------------------------------------------

_WIN_K = 7  # char k-gram length
_WIN_W = 4  # winnowing window (guarantee: shared substrings >= k+w-1 hit)
_WIN_DF_CAP = 20  # drop fingerprints present in more docs (MOSS "too common")
_WIN_MIN_SHARED = 3
_WIN_MIN_OVERLAP = 0.25


@query("dedup_winnowing_pairs")
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-robust local-fingerprint dedup by WINNOWING (Schleimer
    et al., SIGMOD 2003 — the MOSS algorithm): hash char {k}-grams,
    keep each {w}-window's minimum (operators/dedup.py
    winnowing_fingerprints), and report document pairs sharing >= {ms}
    selected fingerprints with containment overlap >= {mo}. The
    guarantee that makes this the partial-copy detector the dedup
    family otherwise lacks: ANY shared substring of length >=
    {k}+{w}-1 = {g} chars produces a shared SELECTED fingerprint —
    regardless of where it sits in either document — while the index
    holds only ~2/({w}+1) of all grams. Exact fingerprints
    (ts_fingerprint) need byte-identical docs; MinHash needs globally
    similar token SETS; winnowing catches a copied paragraph inside an
    otherwise-different document.

    Plan: fingerprint selection is one explode + one per-doc window
    (shuffles on doc_id); candidate generation is an INVERTED-INDEX
    equi-join on fingerprint hashes — never all-pairs — and the MOSS
    "too common" document-frequency cap (df <= {cap}) removes the hot
    keys boilerplate creates BEFORE the join, which is both the
    quality rule and the skew guard. At 100 TB: selected fingerprints
    are ~0.4 x grams, the df cap bounds every join key's fan-out at
    {cap}, so pair partials are bounded by sum df(h)^2 <= {cap} x
    index size — linear in the corpus.

    Determinism: integer hashes (portable md5 family), exact counts;
    overlap is one IEEE division of exact integers.
    """
    from fuzzy_item_matching_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("txt")
    )
    sel = winnowing_fingerprints(d, k=_WIN_K, w=_WIN_W).persist()
    df = sel.groupBy("h").agg(F.count(F.lit(1)).alias("dfc"))
    sel2 = (
        sel.join(df, "h")
        .filter(F.col("dfc") <= _WIN_DF_CAP)
        .select("doc_id", "h")
        .persist()
    )
    sizes = sel2.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    a = sel2.select(F.col("doc_id").alias("doc_a"), "h")
    b = sel2.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    overlap = F.col("n_shared").cast("double") / F.least(
        F.col("na"), F.col("nb")
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("nb")),
            "doc_b",
        )
        .filter(
            (F.col("n_shared") >= _WIN_MIN_SHARED)
            & (overlap >= _WIN_MIN_OVERLAP)
        )
        .select("doc_a", "doc_b", "n_shared", overlap.alias("overlap"))
    )


dedup_winnowing_pairs.__doc__ = dedup_winnowing_pairs.__doc__.format(
    k=_WIN_K,
    w=_WIN_W,
    ms=_WIN_MIN_SHARED,
    mo=_WIN_MIN_OVERLAP,
    g=_WIN_K + _WIN_W - 1,
    cap=_WIN_DF_CAP,
)


_IW_DF_CAP = 20
_IW_MIN_SHARED = 2
_IW_MIN_CONTAIN = 0.25


@query("dedup_incremental_winnowing")
def dedup_incremental_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing in its PRODUCTION shape: an arriving DELTA batch
    (doc_id % 11 = 0) screened against the STORED corpus fingerprint
    index (the dedup_incremental_minhash pattern, upgraded from
    set-similarity to partial-copy detection): report, per delta
    document, which corpus documents already contain its selected
    fingerprints and what fraction (containment = n_shared / the
    delta's fingerprint count) — the decontamination direction: "how
    much of this new document is already in the corpus". The MOSS
    document-frequency cap comes FROM THE STORED INDEX (production
    carries df alongside the index) and masks hot fingerprints on
    both sides before the join.

    Plan: at 100 TB the stored index is a persisted (h, doc_id, df)
    table; each delta batch pays its own winnowing selection (linear
    in batch text) + ONE inverted-index equi-join against the index,
    fan-out bounded by the df cap — incremental cost is proportional
    to the BATCH, never the corpus. Spark side mirrors this: the
    stored side is built once and persisted; only equi-joins keyed on
    h follow.

    Determinism: integer fingerprints and counts; containment is one
    IEEE division of exact integers.
    """
    from fuzzy_item_matching_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("txt")
    )
    sel_d = winnowing_fingerprints(d.filter(F.col("doc_id") % 11 == 0))
    sel_s = winnowing_fingerprints(
        d.filter(F.col("doc_id") % 11 != 0)
    ).persist()
    dfs = sel_s.groupBy("h").agg(F.count(F.lit(1)).alias("dfc"))
    ss2 = (
        sel_s.join(dfs, "h")
        .filter(F.col("dfc") <= _IW_DF_CAP)
        .select("doc_id", "h")
    )
    sd2 = (
        sel_d.join(dfs, "h", "left")
        .filter(F.coalesce(F.col("dfc"), F.lit(0)) <= _IW_DF_CAP)
        .select("doc_id", "h")
        .persist()
    )
    sized = sd2.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    pairs = (
        sd2.select(F.col("doc_id").alias("delta_doc"), "h")
        .join(ss2.select(F.col("doc_id").alias("corpus_doc"), "h"), "h")
        .groupBy("delta_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    containment = F.col("n_shared").cast("double") / F.col("n_fp")
    return (
        pairs.join(
            sized.select(F.col("doc_id").alias("delta_doc"), "n_fp"),
            "delta_doc",
        )
        .filter(
            (F.col("n_shared") >= _IW_MIN_SHARED)
            & (containment >= _IW_MIN_CONTAIN)
        )
        .select("delta_doc", "corpus_doc", "n_shared", containment.alias("containment"))
    )


# ---------------------------------------------------------------------------
# Containment dedup: subset detection the symmetric Jaccard misses
# ---------------------------------------------------------------------------

_CONT_T = 0.8


@query("dedup_containment_pairs")
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT dedup — C(A,B) = |A∩B| / min(|A|,|B|) over word-
    3-gram shingle sets: a short document fully embedded in a longer
    one scores containment ≈ 1 while its JACCARD collapses toward
    |A|/|B| (a 1-page excerpt of a 100-page doc has jaccard ≈ 0.01 —
    the symmetric threshold in dedup_ngram_jaccard can never see it).
    Containment is the measure excerpt/quote/boilerplate-inclusion
    dedup actually needs; winnowing (dedup_winnowing_pairs) finds the
    SPAN, containment scores the SET relation, and the output names
    which side is the contained one (the deletion candidate in a
    keep-longest policy). Jaccard is emitted alongside so the
    asymmetry is visible per pair.

    Plan: identical inverted-index shape to dedup_ngram_jaccard — one
    shingle explode, one postings equi-join (only pairs sharing ≥1
    shingle), one pair count, a broadcast-friendly size join; the
    threshold prunes before output. Same Σ df² exposure, same remedy
    available (the collapse gate groups identical shingle sets first;
    containment of identical sets is 1.0).

    Determinism: intersection and sizes are exact integers; the two
    ratios are single divisions; contained_id ties break to id_a
    (<= on sizes), a total rule replayed in the oracle.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", regex_tokenize("text").alias("__toks")
    )
    from fuzzy_item_matching_spark.operators.dedup import word_shingles

    sh = toks.select(
        "doc_id", F.explode(word_shingles(F.col("__toks"), 3)).alias("g")
    ).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "g")
    b = sh.select(F.col("doc_id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    nx = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    ny = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    cont = F.col("i").cast("double") / F.least("na", "nb")
    return (
        inter.join(nx, "id_a")
        .join(ny, "id_b")
        .filter(cont >= _CONT_T)
        .select(
            "id_a",
            "id_b",
            "i",
            cont.alias("containment"),
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("jaccard"),
            F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("contained_id"),
        )
    )
