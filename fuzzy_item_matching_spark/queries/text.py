"""Text featurization queries (SURVEY §2.G) over `documents` and `part`.

Each query pairs an array-native Spark plan with an exact DuckDB
oracle. Array outputs are rendered with a '|' join so the compared
cell is a plain string (engine-neutral, hash-stable).

Tokenization semantics are the reference's RegexTokenizer
(`01_Feature Engineering.py:184-193`): lowercase, split on [^\\w\\d],
drop empty tokens — identical regex class in Java and RE2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.functions.text import (
    char_ngrams_of_words,
    md5_bucket,
    regex_tokenize,
    remove_stopwords,
    word_ngrams,
)
from fuzzy_item_matching_spark.queries import fit_once, query
from fuzzy_item_matching_spark.tables import load_table

@query("text_tokens")
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 RegexTokenizer over documents.text — pure narrow projection,
    whole-stage codegen, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = regex_tokenize("text")
    return d.select(
        "doc_id",
        F.concat_ws("|", toks).alias("tokens_str"),
        F.size(toks).alias("n_tokens"),
    )


@query("text_stop_filtered")
def text_stop_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 StopWordsRemover parity with Spark's full 181-word English
    list (`01_Feature Engineering.py:195-201`); bag semantics preserved
    (filter, not array_except — the latter dedups)."""
    d = load_table(spark, sf_dir, "documents")
    # Bind tokens, then the filtered bag, in separate projections —
    # `kept` is referenced twice below; unbound it would run the
    # 181-word filter (and the tokenizer under it) twice per row.
    return (
        d.select("doc_id", regex_tokenize("text").alias("__toks"))
        .select(
            "doc_id",
            F.size("__toks").alias("__n"),
            remove_stopwords(F.col("__toks")).alias("__kept"),
        )
        .select(
            "doc_id",
            F.concat_ws("|", "__kept").alias("kept_str"),
            (F.col("__n") - F.size("__kept")).alias("n_stopwords"),
        )
    )


@query("text_char_3grams")
def text_char_3grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+T4+T5 composite: per-word char-3-grams of part.p_name,
    flattened to one bag per row (`01_Feature Engineering.py:203-249`).
    The reference does melt→NGram→explode→collect_list (two shuffles);
    nested transform+flatten is row-local — zero shuffles at any SF."""
    p = load_table(spark, sf_dir, "part")
    grams = char_ngrams_of_words(regex_tokenize("p_name"), n=3)
    return p.select("p_partkey", F.concat_ws("|", grams).alias("grams_str"))


@query("text_word_2grams")
def text_word_2grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 word-2-gram (ml.feature.NGram(n=2) semantics,
    `01_Feature Engineering.py:342-349`) — space-joined adjacent
    tokens, row-local."""
    d = load_table(spark, sf_dir, "documents")
    # Tokens bound in a prior projection: referenced from inside
    # word_ngrams' transform lambda, an unbound tokenizer expression
    # would re-run per output gram (O(L²) per doc, measured 8-30s at
    # sf0.1 vs ~1s bound).
    return d.select("doc_id", regex_tokenize("text").alias("__toks")).select(
        "doc_id",
        F.concat_ws("|", word_ngrams(F.col("__toks"), n=2)).alias("bigrams_str"),
    )


@query("text_hashed_tf")
def text_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 HashingTF in sparse relational layout: (doc, bucket, tf)
    rows (`01_Feature Engineering.py:274-282`). Uses the md5 bucket
    (portable across engines — exact oracle); the Murmur3 variant
    (`functions.text.hashed_tf`) is the hot path and is
    property-checked in tests/ (hash parity is not the contract,
    SURVEY §7.2 stage 4). One shuffle: the (doc,bucket) hash agg."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(regex_tokenize("text")).alias("t"))
        .groupBy("doc_id", md5_bucket("t", 1024).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@query("text_levenshtein_pairs")
def text_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy pairs — the third similarity family next to
    Jaccard (dedup) and cosine (similarity). Levenshtein is O(len²)
    per pair with no sub-linear index, so it NEEDS a blocking key:
    here (brand, size) bounds the candidate set exactly like the
    reference bounds LSH candidates with thresholds
    (`02_Build Training Pairs.py:119-123`). Both engines implement the
    standard DP edit distance → exact integer oracle."""
    p = load_table(spark, sf_dir, "part")
    a = p.alias("a")
    b = p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("id_a"),
            F.col("b.p_partkey").alias("id_b"),
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 12)
    )


# Fixed BPE merge table (rank order matters: later merges consume the
# symbols earlier merges produced, e.g. 'jo'+'in' needs 'in' first).
# Production ships a learned table as a model artifact exactly like
# this — the apply step, not the fit, is the 100 TB operation.
_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("i n", "in"),
    ("e r", "er"),
    ("a n", "an"),
    ("s t", "st"),
    ("r o", "ro"),
    ("ro w", "row"),
    ("t h", "th"),
    ("th e", "the"),
    ("v a", "va"),
    ("va l", "val"),
    ("val u", "valu"),
    ("valu e", "value"),
    ("k e", "ke"),
    ("ke y", "key"),
    ("j o", "jo"),
    ("jo in", "join"),
    ("a t", "at"),
    ("o r", "or"),
)


# Passes per merge rule: a single non-overlapping replace of ' a b '
# consumes the shared boundary space, skipping every second merge in a
# chain like [a,b,a,b,a]; P passes resolve chains up to 2^P symbols,
# reproducing the standard left-to-right greedy scan for any realistic
# word length. Both engines (and the test replica) run the identical
# pass count, so parity is exact by construction.
_BPE_PASSES = 3


@query("text_bpe_segments")
def text_bpe_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY: segment every corpus word with a fixed
    ranked merge table (greedy non-overlapping replaces, standard BPE
    encode semantics) and return the resulting segment vocabulary with
    counts — the subword-tokenization pass an LLM data pipeline runs
    over the full corpus. The merge table is a plan literal, the exact
    shape of shipping a learned tokenizer model to every executor; the
    fit (pair-counting iterations) would be the same hash aggs run ~30k
    times driver-side, amortized once per tokenizer, not per corpus.

    Plan: pure narrow string expressions (regexp char-split + chained
    replaces, whole-stage codegen, no UDF) feeding one explode and one
    hash agg on a vocabulary-bounded key space — map-side combine does
    almost all the work. 100 TB: embarrassingly parallel scan;
    the only shuffle carries ≤|vocab| combined rows per task.

    Determinism: replace() is left-to-right non-overlapping in both
    engines; counts are exact integers.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(regex_tokenize("text")).alias("w"))
    s = F.concat(
        F.lit(" "), F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")), F.lit(" ")
    )
    for a, b in _BPE_MERGES:
        for _ in range(_BPE_PASSES):
            s = F.replace(s, F.lit(f" {a} "), F.lit(f" {b} "))
    s = F.trim(s)
    return (
        words.select(F.explode(F.split(s, " ")).alias("segment"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_BPE_FIT_ITERS = 8


@query("text_bpe_fit")
def text_bpe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer FIT: learn the first {n} merge rules from the
    corpus word vocabulary — the iterative half of subword
    tokenization (text_bpe_segments is the apply half). Each iteration
    counts adjacent symbol pairs weighted by word frequency, picks the
    most frequent (pair-ASC tie-break), and merges it everywhere.

    Plan: the iteration state lives in ONE distributed frame (distinct
    words × running segmentation — vocabulary-sized, orders of
    magnitude smaller than the corpus; the corpus is touched exactly
    once by the initial word count). Per iteration: an explode over
    boundary pairs + a map-side-combinable SUM, then a driver collect
    of a SINGLE argmax row (the same KB-scale collect budget as the
    IVF centroid loop, operators/ivf.py) folded back into the plan as
    a replace literal. At 100 TB the vocab frame is ~10⁷ rows — the
    loop cost is {n} cheap aggs, independent of corpus size.

    Determinism: counts are exact integers; argmax tie-breaks on the
    pair string; the oracle unrolls all {n} iterations as CTE levels
    computing the identical argmax through a one-row cross join.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(regex_tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    seg = words.select(
        "w",
        "wc",
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
            F.lit(" "),
        ).alias("s"),
    )
    merges: list[tuple[int, str, str, int]] = []
    for k in range(1, _BPE_FIT_ITERS + 1):
        seg = seg.persist()
        # sequence(1, n) steps DOWN when n < 1 in Spark (yielding bad
        # element_at indices), so single-symbol words are filtered out
        # up front — DuckDB's generate_series just returns [] for them.
        # split(trim(s)) is bound ONCE before the lambda: inlined, Spark
        # re-splits the segment string per adjacent pair (O(W²) per
        # word — the ts_charlm_score recompute class).
        pairs = (
            seg.select(
                "wc", F.split(F.trim(F.col("s")), " ").alias("__sy")
            )
            .filter(F.size("__sy") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__sy) - 1),"
                        " i -> concat(element_at(__sy, i), ' ',"
                        " element_at(__sy, i + 1)))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("wc").alias("cnt"))
        )
        [best] = pairs.orderBy(F.desc("cnt"), F.asc("p")).limit(1).collect()
        merged = best["p"].replace(" ", "")
        merges.append((k, best["p"], merged, best["cnt"]))
        s = F.col("s")
        for _ in range(_BPE_PASSES):
            s = F.replace(
                s, F.lit(f" {best['p']} "), F.lit(f" {merged} ")
            )
        nxt = seg.withColumn("s", s)
        nxt = nxt.localCheckpoint(eager=True)
        seg.unpersist()
        seg = nxt
    return spark.createDataFrame(
        merges, "rank int, pair string, merged string, cnt long"
    )


text_bpe_fit.__doc__ = text_bpe_fit.__doc__.format(n=_BPE_FIT_ITERS)


@query("text_jaro_winkler_pairs")
def text_jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler fuzzy pairs — the record-linkage scoring kernel
    (Winkler 1990, the string comparator behind Fellegi-Sunter
    deployments) next to Levenshtein (edit family), Jaccard (set
    family), and cosine (vector family). Same (brand, size) blocking
    as text_levenshtein_pairs so candidate generation stays a
    co-partitioned equi-join; the kernel itself is an Arrow-batched
    pandas_udf (F2's model-as-UDF path — Spark has no built-in JW),
    scoring only blocked pairs, never the cross product.

    Determinism: the Python kernel is bit-identical to DuckDB's
    jaro_winkler_similarity (same match-window scan order, same
    transposition count, same 0.7-gated 0.1-prefix bonus), so the
    0.88 threshold agrees at the boundary."""
    from fuzzy_item_matching_spark.functions.text import jaro_winkler

    p = load_table(spark, sf_dir, "part")
    a = p.alias("a")
    b = p.alias("b")
    return (
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
        .filter(F.col("jw") >= 0.88)
    )


# ---------------------------------------------------------------------------
# Batched BPE fit: K merges per driver round-trip (the 50k-merge path)
# ---------------------------------------------------------------------------

_BPE_B_ROUNDS = 3
_BPE_B_K = 4  # merges accepted per round
_BPE_B_C = 32  # candidate shortlist per round


@query("text_bpe_fit_batched")
def text_bpe_fit_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE fit, the SCALE variant: accept up to {k} NON-OVERLAPPING
    merges per round (pairs sharing no symbol with a higher-ranked
    selection — such replaces commute, so one batched apply equals {k}
    sequential applies), chosen greedily from the round's top-{c}
    shortlist. A 50k-merge vocabulary needs 50k driver round-trips
    with the classic one-merge loop (text_bpe_fit — fine at its fixed
    8, documented there as NOT the scale path); batching divides the
    rounds by {k} while staying exactly replayable: the oracle unrolls
    every round's shortlist, the greedy selection (as {k} chained
    LIMIT-1 CTEs with NOT-EXISTS symbol guards), and the batched
    apply. Non-overlap batching is the standard scalable-BPE
    relaxation — merges within a round don't see each other's output,
    which the classic loop would.

    Plan per round: one vocabulary-frame pair count (map-side
    combinable), ONE driver collect of a {c}-row shortlist (KB-scale),
    one batched replace projection. At 100 TB: corpus touched once by
    the word count; every round is vocab-bounded.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(regex_tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    seg = words.select(
        "w",
        "wc",
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
            F.lit(" "),
        ).alias("s"),
    )
    out: list[tuple[int, int, str, str, int]] = []
    for r in range(1, _BPE_B_ROUNDS + 1):
        seg = seg.persist()
        # split bound once before the lambda — see text_bpe_fit's note.
        pairs = (
            seg.select(
                "wc", F.split(F.trim(F.col("s")), " ").alias("__sy")
            )
            .filter(F.size("__sy") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__sy) - 1),"
                        " i -> concat(element_at(__sy, i), ' ',"
                        " element_at(__sy, i + 1)))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("wc").alias("cnt"))
        )
        shortlist = (
            pairs.orderBy(F.desc("cnt"), F.asc("p")).limit(_BPE_B_C).collect()
        )
        used: set[str] = set()
        chosen: list[tuple[str, int]] = []
        for row in shortlist:
            ls, rs = row["p"].split(" ")
            if ls in used or rs in used:
                continue
            chosen.append((row["p"], row["cnt"]))
            used.update((ls, rs))
            if len(chosen) == _BPE_B_K:
                break
        s = F.col("s")
        for p, _cnt in chosen:
            merged = p.replace(" ", "")
            for _ in range(_BPE_PASSES):
                s = F.replace(s, F.lit(f" {p} "), F.lit(f" {merged} "))
        for sel, (p, cnt) in enumerate(chosen, start=1):
            out.append((r, sel, p, p.replace(" ", ""), cnt))
        nxt = seg.withColumn("s", s)
        nxt = nxt.localCheckpoint(eager=True)
        seg.unpersist()
        seg = nxt
    return spark.createDataFrame(
        out, "round int, sel int, pair string, merged string, cnt long"
    )


text_bpe_fit_batched.__doc__ = text_bpe_fit_batched.__doc__.format(
    k=_BPE_B_K, c=_BPE_B_C
)


@query("text_unigram_em")
def text_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM subword tokenizer fit (SentencePiece's model; Kudo
    2018) — the OTHER major tokenizer next to BPE: piece probabilities
    initialize from substring counts (all single chars + the top-64
    multi-char substrings ≤ 4 chars) and ONE EM iteration re-estimates
    them, the E-step computing expected piece usage over ALL
    segmentations by forward-backward dynamic programming (unrolled to
    the 12-char word cap), the M-step renormalizing. Output:
    (piece, cnt, p0, p1).

    Scale shape (operators/unigram_lm.py): the only corpus-sized work
    is the word-count groupBy — EM runs on the DISTINCT-WORD frame
    weighted by counts (the text_bpe_fit compression); the bounded
    vocabulary ships as a literal map so the whole DP is row-local
    column arithmetic, no joins. The oracle replays the identical
    recursion through 24 unrolled CTE levels with correlated
    piece-probability lookups."""
    rows = _uni_rows(spark, sf_dir)  # session memo — fit once, shared
    #                                  with the prune stage
    return spark.createDataFrame(
        rows, "piece string, cnt long, p0 double, p1 double"
    )


@query("text_unigram_segments")
def text_unigram_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi segmentation APPLY — the `encode` half of
    the SentencePiece pair (text_unigram_em is the fit): per distinct
    word, the maximum-probability segmentation under the
    substring-count unigram model, computed by an unrolled Viterbi DP
    (argmax with the k-ascending tie-break) plus an unrolled
    backtracking walk reassembling the piece sequence. Output
    (w, wc, n_pieces, seg, best_p).

    Scale shape: identical to the fit — corpus work is one word-count
    groupBy; the DP and backtrack are row-local column arithmetic
    over the distinct-word frame with the bounded vocabulary as a
    literal map. The oracle replays DP + backtrack through unrolled
    CTEs with the same tie-break chains."""
    from fuzzy_item_matching_spark.operators.unigram_lm import (
        unigram_viterbi_segments,
    )
    from fuzzy_item_matching_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return unigram_viterbi_segments(d, regex_tokenize("text"))


_UNI_PRUNE_TAU = 0.004  # multi-char survival threshold on p1


@fit_once
def _uni_rows(spark: SparkSession, sf_dir: str) -> list:
    from fuzzy_item_matching_spark.operators.unigram_lm import (
        unigram_em_fit,
    )
    from fuzzy_item_matching_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    # ≤ alphabet + 64 rows — the fitted-state budget
    return unigram_em_fit(d, regex_tokenize("text")).collect()


@query("text_unigram_prune")
def text_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SentencePiece PRUNE stage (Kudo 2018 §3.2's loop is
    EM → prune → repeat): after the EM re-estimate, multi-char pieces
    whose posterior probability fell below {tau} leave the vocabulary
    (single chars always survive — segmentability), and the survivors
    renormalize. Composes the EM fit wholesale — the Spark side reads
    the session memo (fit once), the oracle nests the full EM
    statement as a CTE (the train_ece composition discipline), so
    fit and prune stay definitionally consistent.

    Determinism: p1 values are the EM query's 9-rounded outputs; the
    renormalizer accumulates them as DECIMAL(38,18) (exact — they sit
    on the 1e-9 grid) and the final share rounds to 9."""
    rows = _uni_rows(spark, sf_dir)
    em = spark.createDataFrame(
        [(r["piece"], r["cnt"], r["p1"]) for r in rows],
        "piece string, cnt long, p1 double",
    )
    kept = em.filter(
        (F.length("piece") == 1) | (F.col("p1") >= _UNI_PRUNE_TAU)
    )
    tot = kept.agg(
        F.sum(F.col("p1").cast("decimal(38,18)")).cast("double").alias("s")
    )
    return kept.crossJoin(F.broadcast(tot)).select(
        "piece",
        "cnt",
        "p1",
        F.round(F.col("p1") / F.col("s"), 9).alias("p_pruned"),
    )


text_unigram_prune.__doc__ = text_unigram_prune.__doc__.format(
    tau=_UNI_PRUNE_TAU
)


# ---------------------------------------------------------------------------
# Phonetic blocking (consonant-skeleton key) for entity resolution
# ---------------------------------------------------------------------------


@query("text_phonetic_blocking")
def text_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC BLOCKING for entity resolution: a consonant-skeleton
    key (per word: first letter + vowel/h/w/y-stripped remainder,
    '_'-joined) groups names that survive the misspellings vowels
    absorb — 'gear'/'gere'→'gr', 'widget'/'wydgit'→'wdgt'. The
    soundex FAMILY without the adjacent-duplicate collapse (RE2-safe:
    no backreferences, so ONE regex semantics replays in both
    engines); blocks with >1 member are the candidate-pair budget a
    phonetic blocker would hand the fuzzy scorer (J4) — the third
    blocking key family next to char-n-gram LSH (sim_*) and
    Fellegi-Sunter's exact-field blocks (serve_fs_*).

    Scale shape: the key is a row-local codegen expression (lower +
    split + per-word regex — no UDF); blocking is ONE
    map-side-combinable aggregation on the key. At 100 TB this is the
    cheapest candidate generator in the repo — a scan and a hash agg;
    n_cand_pairs makes each block's downstream join cost visible
    before anyone pays it (the sim_blocking_eval discipline).

    Determinism: pure string algebra, integer outputs.
    """
    p = load_table(spark, sf_dir, "part")
    word_skel = lambda w: F.concat(  # noqa: E731
        F.substring(w, 1, 1),
        F.regexp_replace(F.substring(w, 2, 2_000_000), "[aeiouhwy]", ""),
    )
    key = F.array_join(
        F.transform(F.split(F.lower(F.col("p_name")), " "), word_skel),
        "_",
    )
    k = p.select("p_partkey", "p_name", key.alias("block_key"))
    b = k.groupBy("block_key").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("p_name").alias("n_names"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("long")
        .alias("n_cand_pairs"),
    )
    return b.filter(F.col("n_parts") > 1)
