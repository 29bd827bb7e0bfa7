"""Corpus/text analytics queries over `documents` (SURVEY §2.G/A4 plus
the large-scale-pipeline text-analysis surface: quality scoring,
language ID, token stats, fingerprinting).

Everything here is JVM-side Catalyst expressions + hash aggregations;
the TF-IDF query runs ``operators.features.tfidf_features`` end-to-end
(on the driver when its bags are within the broadcast threshold, else
lazy N, shuffle-join IDF and a windowed L2 norm) against a full SQL
replica — the corpus-level A4 check (`01_Feature Engineering.py:284-290`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.functions.text import (
    ENGLISH_STOPWORDS,
    hex_long_once,
    regex_tokenize,
    word_ngrams,
)
from fuzzy_item_matching_spark.functions.sampling import keyed_uniform
from fuzzy_item_matching_spark.operators.features import tfidf_features
from fuzzy_item_matching_spark.queries import query
from fuzzy_item_matching_spark.tables import load_table


@query("ts_tfidf_weights")
def ts_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level L2-normalized TF-IDF rows (A4/T8). Bags within the
    broadcast threshold are weighted on the driver with one collect;
    otherwise the plan is two hash aggs + one term join (AQE-broadcast
    when vocab fits) + one window — N computed in-plan, no unbounded
    broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", regex_tokenize("text").alias("toks"))
    return tfidf_features(toks, ["doc_id"], "toks", binary=False)


@query("ts_token_stats")
def ts_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary stats: document frequency + total term
    frequency (the IDF.fit corpus aggregation made explicit,
    `01_Feature Engineering.py:284-290`)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(regex_tokenize("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("c").alias("total_tf"))
    )


@query("ts_doc_quality")
def ts_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score: length, mean token length,
    stop-word ratio — the classic pretraining-corpus filter features,
    combined with rational weights (exact cross-engine arithmetic).
    Pure narrow projection: scales linearly, no shuffle.

    The tokenizer and stop-filter are BOUND as columns before the
    feature projection: each feature references them repeatedly, and
    codegen's subexpression elimination does not dedupe subtrees that
    contain HOF lambdas — unbound, the regex tokenizer re-ran per
    referencing feature (measured 2.4x at sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    d = d.withColumn("__toks", regex_tokenize("text")).withColumn(
        "__kept", F.filter("__toks", lambda t: ~F.array_contains(sw, t))
    )
    toks, kept = F.col("__toks"), F.col("__kept")
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    avg_len = F.when(n == 0, F.lit(0.0)).otherwise(total_len / n)
    stop_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(kept)).cast("double") / n
    )
    quality = (
        F.least(n, F.lit(200)) / 200.0 * 0.5
        + stop_ratio * 0.2
        + F.least(avg_len, F.lit(8.0)) / 8.0 * 0.3
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


# Tiny per-language lexicons for the n-gram/stopword language-ID
# heuristic. The testdata's `lang` column is synthetic metadata (the
# text vocabulary is identical across langs), so the query's contract
# is the deterministic heuristic itself, replicated in the oracle.
_LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "por", "que", "no"],
}


def _lang_hits(toks: Column, lex: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in lex])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


@query("ts_lang_id")
def ts_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-hit language ID with deterministic argmax tie-break
    (en > de > fr > es). Row-local; at 100 TB this is a free map-side
    column, the standard first-pass corpus filter."""
    d = load_table(spark, sf_dir, "documents")
    toks = regex_tokenize("text")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    hits = {k: _lang_hits(F.col("toks"), lex) for k, lex in _LANG_LEXICONS.items()}
    best = F.greatest(*hits.values())
    guess = (
        F.when(best == 0, "unknown")
        .when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["es"]), "en")
        .when((hits["de"] >= hits["fr"]) & (hits["de"] >= hits["es"]), "de")
        .when(hits["fr"] >= hits["es"], "fr")
        .otherwise("es")
    )
    conf = F.when(F.col("n") == 0, F.lit(0.0)).otherwise(best.cast("double") / F.col("n"))
    return base.select("doc_id", guess.alias("lang_guess"), conf.alias("confidence"))


@query("ts_fingerprint")
def ts_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact_fp = md5 of the normalized token
    stream (byte-identical duplicate detection); content_fp = md5 of
    the sorted distinct vocabulary (order/repetition-insensitive).
    md5 is bit-identical across engines → exact oracle; at scale these
    are the grouping keys for exact dedup (shuffle carries 32-byte
    hashes, not documents)."""
    d = load_table(spark, sf_dir, "documents")
    toks = regex_tokenize("text")
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", toks).cast("binary")).alias("exact_fp"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(toks))).cast("binary")
        ).alias("content_fp"),
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol — the GPT-2-style pre-split whose piece count upper-bounds BPE
# token count. Chosen to behave identically under Java regex (Spark)
# and RE2 (DuckDB): character classes and alternation only, no
# lookaround, no unicode classes.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]"


@query("ts_token_counts")
def ts_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget estimation for a pretraining corpus: whitespace
    token count and a BPE-ish pre-tokenizer piece count (letter runs /
    digit runs / single symbols — the GPT-2 pre-split shape), plus
    chars-per-piece as the compressibility signal. Pure narrow
    projection — at 100 TB this is a free map-side pass whose SUM is
    the corpus token budget."""
    d = load_table(spark, sf_dir, "documents")
    # Strip ALL whitespace kinds at the edges — F.trim strips only
    # spaces, so a trailing newline would add a phantom empty token.
    trimmed = F.regexp_replace("text", "^[ \\t\\n\\r]+|[ \\t\\n\\r]+$", "")
    # n_pieces bound before reuse (referenced three times below).
    bound = d.select(
        "doc_id",
        "n_chars",
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, "[ \\t\\n\\r]+")))
        .alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")).alias(
            "n_pieces"
        ),
    )
    return bound.select(
        "doc_id",
        "n_ws_tokens",
        "n_pieces",
        F.when(F.col("n_pieces") == 0, F.lit(0.0))
        .otherwise(F.col("n_chars").cast("double") / F.col("n_pieces"))
        .alias("chars_per_piece"),
    )


@query("pipe_corpus_clean")
def pipe_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-corpus cleaning pipeline as ONE composed plan —
    the flow every large-scale training-data system runs, built
    entirely from this engine's stages: language-ID filter (keep 'en')
    → heuristic quality filter → near-duplicate drop (keep only docs
    with no earlier jaccard ≥ 0.5 survivor — the one-hop canonical
    rule) → BPE-ish token-budget count for what remains.

    One plan: the row-local feature stage fuses into the scan; the only
    shuffles are the dedup postings join + the anti-join, both over the
    FILTERED corpus (filters push ahead of the expensive stage, exactly
    how a 100 TB cleaning pass must be ordered). Every stage reuses a
    fragment whose standalone query is already hash-exact, and the
    composition carries its own full oracle."""
    from fuzzy_item_matching_spark.operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    base = d.select("doc_id", "text", regex_tokenize("text").alias("toks"))
    feat = base.select(
        "doc_id",
        "text",
        "toks",
        F.size("toks").alias("n"),
        F.size(
            F.filter(F.col("toks"), lambda t: ~F.array_contains(sw, t))
        ).alias("nk"),
        F.aggregate(
            F.transform(F.col("toks"), lambda x: F.length(x).cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("tl"),
        *[
            _lang_hits(F.col("toks"), lex).alias(f"h_{k}")
            for k, lex in _LANG_LEXICONS.items()
        ],
    )
    n = F.col("n")
    avg_len = F.when(n == 0, F.lit(0.0)).otherwise(F.col("tl") / n)
    stop_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.col("nk")).cast("double") / n
    )
    quality = (
        F.least(n, F.lit(200)) / 200.0 * 0.5
        + stop_ratio * 0.2
        + F.least(avg_len, F.lit(8.0)) / 8.0 * 0.3
    )
    hits = [F.col(f"h_{k}") for k in _LANG_LEXICONS]
    best = F.greatest(*hits)
    guess = (
        F.when(best == 0, "unknown")
        .when(
            (F.col("h_en") >= F.col("h_de"))
            & (F.col("h_en") >= F.col("h_fr"))
            & (F.col("h_en") >= F.col("h_es")),
            "en",
        )
        .when((F.col("h_de") >= F.col("h_fr")) & (F.col("h_de") >= F.col("h_es")), "de")
        .when(F.col("h_fr") >= F.col("h_es"), "fr")
        .otherwise("es")
    )
    surv = (
        feat.select(
            "doc_id", "text", "toks",
            quality.alias("quality"), guess.alias("lang_guess"),
        )
        .filter((F.col("lang_guess") == "en") & (F.col("quality") >= 0.3))
        .persist()  # feeds the dedup postings join (twice) + the output
    )
    pairs = ngram_jaccard_pairs(surv, "doc_id", F.col("toks"), n=3, min_jaccard=0.5)
    dups = pairs.select("id_b").distinct()
    # r15 (guide §2.3 — project before the exchange): n_pieces is
    # computed BEFORE the anti-join so the join shuffles narrow
    # (doc_id, quality, n_pieces) rows from the cached surv frame
    # instead of text + token arrays; projection commutes with the
    # anti-join's row filter, so the output rows are identical.
    # (Broadcasting dups instead measured similar but is not
    # scale-safe: the near-dup id set is unbounded on a
    # duplicate-heavy crawl.)
    slim = surv.select(
        "doc_id",
        "quality",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")).alias(
            "n_pieces"
        ),
    )
    return slim.join(dups, slim.doc_id == dups.id_b, "left_anti")


# ---------------------------------------------------------------------------
# Training-sequence packing + PII redaction — the last-mile ops of an
# LLM data pipeline (after clean/dedup, before the trainer reads).
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per training sequence
_PACK_SHARDS = 8  # independent packing streams (cluster-parallel unit)


@query("ts_seq_packing")
def ts_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: lay documents out in stable
    (shard, doc_id) order and assign each to the training sequence
    where it STARTS (seq_id = start_offset // budget) — the
    deterministic contiguous-fill packer trainers use to batch
    variable-length documents into fixed windows. Output is the pack
    manifest: per (shard, seq) doc count, token total, doc-id span.

    Scale shape: packing is a running total, which is inherently
    sequential — so the order is defined PER SHARD (doc_id % k), and
    each shard packs independently in one window partition. At 100 TB
    you set shards ~ cluster parallelism (or reuse ingest file ids)
    and every partition packs its own stream with zero coordination;
    no global window, no driver loop. All-integer arithmetic keeps it
    bit-exact cross-engine (the one float op, start//budget, is exact
    for offsets < 2^53)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(regex_tokenize("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("end_tok", F.sum("n_tokens").over(w))
    return (
        c.withColumn(
            "seq_id",
            F.floor((F.col("end_tok") - F.col("n_tokens")) / _PACK_BUDGET),
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


_MASK_PROMPT = 16  # leading tokens per doc treated as prompt (no loss)


@query("ts_loss_mask")
def ts_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss-mask span manifest over the packed layout — the trainer
    handoff after ts_seq_packing: instruction-tuning runs compute loss
    only on completion tokens, so each packed document contributes a
    span [loss_from, end_off) inside its training sequence, with its
    first min(16, len) tokens masked as prompt. Output is one row per
    document: its sequence, in-sequence offsets, and loss-token count
    — exactly the index a data loader turns into attention/loss masks
    without re-tokenizing anything.

    Scale shape: identical to the packer — one per-shard window
    cumsum (state bounded by a shard's stream), then row-local
    integer arithmetic; no extra shuffle beyond the packer's. The one
    float op (start // budget) is exact below 2^53."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(regex_tokenize("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("end_tok", F.sum("n_tokens").over(w))
    start = F.col("end_tok") - F.col("n_tokens")
    seq_id = F.floor(start / _PACK_BUDGET)
    start_off = start - seq_id * _PACK_BUDGET
    return c.select(
        "shard",
        seq_id.alias("seq_id"),
        "doc_id",
        start_off.cast("long").alias("start_off"),
        (start_off + F.least(F.col("n_tokens"), F.lit(_MASK_PROMPT)))
        .cast("long")
        .alias("loss_from"),
        (start_off + F.col("n_tokens")).cast("long").alias("end_off"),
        F.greatest(F.col("n_tokens") - _MASK_PROMPT, F.lit(0))
        .cast("long")
        .alias("n_loss"),
    )


# Phone-shaped runs first, then any remaining digit run. Both patterns
# stay inside the regex subset Java (Spark) and RE2 (DuckDB) agree on:
# char classes + bounded repetition, no backrefs/lookaround.
_PII_PHONE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_NUM = "[0-9]+"


@query("ts_redact_pii")
def ts_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over a contact-note column: structured phone
    numbers are redacted first (and counted), then any remaining digit
    run — the usual layered-pattern redaction pass a pretraining
    pipeline runs before text ships to a trainer. The testdata carries
    no raw PII-bearing text (documents has zero digits, customer has
    no phone column), so the note is MATERIALIZED deterministically
    first — a phone-shaped 2-3-3-4 string from the zero-padded custkey
    plus the digit-bearing c_name — and the identical construction is
    replayed in the oracle; the operator under test is the layered
    redaction itself, with every count nonzero.

    Pure narrow projection — row-local regex work, no shuffle, scales
    linearly; Catalyst keeps both regexp_replace stages in one
    whole-stage-codegen pass. Patterns are in the Java∩RE2 regex
    subset so the oracle replays them exactly."""
    cust = load_table(spark, sf_dir, "customer")
    ds = F.lpad(F.col("c_custkey").cast("string"), 12, "0")
    phone = F.concat_ws(
        "-",
        F.substring(ds, 1, 2),
        F.substring(ds, 3, 3),
        F.substring(ds, 6, 3),
        F.substring(ds, 9, 4),
    )
    t = cust.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(" call "),
            phone,
            F.lit(" ref "),
            F.col("c_nationkey").cast("string"),
        ).alias("note"),
    )
    p = t.select(
        "c_custkey",
        F.size(F.expr(f"regexp_extract_all(note, '{_PII_PHONE}', 0)")).alias(
            "n_phones"
        ),
        F.regexp_replace("note", _PII_PHONE, "<PHONE>").alias("s1"),
    )
    return p.select(
        "c_custkey",
        "n_phones",
        F.size(F.expr(f"regexp_extract_all(s1, '{_PII_NUM}', 0)")).alias(
            "n_numbers"
        ),
        F.regexp_replace("s1", _PII_NUM, "<NUM>").alias("clean_note"),
    )


_SHUF_SHARDS = 16  # ordered prefix shards of the keyed uniform


@query("ts_corpus_shuffle")
def ts_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle: every document gets a
    stable position in a pseudorandom reading order (u = content-keyed
    uniform, doc_id tie-break) — the "shuffle your corpus once,
    reproducibly, on any engine" step before training.

    Scale shape: the naive form is row_number over a GLOBAL ordered
    window — one partition, dead at scale. Instead the keyed uniform
    is split into {_SHUF_SHARDS} ORDERED prefix shards
    (shard = floor(u·k); every row of shard s sorts before shard
    s+1), positions are ranked per shard in parallel windows, and
    each shard adds the total count of the shards before it (a
    k-row broadcast). Identical output to the global window — the
    oracle IS the naive global form — with max window partition
    n/k rows; k scales with the cluster."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    d = d.withColumn("u", keyed_uniform(F.col("doc_id"), seed=42)).withColumn(
        "shard", F.floor(F.col("u") * _SHUF_SHARDS).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("u", "doc_id")
    ranked = d.withColumn("r", F.row_number().over(w))
    counts = d.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    wo = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # |shards| rows total — the tiny frame, not the data
    offsets = counts.select(
        "shard", F.coalesce(F.sum("n").over(wo), F.lit(0)).alias("off")
    )
    return ranked.join(F.broadcast(offsets), "shard").select(
        "doc_id", (F.col("r") + F.col("off")).cast("long").alias("shuffle_pos")
    )


@query("ts_repetition")
def ts_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter (the Gopher/MassiveText-style
    quality signal): fraction of duplicate tokens and duplicate word
    3-grams within each document, plus the flag a corpus filter would
    act on. Catches boilerplate/spam that inter-document dedup can't —
    the doc is unique corpus-wide but degenerate internally.

    Row-local array arithmetic only (tokenize → n-grams → distinct
    counts), no shuffle, linear at any scale; each ratio is one double
    division so the oracle is exact. Token and gram arrays are bound
    once before the projection (HOF subtrees are invisible to
    codegen CSE — see ts_doc_quality)."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("__toks", regex_tokenize("text")).withColumn(
        "__grams", word_ngrams(F.col("__toks"), 3)
    )
    toks, grams = F.col("__toks"), F.col("__grams")
    n, ng = F.size(toks), F.size(grams)
    dup_tok = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(toks))).cast("double") / n
    )
    dup_gram = F.when(ng == 0, F.lit(0.0)).otherwise(
        (ng - F.size(F.array_distinct(grams))).cast("double") / ng
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        dup_tok.alias("dup_token_frac"),
        dup_gram.alias("dup_3gram_frac"),
        ((dup_tok > 0.3) | (dup_gram > 0.2)).alias("flagged"),
    )


_KMV_K = 256  # sketch size; corpus shingle cardinality >> k at any SF


@query("ts_distinct_kmv")
def ts_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SKETCH that is still exactly verifiable: the
    k-minimum-values estimator over corpus word-3-gram shingles.
    KMV keeps only the k smallest hash values of the stream; the
    cardinality estimate is (k-1)/u_k (u_k = k-th smallest hash mapped
    to [0,1)). Unlike HLL (whose register layout is engine-internal,
    so approx_count_distinct can never cross-engine-match), KMV over
    the portable md5-keyed uniform is a PURE function of the data —
    the DuckDB oracle replays it bit-for-bit, estimate included. The
    exact distinct count rides along so the estimator error is
    visible in the result.

    Scale shape: the k-smallest set is an associative, bounded-size
    merge — Spark plans the ORDER BY u LIMIT k as per-partition
    top-k + a k-row final merge (TakeOrdered), never a global sort;
    map-side partial aggregation collapses duplicate hashes before
    any shuffle. This is the pattern for any mergeable sketch on
    100 TB: per-partition sketch, tiny associative combine."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(regex_tokenize("text").alias("toks"))
    grams = toks.select(
        F.explode(F.array_distinct(word_ngrams(F.col("toks"), 3))).alias("g")
    )
    tu = grams.select(keyed_uniform(F.col("g"), seed=42).alias("u")).distinct()
    kset = tu.orderBy("u").limit(_KMV_K)
    m = kset.agg(F.max("u").alias("uk"), F.count(F.lit(1)).alias("kk"))
    e = tu.agg(F.count(F.lit(1)).alias("exact_distinct"))
    return e.crossJoin(F.broadcast(m)).select(
        "exact_distinct",
        F.when(F.col("kk") < _KMV_K, F.col("exact_distinct").cast("double"))
        .otherwise((F.col("kk") - 1) / F.col("uk"))
        .alias("kmv_estimate"),
    )


# HLL constants: m = 256 registers addressed by the first md5 hex
# byte; ranks read the next 60 bits. _HLL_NUM = alpha_256 * m^2 * 2^61
# as ONE double literal (identical text in both engines), so the
# estimate is a single IEEE division of exact operands.
_HLL_NUM = "1.0854228543761655e+23"
_HLL_POW61 = 2**61


def hll_registers(
    df: DataFrame, key_cols: list[str], item_col: str
) -> DataFrame:
    """Per-key HLL register table (key..., reg, r) — the mergeable
    sketch state: registers from two partitions/days/engines combine
    with elementwise MAX on (key, reg), a property pinned in
    tests/test_sketch_ops.py. reg = first md5 hex byte of the item;
    r = leading zeros of the next 60 bits + 1, integer-exact via
    61 - length(bin(v))."""
    hx = F.md5(F.col(item_col).cast("binary"))
    rv = df.select(
        *key_cols,
        F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("reg"),
        F.conv(F.substring(hx, 3, 15), 16, 10).cast("long").alias("v"),
    )
    return rv.groupBy(*key_cols, "reg").agg(
        F.max(
            F.when(F.col("v") == 0, F.lit(61)).otherwise(
                F.lit(61) - F.length(F.bin("v"))
            )
        ).alias("r")
    )


@query("ts_hll_distinct")
def ts_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct word-3-gram cardinality via an
    EXPLICIT-register HyperLogLog — the mergeable-sketch answer to
    ts_distinct_kmv's caveat: Spark's approx_count_distinct HLL can
    never cross-engine match because its register layout is
    engine-internal, but a register table we own (reg = first md5 hex
    byte, rank = leading zeros of the next 60 bits + 1, computed
    integer-exactly as 61 - length(bin(v))) is a pure function of the
    data, so DuckDB replays the whole sketch bit-for-bit — estimate
    included. Same shingle domain as the KMV sketch, so the two
    estimators are directly comparable.

    Scale shape: insertion is idempotent (MAX), so no pre-distinct
    pass — the plan is one map-side-combinable groupBy(source, reg)
    MAX over the shingle stream, a ≤ 256-row state per source that
    merges across partitions, days, or engines with elementwise MAX.
    Register sums accumulate Σ 2^(61-r) as exact integers (DECIMAL —
    256·2^61 overflows BIGINT), absent registers contribute 2^61
    (r = 0), and the raw estimate alpha·m²/Σ2^-r is ONE double
    division of exact operands. Below the 2.5·m = 640 threshold the
    standard linear-counting branch applies — m·ln(m/V) over the
    empty-register count V (without it the raw estimator reads ~199
    regardless of true cardinality down in the tens, measured 5.4×
    off on this fixture's sources): ln on IEEE doubles matches
    across engines on this platform, the precedent
    train_weighted_sample's ln(u)/w driver-green record established.
    Branch predicate and ln input are identical exact values in both
    engines. Estimator: Flajolet et al., HyperLogLog (AofA 2007).
    """
    d = load_table(spark, sf_dir, "documents")
    # Bind the token array BEFORE the n-gram lambda: inlined, the
    # transform would re-run the tokenizer once per output gram
    # (O(L²)/doc — measured 4.9 s vs 0.9 s at sf0.1, the SCALE_NOTES
    # round-3 pitfall).
    sh = (
        d.select("source", regex_tokenize("text").alias("__t"))
        .select("source", F.explode(word_ngrams(F.col("__t"), 3)).alias("g"))
        .persist()  # feeds the register build AND the exact count
    )
    regs = hll_registers(sh, ["source"], "g")
    s = regs.groupBy("source").agg(
        (
            F.sum(F.expr("shiftleft(1L, 61 - r)").cast("decimal(38,0)"))
            + (F.lit(256) - F.count(F.lit(1)))
            * F.lit(_HLL_POW61).cast("decimal(38,0)")
        ).alias("ssum"),
        (F.lit(256) - F.count(F.lit(1))).alias("zr"),
    )
    e = sh.groupBy("source").agg(F.countDistinct("g").alias("exact_distinct"))
    raw = F.lit(float(_HLL_NUM)) / F.col("ssum").cast("double")
    return e.join(s, "source").select(
        "source",
        "exact_distinct",
        F.when(
            (raw <= F.lit(640.0)) & (F.col("zr") > 0),
            F.lit(256.0) * F.log(F.lit(256.0) / F.col("zr")),
        )
        .otherwise(raw)
        .alias("hll_estimate"),
    )


@query("ts_sketch_compare")
def ts_sketch_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three cardinality estimators side by side on ONE shingle
    domain — the eval a data-quality dashboard actually wants before
    trusting a sketch at 100 TB: per source, the exact distinct
    word-3-gram count, the KMV estimate (k-minimum-values, k = 256,
    per-source this time), the explicit-register HLL estimate (with
    its linear-counting branch), and each estimator's signed relative
    error. Both sketches are pure functions of the data (md5-keyed
    uniform / md5 register+rank), so the DuckDB oracle replays the
    estimates bit-for-bit and the error columns are exact — the
    comparison itself is oracle-checked, not just the inputs.

    Scale shape: the exploded shingle frame persists once and feeds
    all three estimators. Exact = countDistinct per source (the
    expensive truth the sketches exist to replace); HLL = one
    map-side-combinable (source, reg) MAX groupBy with ≤ 256-row
    state per source; KMV = per-source k-smallest over the distinct
    hash frame — a window rank bounded by the source partition, kept
    here (vs the global TakeOrdered of ts_distinct_kmv) because the
    sketch is per-key. At the real scale you'd drop the exact leg
    and keep the two mergeable sketches; their agreement (|rel_err|
    pinned in tests/test_sketch_ops.py) is what licenses that swap.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.select("source", regex_tokenize("text").alias("__t"))
        .select("source", F.explode(word_ngrams(F.col("__t"), 3)).alias("g"))
        .persist()  # feeds exact, HLL registers, and KMV hashes
    )
    e = sh.groupBy("source").agg(
        F.countDistinct("g").alias("exact_distinct")
    )
    regs = hll_registers(sh, ["source"], "g")
    s = regs.groupBy("source").agg(
        (
            F.sum(F.expr("shiftleft(1L, 61 - r)").cast("decimal(38,0)"))
            + (F.lit(256) - F.count(F.lit(1)))
            * F.lit(_HLL_POW61).cast("decimal(38,0)")
        ).alias("ssum"),
        (F.lit(256) - F.count(F.lit(1))).alias("zr"),
    )
    raw = F.lit(float(_HLL_NUM)) / F.col("ssum").cast("double")
    hll = s.select(
        "source",
        F.when(
            (raw <= F.lit(640.0)) & (F.col("zr") > 0),
            F.lit(256.0) * F.log(F.lit(256.0) / F.col("zr")),
        )
        .otherwise(raw)
        .alias("hll_estimate"),
    )
    tu = sh.select(
        "source", keyed_uniform(F.col("g"), seed=42).alias("u")
    ).distinct()
    w = Window.partitionBy("source").orderBy("u")
    m = (
        tu.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("source")
        .agg(F.max("u").alias("uk"), F.count(F.lit(1)).alias("kk"))
    )
    est = (
        e.join(m, "source")
        .join(hll, "source")
        .select(
            "source",
            "exact_distinct",
            F.when(
                F.col("kk") < _KMV_K,
                F.col("exact_distinct").cast("double"),
            )
            .otherwise((F.col("kk") - 1) / F.col("uk"))
            .alias("kmv_estimate"),
            "hll_estimate",
        )
    )
    ex = F.col("exact_distinct")
    return est.select(
        "source",
        "exact_distinct",
        "kmv_estimate",
        "hll_estimate",
        ((F.col("kmv_estimate") - ex) / ex).alias("kmv_rel_err"),
        ((F.col("hll_estimate") - ex) / ex).alias("hll_rel_err"),
    )


@query("ts_token_dominance")
def ts_token_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent-token dominance per document — the remaining
    Gopher-style repetition signal (a doc whose top token is 20% of
    its mass is boilerplate even with low n-gram duplication). One
    explode + two hash aggregations, map-side combined; integer until
    the final division. Docs with zero tokens drop (no mass to
    dominate), matching the oracle's GROUP BY."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(regex_tokenize("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("max_tf"),
        (F.max("c").cast("double") / F.sum("c")).alias("top_token_frac"),
    )


@query("ts_top_terms")
def ts_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 L2-normalized TF-IDF terms per
    document (weight desc, term tie-break) — the per-doc window over
    the already-exact ts_tfidf_weights pipeline. The rank window
    partitions by doc (parallel, bounded by per-doc vocab); weights
    on both engines come from the identical float sequence, so the
    ordering — and therefore the hash — is exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", regex_tokenize("text").alias("toks"))
    feats = tfidf_features(toks, ["doc_id"], "toks", binary=False)
    w = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    return (
        feats.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "weight", "rnk")
    )


_CMS_D = 4  # count-min hash rows
_CMS_W = 32  # buckets per row (kept small so collisions actually occur)


@query("ts_countmin_heavy")
def ts_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch term frequencies (d=4 rows x w=32 buckets,
    portable md5 hash family) next to the exact counts — the streaming
    heavy-hitters sketch, with its one-sided error (est >= exact)
    surfaced as an explicit `overcount` column.

    Scale shape: exact per-term counts are reduced FIRST (one
    map-side-combined hash agg over token occurrences), and only the
    distinct vocabulary is hashed into the sketch — never
    occurrences x d rows. The materialized sketch is d*w rows
    regardless of corpus size, i.e. broadcastable state; at 100 TB the
    same construction runs as partial d*w arrays merged by + (the
    sketch is a monoid), which is exactly what the hash agg does here.
    Estimates come from an equi-join of vocab hashes to sketch cells —
    no all-pairs anywhere."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(regex_tokenize("text")).alias("term"))
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_tf"))
    rows = F.array([F.lit(r) for r in range(_CMS_D)])
    hashed = exact.select(
        "term", "exact_tf", F.explode(rows).alias("r")
    ).withColumn(
        "bucket",
        hex_long_once(
            F.md5(
                F.concat_ws(":", F.col("r").cast("string"), F.col("term")).cast(
                    "binary"
                )
            ),
            1,
        )
        % _CMS_W,
    )
    cms = hashed.groupBy("r", "bucket").agg(F.sum("exact_tf").alias("c"))
    est = (
        hashed.select("term", "r", "bucket")
        .join(cms, ["r", "bucket"])
        .groupBy("term")
        .agg(F.min("c").alias("est_tf"))
    )
    return est.join(exact, "term").select(
        "term",
        "exact_tf",
        "est_tf",
        (F.col("est_tf") - F.col("exact_tf")).alias("overcount"),
    )


_PMI_MIN_PAIR = 3  # minimum co-occurring docs for a reported pair


@query("ts_pmi_cooccurrence")
def ts_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level term co-occurrence with pointwise mutual
    information: PMI = ln(N * df_ab / (df_a * df_b)) over doc-distinct
    token pairs — the association-mining pass behind collocation
    detection and vocabulary curation. Integer counts throughout; the
    one float chain (a BIGINT-product division, then ln) is replayed
    in identical op order (the ln parity precedent is
    ts_tfidf_weights' IDF, hash-green at 11k rows).

    Scale shape: the pair generator is a SELF-JOIN ON doc_id of the
    doc-distinct postings — work is sum over docs of (distinct terms
    choose 2), never corpus-quadratic. At 100 TB you bound the per-doc
    factor first (top-N terms per doc by tf, or a min_df/max_df vocab
    band — the same pruning the inverted-index similarity join uses);
    the count aggregates are map-side combined, and the df lookups are
    broadcast-sized joins on the vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(regex_tokenize("text")).alias("term")
    ).distinct()
    nd = tok.agg(F.countDistinct("doc_id").alias("n"))
    dfreq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    a = tok.alias("a")
    b = tok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_PAIR)
    )
    ca = dfreq.select(
        F.col("term").alias("term_a"), F.col("c").alias("c_a")
    )
    cb = dfreq.select(
        F.col("term").alias("term_b"), F.col("c").alias("c_b")
    )
    return (
        pairs.join(F.broadcast(ca), "term_a")
        .join(F.broadcast(cb), "term_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "term_a",
            "term_b",
            "c_ab",
            "c_a",
            "c_b",
            F.log(
                (F.col("n") * F.col("c_ab")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("pmi"),
        )
    )


_FUNNEL_MIN_Q = 0.3
_FUNNEL_BUDGET = 150


@query("pipe_corpus_funnel")
def pipe_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-corpus funnel in ONE plan: quality gate (the
    ts_doc_quality score) → exact dedup (min-id keeper per text) →
    temperature-weighted source sampling (train_source_mixture's
    integer-exact rates, computed on the SURVIVORS) — reported as
    per-source stage retention (raw → quality → dedup → sampled →
    sampled tokens), the observability artifact every corpus build
    ships with its data.

    Scale shape: quality is row-local; the dedup window partitions by
    content (at 100 TB: by a 32-byte content hash — same plan, cheap
    key) and carries only the min-id; mixture rates are a
    |sources|-row broadcast; every per-stage count is map-side
    combined to |sources| rows. One corpus read feeds the whole
    funnel — the stages are column-pruned projections over the same
    scan, not four separate jobs."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = regex_tokenize("text")
    t = d.select("doc_id", "source", "text", toks.alias("toks"))
    feat = t.select(
        "doc_id",
        "source",
        "text",
        F.size("toks").alias("n"),
        F.size(
            F.filter(
                "toks",
                lambda x: ~F.array_contains(
                    F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS]), x
                ),
            )
        ).alias("nk"),
        F.when(F.size("toks") == 0, F.lit(0.0))
        .otherwise(
            F.aggregate(
                F.transform("toks", lambda x: F.length(x).cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.size("toks")
        )
        .alias("avg_len"),
    )
    quality = (
        F.least(F.col("n"), F.lit(200)) / 200.0 * 0.5
        + F.when(F.col("n") == 0, F.lit(0.0))
        .otherwise((F.col("n") - F.col("nk")).cast("double") / F.col("n"))
        * 0.2
        + F.least(F.col("avg_len"), F.lit(8.0)) / 8.0 * 0.3
    )
    q = feat.filter(quality >= _FUNNEL_MIN_Q)
    dd = (
        q.withColumn("keeper", F.min("doc_id").over(W.partitionBy("text")))
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    s = dd.groupBy("source").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("n").alias("tk")
    )
    w = s.withColumn(
        "wgt", F.floor(F.sqrt(F.col("tk").cast("double"))).cast("long")
    )
    tot = w.agg(F.sum("wgt").alias("total_w"))
    r = w.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.lit(_FUNNEL_BUDGET) * F.col("wgt")).cast("double")
            / (F.col("total_w") * F.col("nd")).cast("double"),
        ).alias("rate"),
    )
    samp = dd.join(F.broadcast(r), "source").filter(
        keyed_uniform(F.col("doc_id"), seed=42) < F.col("rate")
    )
    raw_c = t.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    q_c = q.groupBy("source").agg(F.count(F.lit(1)).alias("n_quality"))
    dd_c = dd.groupBy("source").agg(F.count(F.lit(1)).alias("n_dedup"))
    s_c = samp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n").alias("tok_sampled"),
    )
    return (
        raw_c.join(q_c, "source", "left")
        .join(dd_c, "source", "left")
        .join(s_c, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_dedup", F.lit(0)).alias("n_dedup"),
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("tok_sampled", F.lit(0).cast("long")).alias(
                "tok_sampled"
            ),
        )
    )


@query("pipe_incremental_refresh")
def pipe_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-corpus refresh loop in one query: snapshot v1
    holds the standing corpus keyed by 32-byte content fingerprints;
    an incoming batch (the doc_id%7 slice, standing in for a crawl
    delta) is deduplicated against v1 with a fingerprint ANTI-JOIN
    (stream_ingest_dedup's shape, batch form), and only the fresh
    docs commit as snapshot v2 (operators/versioned.py — readers on
    v1 are undisturbed, time travel can diff the versions). The
    version manifest counts ARE the checked output.

    Scale shape: the fingerprint frame is doc_id+32 bytes — the only
    state the dedup needs (never the text); the anti-join shuffles
    fingerprints, not documents; snapshots commit manifest-last. At
    100 TB the fingerprint table is itself bucketed by fp so the
    daily anti-join is exchange-free on the standing side."""
    import shutil as _sh

    from fuzzy_item_matching_spark.operators.versioned import VersionedTable
    from fuzzy_item_matching_spark.queries.sources import SCRATCH

    path = f"{SCRATCH}/corpus_versioned"
    _sh.rmtree(path, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp")
    )
    base = d.filter(F.col("doc_id") % 7 != 0)
    incoming = d.filter(F.col("doc_id") % 7 == 0)
    vt = VersionedTable(spark, path)
    v1 = vt.write_version(base)
    standing = vt.read(version=v1)
    fresh = incoming.join(
        standing.select("fp"), "fp", "left_anti"
    )
    v2 = vt.write_version(standing.unionByName(fresh))
    c = lambda df, n: df.agg(F.count(F.lit(1)).alias(n))  # noqa: E731
    return (
        c(vt.read(version=v1), "v1_docs")
        .crossJoin(c(incoming, "n_incoming"))
        .crossJoin(c(fresh, "n_fresh"))
        .crossJoin(c(vt.read(version=v2), "v2_docs"))
    )


@query("ts_charlm_score")
def ts_charlm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram LM perplexity scoring — the CCNet/KenLM-style
    quality filter: fit add-one-smoothed bigram counts on the corpus
    itself, then score every document by its mean negative log
    likelihood (low = fluent/in-domain, high = noise). Extension
    surface (reference has no LM filtering; its text analytics stop at
    TF-IDF, `01_Feature Engineering.py:284-290`).

    Plan: one explode into char bigrams feeds BOTH the model fit (two
    hash aggs over a charset²-bounded vocab) and the per-doc term
    frequencies; the model side is kilobytes at ANY corpus scale, so
    both model joins broadcast — the scoring pass is a single shuffle
    on (doc_id, bg) then one map-side-combinable per-doc agg. At
    100 TB: identical shape; the model agg is the only global exchange
    and its key space is bounded by the charset, not the data.

    Determinism: each ln((c2+1)/(c1n+V)) is one IEEE op on integers —
    bit-identical across engines; the per-doc sum of tf·lp doubles is
    order-dependent, so each term quantizes via floor(tf·lp·2^30)
    (floor has no tie mode to disagree on) and sums as plain BIGINT —
    order-insensitive AND ~2× faster than the DECIMAL(38,18)
    accumulation it replaces (the vec_pca_power fixed-point
    discipline; measured 5.7 s → below at sf0.1). 2^30 keeps a 10 MB
    document (~10⁷ bigrams × |lp|≤15 × 2^30 ≈ 1.6e17) two orders
    under long range; the ~2^-30 absolute quantum is part of the
    operator's definition and replayed exactly by the oracle.
    """
    return _charlm_nll(load_table(spark, sf_dir, "documents"))


def _charlm_nll(d: DataFrame) -> DataFrame:
    """Fit + score in one plan over any (doc_id, text) frame — split
    out so tests can score augmented corpora (OOD injection)."""
    # Bind the lowered text ONCE before the lambda: inlined, Spark
    # re-evaluates lower(coalesce(text)) for EVERY bigram (the O(L²)
    # re-run the minhash postings build also guards against) — measured
    # 4.9 s → 3.2 s at sf0.1 with identical output.
    low = d.select(
        "doc_id", F.lower(F.coalesce(F.col("text"), F.lit(""))).alias("__t")
    )
    # ONE corpus pass: the (doc, bigram) TF frame feeds the model aggs
    # AND the scoring join, and c2 = Σ_docs tf is the identical integer
    # count the direct corpus agg produces (r06 VERDICT: fit and score
    # used to re-explode; 13.2 s → ~8 s at sf0.1).
    # r14 (guide §2.4/§4.2): the TF count is PER-DOCUMENT, so it now
    # runs row-locally in one Arrow pass (Counter over the same
    # code-point slices substring(__t, i, 2) takes — lowering stays in
    # Spark so case semantics are the engine's; counts are exact
    # integers) instead of exploding every character position into a
    # corpus-wide (doc_id, bg) Exchange. The one data-sized shuffle in
    # the plan is GONE — the model agg's key space is charset²-bounded
    # and the final per-doc agg collapses map-side (each doc's rows
    # are emitted contiguously by the kernel). Empty/1-char docs emit
    # no rows, exactly as the length≥2-guarded explode did.
    import pandas as pd
    from collections import Counter

    id_type = d.schema["doc_id"].dataType
    tf_schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("bg", T.StringType()),
            T.StructField("tf", T.LongType()),
        ]
    )

    def count_bigrams(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, bgs, tfs = [], [], []
            for did, t in zip(
                pdf["doc_id"].to_numpy(), pdf["__t"].to_numpy()
            ):
                if t is None or len(t) < 2:
                    continue
                c = Counter(t[i : i + 2] for i in range(len(t) - 1))
                ids.extend([did] * len(c))
                bgs.extend(c.keys())
                tfs.extend(c.values())
            if ids:
                yield pd.DataFrame({"doc_id": ids, "bg": bgs, "tf": tfs})

    doctf = low.mapInPandas(count_bigrams, schema=tf_schema).persist()
    model = doctf.groupBy("bg").agg(F.sum("tf").alias("c2"))
    model.persist()
    ctx = model.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("c2").alias("c1n")
    )
    vocab = model.select(
        F.countDistinct(F.substring("bg", 2, 1)).alias("v")
    )
    terms = (
        doctf.join(F.broadcast(model), "bg")
        .join(F.broadcast(ctx), F.substring("bg", 1, 1) == F.col("c1"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "tf",
            F.log((F.col("c2") + 1.0) / (F.col("c1n") + F.col("v"))).alias("lp"),
        )
    )
    _q = 2.0**30  # fixed-point quantum, mirrored in the oracle literal
    return terms.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        (
            (-F.sum(F.floor(F.col("tf") * F.col("lp") * _q)))
            .cast("double")
            / _q
            / F.sum("tf")
        ).alias("nll"),
    )


@query("ts_char_entropy")
def ts_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document — the classic
    low-entropy screen (repeated-char spam, padding, binary junk) that
    complements the char-LM perplexity filter: entropy needs no model
    and catches degenerate strings the LM scores as fluent repeats.
    Computed as H = ln(n) − (Σ c·ln c)/n so the only float
    accumulation is Σ c·ln c over exact integer counts.

    Plan: explode to chars → (doc, char) hash agg (map-side combine;
    key space |docs|×|charset|) → per-doc agg. Both aggs co-partition
    on doc_id hash prefixes; no joins, no broadcast. At 100 TB:
    row-local explode + two combinable aggs — the cheapest possible
    two-level shape.

    Determinism: c·ln(c) is one IEEE op per distinct (doc, char),
    accumulated as DECIMAL(38,18); the closing expression is a fixed
    tree on exact sums.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ch = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text)),"
                    " i -> substring(text, i, 1))"
                )
            ).alias("ch"),
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return ch.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        (
            F.log(F.sum("c"))
            - F.sum(
                (F.col("c") * F.log("c")).cast("decimal(38,18)")
            ).cast("double")
            / F.sum("c")
        ).alias("entropy"),
    )


_CHI2_MIN_DF = 5
_CHI2_K = 100


@query("ts_chi2_terms")
def ts_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square term/label association — the supervised
    feature-selection pass (which vocabulary terms predict the 'en'
    label) that a training pipeline runs between tokenization and
    hashing-TF to shrink the feature space. Per term, the 2x2
    presence/label contingency gives chi2 = n·(ad−bc)²/((a+b)(c+d)
    (a+c)(b+d)); terms below {min_df} document frequency (or present
    in every document) are dropped, top {k} returned.

    Plan: per-doc distinct terms (row-local array_distinct, no
    shuffle) → explode → ONE hash agg on term (map-side combinable)
    → broadcast scalar totals → expression-only scoring →
    TakeOrderedAndProject. No joins besides the scalar broadcast; the
    agg key space is |vocab|, not |corpus|.

    Determinism: numerator n·(ad−bc)² and the four marginal factors
    are exact DECIMAL(38,0) integers; chi2 is ONE IEEE division, so
    equal-value ties are bit-equal in both engines and the LIMIT
    tie-breaks on term.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.array_distinct(regex_tokenize("text")).alias("toks"),
    )
    tot = d.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    td = (
        d.select("y", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(
            F.sum("y").alias("df_pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("df_neg"),
        )
    )
    df_tot = F.col("df_pos") + F.col("df_neg")
    adbc = (
        F.col("df_pos") * (F.col("n") - F.col("n_pos") - F.col("df_neg"))
        - F.col("df_neg") * (F.col("n_pos") - F.col("df_pos"))
    ).cast("decimal(38,0)")
    num = (F.col("n").cast("decimal(38,0)") * adbc * adbc).cast("double")
    den = (
        df_tot.cast("decimal(38,0)")
        * (F.col("n") - df_tot).cast("decimal(38,0)")
        * F.col("n_pos").cast("decimal(38,0)")
        * (F.col("n") - F.col("n_pos")).cast("decimal(38,0)")
    ).cast("double")
    return (
        td.crossJoin(F.broadcast(tot))
        .filter((df_tot >= _CHI2_MIN_DF) & (df_tot < F.col("n")))
        .select("term", "df_pos", "df_neg", (num / den).alias("chi2"))
        .orderBy(F.desc("chi2"), F.asc("term"))
        .limit(_CHI2_K)
    )


ts_chi2_terms.__doc__ = ts_chi2_terms.__doc__.format(
    min_df=_CHI2_MIN_DF, k=_CHI2_K
)


_RAG_W = 64  # window (tokens)
_RAG_S = 48  # stride (tokens) -> 16-token overlap


@query("ts_rag_chunks")
def ts_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker: {w}-token windows at stride {s}
    ({o}-token overlap) — the retrieval-corpus preparation step
    between cleaning and embedding (every RAG indexing pipeline runs
    exactly this shape). The last window is the remainder (never
    dropped); docs shorter than one window yield one chunk; overlap
    preserves context across boundaries for the embedder.

    Plan: 100% row-local — tokenize, one sequence-explode of
    ceil((n−{w})/{s})+1 chunk indices, one slice per chunk. No
    shuffle, no join; at 100 TB this is a pure map stage that chains
    straight into the embedding mapInPandas. Chunk ids are (doc_id,
    chunk_idx) — deterministic, so re-chunking an updated corpus
    produces stable keys for the incremental-refresh anti-join
    (pipe_incremental_refresh).

    Determinism: pure integer arithmetic + array slicing; the only
    float is the ceil division, identical both engines."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", regex_tokenize("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    n_chunks = F.when(n <= _RAG_W, F.lit(0)).otherwise(
        F.ceil((n - _RAG_W) / F.lit(float(_RAG_S))).cast("int")
    )
    spans = t.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * _RAG_S
    return spans.select(
        "doc_id",
        "chunk_idx",
        F.least(F.lit(_RAG_W), F.col("n") - start).alias("n_tokens"),
        F.array_join(
            F.slice(F.col("toks"), start + 1, _RAG_W), " "
        ).alias("chunk_text"),
    )


ts_rag_chunks.__doc__ = ts_rag_chunks.__doc__.format(
    w=_RAG_W, s=_RAG_S, o=_RAG_W - _RAG_S
)


_PREF_K = 5  # preference pairs per source

@query("pipe_preference_pairs")
def pipe_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (the DPO/RLHF data-prep shape):
    per source, pair the k-th BEST document with the k-th WORST by the
    heuristic quality score — (chosen, rejected) rows with a positive
    quality margin, the exact frame a preference-tuning run consumes.
    Extension surface: turns the corpus-quality signal the funnel
    already computes (ts_doc_quality / pipe_corpus_clean) into
    supervision instead of a drop filter.

    Plan: the row-local quality projection (no shuffle), then ONE
    exchange on source serving both rank windows (same partition key;
    two sorts), then a self-join on (source, k) whose sides are
    K-bounded per group — at 100 TB the join input is |sources|×K
    rows, driver-trivial, and the only data-sized stages are the scan
    and the source-keyed sort. Degenerate groups (fewer than 2K docs)
    self-resolve: the quality > guard drops pairs where best and worst
    overlap mid-group.

    Determinism: quality is rational arithmetic on exact token counts;
    both windows close with doc_id tie-breaks; margin is one double
    subtraction of identical operands in both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    d = d.withColumn("__toks", regex_tokenize("text")).withColumn(
        "__kept", F.filter("__toks", lambda t: ~F.array_contains(sw, t))
    )
    toks, kept = F.col("__toks"), F.col("__kept")
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    avg_len = F.when(n == 0, F.lit(0.0)).otherwise(total_len / n)
    stop_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(kept)).cast("double") / n
    )
    quality = (
        F.least(n, F.lit(200)) / 200.0 * 0.5
        + stop_ratio * 0.2
        + F.least(avg_len, F.lit(8.0)) / 8.0 * 0.3
    )
    scored = d.select("doc_id", "source", quality.alias("quality"))
    wb = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    ww = Window.partitionBy("source").orderBy(
        F.asc("quality"), F.asc("doc_id")
    )
    ranked = scored.select(
        "doc_id",
        "source",
        "quality",
        F.row_number().over(wb).alias("rb"),
        F.row_number().over(ww).alias("rw"),
    )
    best = ranked.filter(F.col("rb") <= _PREF_K).select(
        "source",
        F.col("rb").alias("k"),
        F.col("doc_id").alias("chosen_id"),
        F.col("quality").alias("q_chosen"),
    )
    worst = ranked.filter(F.col("rw") <= _PREF_K).select(
        "source",
        F.col("rw").alias("k"),
        F.col("doc_id").alias("rejected_id"),
        F.col("quality").alias("q_rejected"),
    )
    return (
        best.join(worst, ["source", "k"])
        .filter(F.col("q_chosen") > F.col("q_rejected"))
        .select(
            "source",
            "k",
            "chosen_id",
            "rejected_id",
            "q_chosen",
            "q_rejected",
            (F.col("q_chosen") - F.col("q_rejected")).alias("margin"),
        )
    )


_BUDGET_ROUNDS = 3


@query("pipe_token_budget")
def pipe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling across sources — the allocation step
    of a multi-source pretraining mix when the budget is binding:
    split 95% of the corpus token supply equally across sources,
    cap each source at what it actually has, and redistribute the
    leftover equally among unexhausted sources for 3 rounds (floor
    division every round, so the whole schedule is integer-exact and
    replayed verbatim by the oracle).

    Scale shape: the corpus is touched ONCE (per-source token totals,
    one map-side-combined agg); every water-filling round then runs on
    the |sources|-row aggregate under an unpartitioned window —
    KB-scale state regardless of corpus size, the train_source_mixture
    precedent. Extension surface (reference has no budget allocator;
    its mixing stops at pair sampling, `02_Build Training Pairs.py`)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy()  # |sources| rows — single-task window is fine
    t = (
        d.select("source", F.size(regex_tokenize("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens"))
    )
    cur = (
        t.withColumn("__tot", F.sum("n_tokens").over(w))
        .withColumn("rem", F.expr("(19 * __tot) div 20"))
        .withColumn("alloc", F.lit(0).cast("long"))
        .drop("__tot")
    )
    for _ in range(_BUDGET_ROUNDS):
        cur = (
            cur.withColumn(
                "__act", (F.col("alloc") < F.col("n_tokens")).cast("long")
            )
            .withColumn("__n_act", F.sum("__act").over(w))
            .withColumn(
                "give",
                F.when(
                    F.col("__act") == 1,
                    F.least(
                        F.when(
                            F.col("__n_act") > 0,
                            F.expr("rem div __n_act"),
                        ).otherwise(F.lit(0).cast("long")),
                        F.col("n_tokens") - F.col("alloc"),
                    ),
                ).otherwise(F.lit(0).cast("long")),
            )
            .withColumn("alloc", F.col("alloc") + F.col("give"))
            .withColumn("rem", F.col("rem") - F.sum("give").over(w))
            .drop("__act", "__n_act", "give")
        )
    return cur.select(
        "source",
        "n_tokens",
        F.col("alloc").alias("allocated"),
        F.when(F.col("alloc") == F.col("n_tokens"), 1)
        .otherwise(0)
        .cast("int")
        .alias("exhausted"),
    )


@query("pipe_length_buckets")
def pipe_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for batched inference/training:
    assign every document to its power-of-two length bucket
    (bucket = floor(log2(n_tokens))), then report per-bucket doc
    count, token total, bucket max length, and the padding waste a
    pad-to-bucket-max batcher would incur — the metric that motivates
    bucketing over naive pad-to-global-max. floor(ln(n)/ln(2)) is two
    IEEE ops on an integer-valued double, identical in both engines
    (and exact-integer inputs make the ratio safe at the 2^k
    boundaries for any realistic document length); everything after
    is integer arithmetic.

    Scale shape: one narrow pass computes the bucket row-locally; the
    only exchange is the |buckets|-key (~30 groups max) map-side-
    combined aggregate. The bucket column is exactly what a
    repartitionByRange batcher would range-partition on at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.size(regex_tokenize("text")).alias("n_tokens")
    )
    b = t.select(
        "n_tokens",
        F.when(F.col("n_tokens") <= 1, F.lit(0))
        .otherwise(
            F.floor(
                F.log(F.col("n_tokens").cast("double")) / F.log(F.lit(2.0))
            )
        )
        .cast("int")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.max("n_tokens").cast("long").alias("max_len"),
        (F.max("n_tokens") * F.count(F.lit(1)) - F.sum("n_tokens"))
        .cast("long")
        .alias("padding_tokens"),
    )


_OOV_VOCAB = 1000


@query("ts_oov_rate")
def ts_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-1000 vocabulary — the tokenizer-coverage metric a pipeline
    checks before committing to a fixed vocab (high OOV docs either
    need a bigger vocab or are noise the quality gates should have
    caught; pairs with `text_bpe_fit`, whose merges exist to drive
    this rate down). Vocabulary selection is total-ordered
    (count DESC, term ASC) so the cut is deterministic.

    Scale shape: one token explode feeds both the term-count agg and
    the per-doc membership join; the vocab is 1000 rows — broadcast —
    so the scoring pass is one map-side-combined per-doc aggregate.
    The global vocab rank is a top-1000 over the |distinct terms|
    aggregate (TakeOrdered-sized, not corpus-sized)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(regex_tokenize("text")).alias("t")
    ).persist()
    tc = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        tc.orderBy(F.desc("c"), F.asc("t"))
        .limit(_OOV_VOCAB)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_oov"),
            (
                F.sum(
                    F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


# Prune-then-broadcast (CCNet's trade): bigrams with corpus count
# below this never enter the model, so the broadcast model is bounded
# by construction — pruned and unseen bigrams score through the
# add-one backoff ln(1 / (c1n + V)) instead.
_WLM_MIN_COUNT = 2


@query("ts_wordlm_score")
def ts_wordlm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WORD-bigram LM perplexity scoring — the token-granularity twin
    of ts_charlm_score and the granularity CCNet's KenLM filter
    actually runs at: fit add-one-smoothed word-bigram counts on the
    corpus, score every document by mean negative log likelihood.
    Same fit-and-score-share-one-explode plan and the same fixed-point
    NLL discipline (floor(tf·lp·2^30) summed as BIGINT —
    order-insensitive, quantum part of the operator definition).

    The scale answer vs the char LM: a word-bigram model is
    O(distinct bigrams), corpus-bounded rather than charset²-bounded,
    so the model is PRUNED before it is broadcast — bigrams with
    corpus count < _WLM_MIN_COUNT never enter the model frame (CCNet
    ships pruned KenLM for exactly this reason), which makes the
    broadcast bounded by construction rather than by corpus luck:
    the heavy tail of hapax bigrams (the bulk of the distinct-bigram
    mass, by Zipf) is cut before the exchange. Pruned and unseen
    bigrams score through the same add-one backoff
    ln((0 + 1)/(c1n + V)); ctx/vocab stats are computed over the
    pruned model so both engines see one consistent model. Past the
    pruned-broadcast regime the model join falls back to a shuffle
    join on (w1, w2); the per-doc scoring shuffle is identical either
    way. The prune-before-broadcast plan shape is pinned in
    tests/test_plans.py."""
    d = load_table(spark, sf_dir, "documents")
    toksl = d.select(
        "doc_id", regex_tokenize("text").alias("t")
    ).filter(F.size("t") >= 2)
    pairs = toksl.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1,"
                " element_at(t, i + 1) AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    doctf = (
        pairs.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    model = (
        doctf.groupBy("w1", "w2")
        .agg(F.sum("tf").alias("c2"))
        .filter(F.col("c2") >= _WLM_MIN_COUNT)
        .persist()
    )
    ctx = model.groupBy("w1").agg(F.sum("c2").alias("c1n"))
    vocab = model.agg(F.countDistinct("w2").alias("v"))
    terms = (
        doctf.join(F.broadcast(model), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "tf",
            F.log(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c1n"), F.lit(0)) + F.col("v"))
            ).alias("lp"),
        )
    )
    _q = 2.0**30
    return terms.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        (
            (-F.sum(F.floor(F.col("tf") * F.col("lp") * _q)))
            .cast("double")
            / _q
            / F.sum("tf")
        ).alias("nll"),
    )


@query("ts_vocab_growth")
def ts_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve — the corpus-scaling
    diagnostic behind tokenizer and dedup budgeting: distinct-token
    count over growing corpus prefixes (doc_id order, 10 decile
    cutoffs). A curve that keeps climbing steeply says the corpus
    keeps contributing new vocabulary (dedup has headroom, the
    tokenizer's OOV budget isn't converged); a flattening curve says
    marginal data is lexically redundant.

    Scale shape: one map-side-combined first-occurrence aggregate
    (groupBy token, MIN doc id — |vocab| rows), then a 10-row
    broadcast threshold join and a 10-group count. The cumulative
    curve costs ONE corpus pass regardless of how many checkpoints it
    reports; all arithmetic is integer-exact."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(regex_tokenize("text")).alias("tok")
    )
    firsts = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    mx = tok.agg(F.max("doc_id").alias("m"))
    thr = (
        spark.range(1, 11)
        .select(F.col("id").cast("int").alias("decile"))
        .crossJoin(F.broadcast(mx))
        .select(
            "decile",
            F.expr("(m * decile) div 10").cast("long").alias("cutoff_doc"),
        )
    )
    return (
        F.broadcast(thr)
        .crossJoin(firsts)
        .groupBy("decile", "cutoff_doc")
        .agg(
            F.sum(
                F.when(F.col("first_doc") <= F.col("cutoff_doc"), 1)
                .otherwise(0)
            ).alias("vocab_size")
        )
    )


# ---------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al. 2023).

_DSIR_B = 256  # hashed n-gram buckets (the paper uses 10^4; scaled to
#                this corpus's ~250-word vocabulary)
_DSIR_Q = 2.0**30  # per-doc weight fixed-point quantum (wordlm's)
_DSIR_TGT = "en"  # target distribution: English documents


@query("ts_dsir_weights")
def ts_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): per-document importance log-weights
    log w_d = Σ_b c_d(b) · [ln p̂_target(b) − ln p̂_raw(b)] over
    {b} hashed-unigram buckets with add-1 smoothing, target = the
    '{tgt}' slice, raw = the whole corpus. Documents ranked by this
    weight are what the paper's Gumbel-top-k resampling selects from;
    the weight column IS the selector state.

    Scale shape: one token explode feeds (a) the two bucket-count
    models — map-side-combinable aggs onto ≤{b} cells each, broadcast
    back — and (b) the per-(doc, bucket) counts, whose groupBy is the
    single corpus-sized exchange (key cardinality ≤ docs×{b}); the
    per-doc weight sum is a second combine on doc_id. The {b}-row
    model join is a broadcast at any corpus size.

    Determinism: bucket counts are exact integers; each ln is one IEEE
    op on an integer-derived double (the ts_wordlm_score convention);
    c·lr products quantize via floor(·2^30) and accumulate as BIGINT —
    order-insensitive, exact, replayed verbatim by the oracle."""
    from fuzzy_item_matching_spark.functions.text import md5_bucket

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id", "lang", F.explode(regex_tokenize("text")).alias("t")
        )
        .select("doc_id", "lang", md5_bucket(F.col("t"), _DSIR_B).alias("b"))
        .persist()
    )
    tgt = (
        toks.filter(F.col("lang") == _DSIR_TGT)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    nt = toks.filter(F.col("lang") == _DSIR_TGT).agg(
        F.count(F.lit(1)).alias("nt")
    )
    nr = toks.agg(F.count(F.lit(1)).alias("nr"))
    buckets = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    model = (
        buckets.join(tgt, "b", "left")
        .join(raw, "b", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce("ct", F.lit(0)) + 1).cast("double")
                    / (F.col("nt") + _DSIR_B)
                )
                - F.log(
                    (F.coalesce("cr", F.lit(0)) + 1).cast("double")
                    / (F.col("nr") + _DSIR_B)
                )
            ).alias("lr"),
        )
    )
    dc = toks.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    return (
        dc.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            (
                F.sum(
                    F.floor(F.col("c") * F.col("lr") * _DSIR_Q)
                ).cast("double")
                / _DSIR_Q
            ).alias("log_weight"),
        )
    )


ts_dsir_weights.__doc__ = ts_dsir_weights.__doc__.format(
    b=_DSIR_B, tgt=_DSIR_TGT
)


_ZIPF_K = 100  # top terms entering the fit


@query("ts_zipf_fit")
def ts_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus term-frequency distribution: OLS of
    ln(count) on ln(rank) over the top-{k} terms — the canonical
    corpus-health diagnostic (natural text slopes ≈ −1; synthetic or
    template-heavy corpora flatten, the signal a curation dashboard
    watches next to ts_vocab_growth's Heaps fit). Closed-form slope
    and intercept (the train_ols_by_brand discipline): one corpus
    term count (map-side combinable), one top-{k} rank (TakeOrdered-
    sized), four DECIMAL moment sums over {k} rows, two rounded IEEE
    quotients."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(regex_tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # TakeOrderedAndProject for the top-K, THEN rank the K rows — the
    # global row_number runs over {K} rows, never the whole vocabulary
    top = tf.orderBy(F.desc("c"), F.asc("term")).limit(_ZIPF_K)
    ranked = top.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("term")))
        .alias("r"),
    )
    xy = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    dec = "decimal(38,18)"
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 9).alias("slope"),
        F.round(
            F.col("sy") / F.col("n") - slope * F.col("sx") / F.col("n"), 9
        ).alias("intercept"),
    )


ts_zipf_fit.__doc__ = ts_zipf_fit.__doc__.format(k=_ZIPF_K)


_KN_D = 0.75  # absolute discount (Kneser-Ney's standard)
_KN_MIN = 2  # model prune threshold (the wordlm CCNet trade)
_KN_Q = 1073741824.0  # 2^30 NLL fixed-point quantum (wordlm's)


@query("ts_kneser_ney")
def ts_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram perplexity — the KenLM-grade
    smoothing (Kneser & Ney 1995; Chen & Goodman 1998 eq. 4.25) that
    production CCNet-style filters actually ship, upgrading
    ts_wordlm_score's add-one model: P(w2|w1) = (max(c−D,0) +
    D·N1+(w1·)·P_cont(w2)) / c(w1·) with the continuation probability
    P_cont(w2) = N1+(·w2)/|bigram types| — the "how many contexts"
    estimate that fixes add-one's overscoring of frequent-but-rigid
    words. The model prunes at count ≥ {mc} (the wordlm
    prune-then-broadcast bound); pruned bigrams score through the SAME
    interpolated formula at c = 0, heads with no kept mass back off to
    P_cont, unseen continuations floor at 1/V.

    Scale shape: the fit and score share ONE exploded bigram frame
    (the wordlm discipline); model, head stats, and continuation
    probabilities are pruned-model-sized → broadcast joins; per-doc
    NLL is one combine agg. Determinism: all model stats are exact
    integers; each ln is one IEEE op on an integer-derived expression
    written identically in both engines; tf·lp quantizes via
    floor(·2^30) BIGINT sums (the wordlm/pca discipline)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", regex_tokenize("text").alias("t")).filter(
        F.size("t") >= 2
    )
    pr = tok.select(
        "doc_id",
        F.posexplode(F.slice("t", 1, F.size("t") - 1)).alias("i", "w1"),
        "t",
    ).select(
        "doc_id", "w1", F.expr("t[i + 1]").alias("w2")
    )
    doctf = (
        pr.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    model = (
        doctf.groupBy("w1", "w2")
        .agg(F.sum("tf").alias("c"))
        .filter(F.col("c") >= _KN_MIN)
        .persist()
    )
    w1s = model.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n1p")
    )
    nbi = model.agg(F.count(F.lit(1)).alias("n_bi"))
    cont = (
        model.crossJoin(F.broadcast(nbi))
        .groupBy("w2")
        .agg(
            (F.count(F.lit(1)).cast("double") / F.first("n_bi")).alias("pc")
        )
    )
    voc = (
        d.select(F.explode(regex_tokenize("text")).alias("tk"))
        .agg(F.count_distinct("tk").cast("double").alias("v"))
    )
    kn_num = F.greatest(
        F.coalesce(F.col("c"), F.lit(0)) - _KN_D, F.lit(0.0)
    ) + _KN_D * F.col("n1p") * F.coalesce(
        F.col("pc"), F.lit(1.0) / F.col("v")
    )
    lp = F.when(
        F.col("c1").isNotNull(), F.log(kn_num / F.col("c1"))
    ).otherwise(
        F.log(F.coalesce(F.col("pc"), F.lit(1.0) / F.col("v")))
    )
    terms = (
        doctf.join(F.broadcast(model), ["w1", "w2"], "left")
        .join(F.broadcast(w1s), "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .crossJoin(F.broadcast(voc))
        .select("doc_id", "tf", lp.alias("lp"))
    )
    return terms.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        (
            (-F.sum(F.floor(F.col("tf") * F.col("lp") * _KN_Q)))
            .cast("double")
            / _KN_Q
            / F.sum("tf")
        ).alias("nll"),
    )


ts_kneser_ney.__doc__ = ts_kneser_ney.__doc__.format(mc=_KN_MIN)


@query("ts_ngram_novelty")
def ts_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order novelty scoring — per document the fraction of its
    distinct word-3-gram shingles appearing for the FIRST time in
    ingestion order (doc_id): the curation signal behind curriculum
    ordering and incremental-crawl value estimates (a feed whose
    novelty decays is re-crawling known content; the doc-level dual of
    ts_vocab_growth's corpus curve).

    Scale shape: one shingle explode feeds (a) the global
    first-occurrence agg — map-side-combinable MIN per gram — and (b)
    the per-doc join-back + count; both exchanges key on the gram (at
    100 TB: hash the gram first, the dedup_substring_spans trick).
    Integers end-to-end; one IEEE division."""
    d = load_table(spark, sf_dir, "documents")
    from fuzzy_item_matching_spark.operators.dedup import word_shingles

    # bind the token array to an attribute BEFORE shingling — an
    # expression referenced inside word_shingles' transform lambda is
    # re-evaluated per output gram (the ngram_jaccard_pairs O(L²)
    # trap; measured 9.4 s → ~2 s at sf0.1)
    grams = (
        d.select("doc_id", regex_tokenize("text").alias("__toks"))
        .select(
            "doc_id",
            F.explode(word_shingles(F.col("__toks"), 3)).alias("g"),
        )
        .persist()
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("long").alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
    )


_BURST_TOP = 50


@query("ts_term_burstiness")
def ts_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness — the variance-to-mean ratio of per-document
    term counts over the corpus (Church & Gale 1995): content words
    burst (VMR ≫ 1: when they appear, they repeat), function words
    don't (VMR ≈ 1, Poisson-like) — the diagnostic separating topical
    vocabulary from boilerplate, next to ts_zipf_fit and
    ts_chi2_terms on the corpus-health dashboard. Computed over the
    full corpus including zero-count docs (the Σc²-based computational
    formula on integer sums — cf2/n − (cf/n)², divided by cf/n), for
    terms in ≥ 10% of documents, top-{k} by (VMR, term).

    Scale: one token explode → per-(doc, term) counts (the corpus
    exchange) → map-side-combinable per-term integer moments; the
    metric is a fixed IEEE expression on exact integers, rounded at 9
    only for OUTPUT (ordering uses the unrounded value, tie-broken by
    term)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(regex_tokenize("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = tf.agg(F.count_distinct("doc_id").alias("n"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("cf"),
        F.sum(F.col("c") * F.col("c")).alias("cf2"),
    )
    vmr = (
        (
            F.col("cf2").cast("double")
            - F.col("cf").cast("double") * F.col("cf") / F.col("n")
        )
        / F.col("n")
        / (F.col("cf").cast("double") / F.col("n"))
    )
    return (
        stats.crossJoin(F.broadcast(nd))
        .filter(10 * F.col("df") >= F.col("n"))
        .select("term", "df", "cf", vmr.alias("__vmr"))
        .orderBy(F.desc("__vmr"), F.asc("term"))
        .limit(_BURST_TOP)
        .select(
            "term", "df", "cf", F.round("__vmr", 9).alias("burstiness")
        )
    )


ts_term_burstiness.__doc__ = ts_term_burstiness.__doc__.format(
    k=_BURST_TOP
)


# ---------------------------------------------------------------------------
# Gopher repetition filters: per-doc duplicate/top n-gram fractions
# ---------------------------------------------------------------------------

_GOPHER_DUP_BG_MAX = 0.05  # keep if dup_bigram_frac <= this
_GOPHER_TOP_BG_MAX = 0.05  # and top_bigram_frac <= this


@query("ts_gopher_repetition")
def ts_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021,
    "Scaling Language Models", Table A1): per document, the fraction
    of duplicate word bigrams, the fraction covered by the single
    most frequent bigram, and the duplicate-trigram fraction — the
    rules production pretraining pipelines use to drop
    template/boilerplate spam that per-token stats (ts_doc_quality)
    can't see. ``keep`` applies the bigram thresholds.

    Plan: bigrams and trigrams ride ONE exploded frame tagged by n,
    so the per-(doc, n, gram) count and the per-(doc, n) rollup are
    each a single map-side-combinable aggregate keyed by doc — two
    exchanges total regardless of corpus size, output one row per
    document. All fractions are integer-count ratios in one double
    division, rounded to 9 — exact in both engines; docs too short
    for a trigram (none in the fixture) drop via the inner join,
    matching the oracle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", regex_tokenize("text").alias("__toks")
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    word_ngrams(F.col("__toks"), n=2),
                    lambda g: F.struct(
                        F.lit(2).alias("n"), g.alias("g")
                    ),
                ),
                F.transform(
                    word_ngrams(F.col("__toks"), n=3),
                    lambda g: F.struct(
                        F.lit(3).alias("n"), g.alias("g")
                    ),
                ),
            )
        ).alias("ng"),
    ).select("doc_id", F.col("ng.n").alias("n"), F.col("ng.g").alias("g"))
    gc = grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c"))
    st = gc.groupBy("doc_id", "n").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("dstnct"),
        F.max("c").alias("topc"),
    )
    b = st.filter(F.col("n") == 2).select(
        "doc_id",
        F.round(
            1.0 - F.col("dstnct") * 1.0 / F.col("total"), 9
        ).alias("dup_bigram_frac"),
        F.round(F.col("topc") * 1.0 / F.col("total"), 9).alias(
            "top_bigram_frac"
        ),
    )
    g3 = st.filter(F.col("n") == 3).select(
        "doc_id",
        F.round(
            1.0 - F.col("dstnct") * 1.0 / F.col("total"), 9
        ).alias("dup_trigram_frac"),
    )
    return b.join(g3, "doc_id").select(
        "doc_id",
        "dup_bigram_frac",
        "top_bigram_frac",
        "dup_trigram_frac",
        F.when(
            (F.col("dup_bigram_frac") <= F.lit(_GOPHER_DUP_BG_MAX))
            & (F.col("top_bigram_frac") <= F.lit(_GOPHER_TOP_BG_MAX)),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets + DoReMi mixture reweighting
# ---------------------------------------------------------------------------


@query("ts_ccnet_buckets")
def ts_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020): rank
    every document by its LM perplexity (the in-prefix
    ts_wordlm_score — CCNet's KenLM filter at the same granularity)
    and cut the corpus into perplexity tertiles; pretraining recipes
    keep `head`, mix `middle`, and drop or down-weight `tail`.
    Composes the wordlm query wholesale (its oracle nests as a CTE),
    so the split is definitionally consistent with the filter it
    summarizes. The tertile boundary is integer arithmetic
    (rnk·3 ≤ n), never a float quantile — exact in both engines; the
    rank tie-breaks on doc_id. One unpartitioned window over the
    per-doc score frame (n rows, not the corpus token frame) + one
    3-group aggregate."""
    from pyspark.sql.window import Window as W

    s = ts_wordlm_score(spark, sf_dir)
    r = s.select(
        "doc_id",
        "n_bigrams",
        "nll",
        F.row_number()
        .over(W.orderBy(F.asc("nll"), F.asc("doc_id")))
        .alias("rnk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    bucket = (
        F.when(F.col("rnk") * 3 <= F.col("n"), "head")
        .when(F.col("rnk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
    )
    return (
        r.select(bucket.alias("bucket"), "n_bigrams", "nll")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.round(F.min("nll"), 9).alias("min_nll"),
            F.round(F.max("nll"), 9).alias("max_nll"),
        )
        .orderBy("bucket")
    )


_DOREMI_ITERS = 5
_DOREMI_ETA = 2.0


@query("ts_doremi_mixture")
def ts_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-shaped domain mixture reweighting (Xie et al. 2023):
    per-language mean LM loss (composing the wordlm scorer), then
    {it} multiplicative-weights iterations — each domain's weight
    multiplies by exp(η·(loss − Σ α·loss)) and renormalizes, so
    weight flows toward above-baseline-loss domains while the
    baseline itself moves with the mixture (the Group-DRO inner
    loop). Returns the full (iter, lang, loss, alpha) trace.

    Determinism: domain losses accumulate as DECIMAL; each
    iteration's exp is quantized to 9 digits before it multiplies
    (the logreg-GD discipline — the only transcendental per domain
    per step), and weights re-round to 9 after normalization, so the
    whole trajectory replays exactly in SQL. The corpus contributes
    ONE scoring pass; iterations run on the |domains|-row frame
    (tiny one-row aggregates, not corpus work)."""
    from fuzzy_item_matching_spark.tables import load_table as _lt

    dec = "decimal(38,18)"
    s = ts_wordlm_score(spark, sf_dir)
    d = _lt(spark, sf_dir, "documents").select("doc_id", "lang")
    dl = (
        s.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            (
                F.sum(F.col("nll").cast(dec)).cast("double")
                / F.count(F.lit(1))
            ).alias("loss")
        )
    )
    # r14 (guide §2.4, §5 — the markov-removal discipline): the
    # corpus contributes exactly the ONE distributed scoring pass
    # above; the multiplicative-weights loop runs on the |domains|-row
    # frame, so it now iterates DRIVER-SIDE over one bounded collect
    # instead of per-iteration eager localCheckpoints + 1-row
    # aggregate jobs (3+ scheduled jobs per iteration over ≤5 rows).
    # Replication is exact op for op: cast(x AS DECIMAL(38,18)) goes
    # through the double's shortest repr in Spark (BigDecimal.valueOf)
    # = Decimal(repr(x)).quantize(1e-18, HALF_UP); the decimal sums
    # are exact; round(x, 9) is the same shortest-repr HALF_UP
    # quantize at 9; exp/mul/div are single IEEE ops on identical
    # operands (math.exp == the engines' libm exp — pinned by the
    # old-vs-new bit-equality test in tests/test_round14_opt.py).
    # PLATFORM ASSUMPTION (ADVICE r14): CPython's math.exp and the
    # JVM's Math.exp are each only 1-ulp-accurate; they agree bit-for-
    # bit on this host's libm/StrictMath pairing and the pin test
    # proves it on the BUILD host's real trajectories. On a deployment
    # platform with a different libm, run the tolerance-0 pin test
    # there before trusting oracle hash parity for this query.
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    q18 = Decimal(1).scaleb(-18)
    q9 = Decimal(1).scaleb(-9)

    def _cast_dec18(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(q18, rounding=ROUND_HALF_UP)

    def _round9(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q9, rounding=ROUND_HALF_UP))

    import math

    rows = dl.collect()
    langs = [(r["lang"], r["loss"]) for r in rows]
    nd = len(langs)
    if nd == 0:  # empty corpus: the old iteration over empty frames
        return spark.createDataFrame(
            [], "iter int, lang string, loss double, alpha double"
        )
    with localcontext() as ctx:
        ctx.prec = 50
        alpha = {lang: 1.0 / nd for lang, _ in langs}
        out = [
            (0, lang, _round9(loss), _round9(alpha[lang]))
            for lang, loss in langs
        ]
        for t in range(1, _DOREMI_ITERS + 1):
            bl = float(
                sum(
                    (_cast_dec18(alpha[lang] * loss) for lang, loss in langs),
                    Decimal(0),
                )
            )
            raw = {
                lang: alpha[lang]
                * _round9(math.exp(_DOREMI_ETA * (loss - bl)))
                for lang, loss in langs
            }
            z = float(
                sum(
                    (_cast_dec18(raw[lang]) for lang, _ in langs), Decimal(0)
                )
            )
            alpha = {lang: _round9(raw[lang] / z) for lang, _ in langs}
            out.extend(
                (t, lang, _round9(loss), _round9(alpha[lang]))
                for lang, loss in langs
            )
    return spark.createDataFrame(
        out, "iter int, lang string, loss double, alpha double"
    )


ts_doremi_mixture.__doc__ = ts_doremi_mixture.__doc__.format(
    it=_DOREMI_ITERS
)


# ---------------------------------------------------------------------------
# Filter-agreement matrix: do the curation filters agree on what to keep?
# ---------------------------------------------------------------------------

_FA_QUALITY_MIN = 0.32  # ~median heuristic quality on the fixture


@query("ts_filter_agreement")
def ts_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-filter AGREEMENT matrix — the DataComp-style question
    every pipeline asks before stacking filters: do the heuristic
    quality gate (ts_doc_quality's score at the fixture median), the
    Gopher repetition rule (ts_gopher_repetition's bigram thresholds),
    and the language gate (ts_lang_id's argmax = 'en') keep the SAME
    documents, or is each dropping a different slice? Pairwise
    agreement counts + the intersection survivor count answer whether
    the filters are redundant (stack cheapest-first) or complementary
    (order by cost × selectivity) — the decision that sets the whole
    pipeline's cost at 100 TB.

    Plan: the two row-local filters bind the token array ONCE (the
    ts_doc_quality codegen note); the repetition filter rides one
    bigram explode + two doc-keyed map-side-combinable aggregates; one
    doc-keyed join unifies the flags and a single 1-row aggregate
    closes (the sim_blocking_eval pattern). All outputs are integer
    counts — nothing to round."""
    d = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    t = d.select(
        "doc_id", regex_tokenize("text").alias("__toks")
    ).withColumn(
        "__kept", F.filter("__toks", lambda x: ~F.array_contains(sw, x))
    )
    toks, kept = F.col("__toks"), F.col("__kept")
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    avg_len = F.when(n == 0, F.lit(0.0)).otherwise(total_len / n)
    stop_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(kept)).cast("double") / n
    )
    quality = (
        F.least(n, F.lit(200)) / 200.0 * 0.5
        + stop_ratio * 0.2
        + F.least(avg_len, F.lit(8.0)) / 8.0 * 0.3
    )
    hits = {
        k: _lang_hits(toks, lex) for k, lex in _LANG_LEXICONS.items()
    }
    k_lang = (
        (F.greatest(*hits.values()) > 0)
        & (hits["en"] >= hits["de"])
        & (hits["en"] >= hits["fr"])
        & (hits["en"] >= hits["es"])
    )
    rl = t.select(
        "doc_id",
        F.when(quality >= F.lit(_FA_QUALITY_MIN), 1).otherwise(0).alias("kq"),
        F.when(k_lang, 1).otherwise(0).alias("kl"),
    )
    grams = t.select(
        "doc_id", F.explode(word_ngrams(toks, n=2)).alias("g")
    )
    gc = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    st = gc.groupBy("doc_id").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("dstnct"),
        F.max("c").alias("topc"),
    )
    rep = st.select(
        "doc_id",
        F.when(
            (
                F.round(1.0 - F.col("dstnct") * 1.0 / F.col("total"), 9)
                <= F.lit(_GOPHER_DUP_BG_MAX)
            )
            & (
                F.round(F.col("topc") * 1.0 / F.col("total"), 9)
                <= F.lit(_GOPHER_TOP_BG_MAX)
            ),
            1,
        )
        .otherwise(0)
        .alias("kr"),
    )
    flags = rl.join(rep, "doc_id")
    agree = lambda a, b: F.sum(  # noqa: E731
        F.when(F.col(a) == F.col(b), 1).otherwise(0)
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kq").alias("keep_quality"),
        F.sum("kr").alias("keep_repetition"),
        F.sum("kl").alias("keep_lang"),
        agree("kq", "kr").alias("agree_qr"),
        agree("kq", "kl").alias("agree_ql"),
        agree("kr", "kl").alias("agree_rl"),
        F.sum(F.col("kq") * F.col("kr") * F.col("kl")).alias("keep_all"),
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch set similarity: KMV-estimated cross-language
# vocabulary Jaccard vs the exact value
# ---------------------------------------------------------------------------

_KJ_K = 128


@query("ts_kmv_lang_jaccard")
def ts_kmv_lang_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity from MERGEABLE sketches: the cross-language
    vocabulary Jaccard estimated from {k}-minimum-value sketches —
    J(A,B) ~= |bottom-k(A∪B) ∩ A ∩ B| / |bottom-k(A∪B)| (Beyer et
    al.) — with the EXACT Jaccard riding along so the estimator error
    is a visible column (the ts_distinct_kmv convention). This is the
    capability the per-source sketches exist for at 100 TB: the union
    sketch is built from the two K-ROW sketches alone (never the raw
    streams), so pairwise similarity over S sources costs S·K sketch
    rows + S² tiny merges — corpus-overlap matrices, dedup
    prioritization between crawls, contamination screening between
    train and eval sets, all without a single raw-token pair join.
    The exact twin (a token-level join) is the verification rider,
    not the scale path.

    Plan: one tokenize + distinct per (lang, token); the per-lang
    bottom-K is a partitioned window over ~vocabulary rows; every
    later stage operates on <= S·K sketch rows. Determinism: the
    md5-keyed uniform is a pure function of the token (exact dyadic
    doubles); ranks break no ties (u values are distinct within a
    lang by construction of DISTINCT); the two ratios are single IEEE
    divisions of exact counts.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("lang", F.explode(regex_tokenize("text")).alias("t"))
        .distinct()
        .persist()
    )
    hs = toks.select(
        "lang", keyed_uniform(F.col("t")).alias("u")
    ).distinct()
    wl = Window.partitionBy("lang").orderBy("u")
    kmv = (
        hs.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") <= _KJ_K)
        .select("lang", "u")
        .persist()
    )
    langs = kmv.select("lang").distinct()
    pairs = (
        langs.alias("a")
        .join(langs.alias("b"), F.col("a.lang") < F.col("b.lang"))
        .select(F.col("a.lang").alias("la"), F.col("b.lang").alias("lb"))
    )
    uni = (
        pairs.join(kmv, kmv.lang == F.col("la"))
        .select("la", "lb", "u")
        .unionByName(
            pairs.join(kmv, kmv.lang == F.col("lb")).select("la", "lb", "u")
        )
        .distinct()
    )
    wm = Window.partitionBy("la", "lb").orderBy("u")
    merged = (
        uni.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= _KJ_K)
        .select("la", "lb", "u")
    )
    ka = kmv.select(F.col("lang").alias("la"), "u", F.lit(1).alias("ia"))
    kb = kmv.select(F.col("lang").alias("lb"), "u", F.lit(1).alias("ib"))
    est = (
        merged.join(ka, ["la", "u"], "left")
        .join(kb, ["lb", "u"], "left")
        .groupBy("la", "lb")
        .agg(
            (
                F.count(
                    F.when(F.col("ia").isNotNull() & F.col("ib").isNotNull(), 1)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("est_jaccard")
        )
    )
    sizes = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        toks.alias("x")
        .join(
            toks.alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.lang") < F.col("y.lang")),
        )
        .groupBy(
            F.col("x.lang").alias("la"), F.col("y.lang").alias("lb")
        )
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    exact = F.coalesce(F.col("ni"), F.lit(0)).cast("double") / (
        F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0))
    )
    return (
        est.join(inter, ["la", "lb"], "left")
        .join(sizes.select(F.col("lang").alias("la"), F.col("n").alias("na")), "la")
        .join(sizes.select(F.col("lang").alias("lb"), F.col("n").alias("nb")), "lb")
        .select(
            "la",
            "lb",
            "est_jaccard",
            exact.alias("exact_jaccard"),
            F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
        )
    )


ts_kmv_lang_jaccard.__doc__ = ts_kmv_lang_jaccard.__doc__.format(k=_KJ_K)


# ---------------------------------------------------------------------------
# Mutual-information feature selection (information-gain twin of chi2)
# ---------------------------------------------------------------------------

_MI_MIN_DF = 5
_MI_K = 50


@query("ts_mi_terms")
def ts_mi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL-INFORMATION feature selection — the information-gain
    twin of ts_chi2_terms over the same presence/label 2×2 table:
    MI(T;Y) = Σ_cells (n_k/n)·ln(n_k·n / (n_row·n_col)), zero cells
    contributing zero. Chi-square overweights rare high-skew terms
    (variance-normalized); MI ranks by the actual bits a term carries
    about the label — pipelines that prune vocab for a classifier
    want this ordering. Top {k} terms with df ≥ {mindf}.

    Plan identical to the chi2 pass (the point: selection criteria
    swap freely over one scan): row-local distinct terms → explode →
    ONE map-side-combinable hash agg on term → broadcast 1-row totals
    → expression-only scoring → global top-{k}.

    Determinism: every ln operand is a ratio of exact BIGINTs — both
    engines evaluate ln on bit-identical doubles (the idf discipline,
    proven cross-engine by the TF-IDF family); the sum of 4 cells is
    a fixed expression tree, so ordering and hash stay exact.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        F.array_distinct(regex_tokenize("text")).alias("toks"),
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos"))
    td = (
        d.select("y", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(
            F.sum("y").alias("a"),
            (F.count(F.lit(1)) - F.sum("y")).alias("b"),
        )
    )
    n = F.col("n").cast("double")
    n_pos = F.col("n_pos").cast("double")

    def cell(k, row, col):
        kd = k.cast("double")
        return F.when(k == 0, F.lit(0.0)).otherwise(
            (kd / n) * F.log(kd * n / (row.cast("double") * col))
        )

    a, b = F.col("a"), F.col("b")
    df_tot = a + b
    mi = (
        cell(a, df_tot, n_pos)
        + cell(b, df_tot, n - n_pos)
        + cell(F.col("n_pos") - a, F.col("n") - df_tot, n_pos)
        + cell(F.col("n") - F.col("n_pos") - b, F.col("n") - df_tot, n - n_pos)
    )
    return (
        td.crossJoin(F.broadcast(tot))
        .filter((df_tot >= _MI_MIN_DF) & (df_tot < F.col("n")))
        .select("term", df_tot.alias("df"), mi.alias("mi"))
        .orderBy(F.desc("mi"), F.asc("term"))
        .limit(_MI_K)
    )


ts_mi_terms.__doc__ = ts_mi_terms.__doc__.format(k=_MI_K, mindf=_MI_MIN_DF)


# ---------------------------------------------------------------------------
# Theta-sketch A-not-B: new-vocabulary estimation between sources
# ---------------------------------------------------------------------------

_ANB_K = 128


@query("ts_kmv_anb")
def ts_kmv_anb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA-SKETCH A-NOT-B (Dasgupta et al., DataSketches): estimate
    each source's NEW vocabulary — |vocab(A) \\ vocab(B)| for every
    ordered source pair — from the {k}-minimum-value sketches alone.
    Below θ = min(θ_A, θ_B) both sketches retain EVERY hash of their
    set, so membership tests are exact there and
    est = |{{u ∈ A: u < θ, u ∉ B}}| / θ is unbiased. This is the
    question every incremental crawl asks at 100 TB ("what does this
    source add that the corpus lacks?"), answered from S·K sketch
    rows instead of a cross-source token anti-join — the set-DIFFERENCE
    member of the mergeable-sketch family (ts_distinct_kmv estimates
    sizes, ts_kmv_lang_jaccard intersections; difference completes
    the algebra). The exact anti-join twin rides along so estimator
    error is a visible column (abs_err, the house convention).

    Plan: sketches build once per source (bottom-K windows over the
    distinct vocab); everything after operates on ≤ S·K rows — the
    pair frame, the θ join, and the membership anti-join are all
    sketch-sized. The exact twin is the verification rider, not the
    scale path. Determinism: u is the exact dyadic md5 uniform; θ is
    one of the u values (exact double); the estimate is one IEEE
    division of an exact count by an exact dyadic double.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("source", F.explode(regex_tokenize("text")).alias("t"))
        .distinct()
        .persist()
    )
    hs = toks.select(
        "source", keyed_uniform(F.col("t")).alias("u")
    ).distinct()
    ws = Window.partitionBy("source").orderBy("u")
    kmv = (
        hs.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _ANB_K)
        .select("source", "u")
        .persist()
    )
    theta = kmv.groupBy("source").agg(
        F.when(F.count(F.lit(1)) >= _ANB_K, F.max("u"))
        .otherwise(F.lit(1.0))
        .alias("th")
    )
    srcs = kmv.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") != F.col("b.source"))
        .select(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
        .join(theta.select(F.col("source").alias("sa"), F.col("th").alias("tha")), "sa")
        .join(theta.select(F.col("source").alias("sb"), F.col("th").alias("thb")), "sb")
        .select("sa", "sb", F.least("tha", "thb").alias("th"))
    )
    ka = kmv.select(F.col("source").alias("sa"), "u")
    kb = kmv.select(F.col("source").alias("sb"), "u", F.lit(1).alias("inb"))
    kept = (
        pairs.join(ka, "sa")
        .filter(F.col("u") < F.col("th"))
        .join(kb, ["sb", "u"], "left")
        .filter(F.col("inb").isNull())
        .groupBy("sa", "sb", "th")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    exact = (
        toks.select(F.col("source").alias("sa"), "t")
        .join(srcs.select(F.col("source").alias("sb")), F.col("sa") != F.col("sb"))
        .join(
            toks.select(F.col("source").alias("sb"), "t"),
            ["sb", "t"],
            "left_anti",
        )
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("exact_anb"))
    )
    n0 = F.coalesce(F.col("n_kept"), F.lit(0))
    e0 = F.coalesce(F.col("exact_anb"), F.lit(0))
    return (
        pairs.join(kept.select("sa", "sb", "n_kept"), ["sa", "sb"], "left")
        .join(exact, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            (n0 / F.col("th")).alias("est_anb"),
            e0.alias("exact_anb"),
            F.abs(n0 / F.col("th") - e0).alias("abs_err"),
        )
    )


ts_kmv_anb.__doc__ = ts_kmv_anb.__doc__.format(k=_ANB_K)


# ---------------------------------------------------------------------------
# Good–Turing frequency smoothing (Good 1953)
# ---------------------------------------------------------------------------


@query("ts_good_turing")
def ts_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOOD–TURING frequency smoothing (Good 1953): the
    frequency-of-frequencies table N_r and the Turing-adjusted count
    r* = (r+1)·N_{{r+1}}/N_r, plus the unseen-mass estimate
    p₀ = N₁/N — the discounting foundation under Katz backoff and the
    empirical sibling of the Kneser–Ney query (ts_kneser_ney uses a
    FIXED discount; Good–Turing derives the discount from the
    count-of-counts themselves). In a data pipeline p₀ is the
    standing answer to "how much of the token stream is vocabulary we
    have not seen yet" — the coverage dial for vocab sizing and
    crawl-more decisions.

    Scale shape: one token explode + two map-side-combinable
    aggregations (term counts → count-of-counts); the N_r table is
    bounded by the number of DISTINCT count values (≲ thousands at
    any corpus size, Zipf guarantees the tail merges), so the r+1
    self-join and the p₀ scalar are sketch-sized. Exactly two passes
    over the corpus at 100 TB.

    Determinism: counts exact; r* and p₀ are single fixed-tree IEEE
    expressions over exact integers; zero-N_{{r+1}} rows pin r* = 0.0
    rather than NULL (loud, comparable).
    """
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(regex_tokenize("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fof = tc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).alias("n_r")
    ).persist()
    tot = tc.agg(F.sum("c").alias("n"))
    # ALWAYS a 1-row frame — a filter().select() would go EMPTY on a
    # corpus with no hapaxes (the synthetic vocab has none) and the
    # crossJoin would wipe the output; p0 = 0.0 is the loud answer
    n1 = fof.agg(
        F.coalesce(
            F.sum(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0)
        ).alias("n_one")
    )
    b = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    gt = fof.join(b, "r", "left").select(
        "r",
        "n_r",
        F.when(
            F.col("n_r1").isNotNull(),
            (F.col("r").cast("double") + 1.0)
            * F.col("n_r1").cast("double")
            / F.col("n_r").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("r_star"),
    )
    return gt.crossJoin(F.broadcast(tot)).crossJoin(
        F.broadcast(n1)
    ).select(
        "r",
        "n_r",
        "r_star",
        (F.col("n_one").cast("double") / F.col("n").cast("double")).alias(
            "p_unseen"
        ),
    )


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------------


@query("ts_js_divergence")
def ts_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN–SHANNON divergence between every source pair's unigram
    distribution — the bounded, symmetric drift metric (0 ≤ JSD ≤
    ln 2) corpus curation uses to answer "did this crawl change?" and
    "which sources are interchangeable for mixing?" (the DoReMi /
    source-mixture queries upstream of this decide WEIGHTS; JSD
    decides WHETHER two sources even differ). Identity used: tokens
    one side lacks have q=0, where the pair term degenerates to
    p·ln 2 — so JSD = ½·[Σ_shared (p·ln(2p/(p+q)) + q·ln(2q/(p+q)))
    + ln 2·((1−Σp_shared) + (1−Σq_shared))], and the computation
    needs only the INNER join on shared vocabulary plus per-source
    totals — never a full outer vocab union.

    Scale shape: per-source counts are one explode + one hash agg;
    the pair join is keyed on token (the postings-join shape, bounded
    by shared-vocab postings); per-pair sums are map-side
    combinable. S sources cost one token-keyed self-join, not S
    corpus scans.

    Determinism: p, q are single divisions of exact counts; ln is
    evaluated on identical doubles (the idf/PMI precedent); every
    accumulated term quantizes to DECIMAL(38,18) before the
    order-insensitive sum; the final combination is one fixed tree.
    """
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(regex_tokenize("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    tots = tc.groupBy("source").agg(F.sum("c").alias("n"))
    a = tc.select(
        F.col("source").alias("sa"), "t", F.col("c").alias("ca")
    )
    b = tc.select(
        F.col("source").alias("sb"), "t", F.col("c").alias("cb")
    )
    na = tots.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    nb = tots.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    shared = (
        a.join(b, "t")
        .filter(F.col("sa") < F.col("sb"))
        .join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
        .select(
            "sa",
            "sb",
            (F.col("ca").cast("double") / F.col("na")).alias("p"),
            (F.col("cb").cast("double") / F.col("nb")).alias("q"),
        )
    )
    term = F.col("p") * F.log(
        2.0 * F.col("p") / (F.col("p") + F.col("q"))
    ) + F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q")))
    core = shared.groupBy("sa", "sb").agg(
        F.sum(term.cast("decimal(38,18)")).cast("double").alias("shared_term"),
        F.sum(F.col("p").cast("decimal(38,18)")).cast("double").alias("p_shared"),
        F.sum(F.col("q").cast("decimal(38,18)")).cast("double").alias("q_shared"),
        F.count(F.lit(1)).alias("n_shared_terms"),
    )
    ln2 = F.log(F.lit(2.0))
    return core.select(
        "sa",
        "sb",
        (
            0.5
            * (
                F.col("shared_term")
                + ln2
                * ((1.0 - F.col("p_shared")) + (1.0 - F.col("q_shared")))
            )
        ).alias("jsd"),
        "n_shared_terms",
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (Mihalcea & Tarau 2004)
# ---------------------------------------------------------------------------

_TR_ITERS = 3
_TR_DAMP = 0.85
_TR_TOPK = 20
_TR_MINLEN = 3


@query("ts_textrank_terms")
def ts_textrank_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK keyword extraction (Mihalcea & Tarau 2004): PageRank
    ({t} damped iterations, d={d}) on the word CO-OCCURRENCE graph —
    stopword-stripped terms (length ≥ {ml}) linked when adjacent,
    edge weight = adjacency count, undirected via symmetric
    duplication. Where tf-idf ranks terms by counting, TextRank ranks
    them by RECOMMENDATION: a term matters when it neighbors terms
    that matter — the graph-centrality keyword extractor, and the
    third reuse of the repo's damped-power-iteration discipline
    (brand graph → purchase process → now language).

    Scale shape: the token stream explodes once; adjacency is a
    (doc_id, pos+1) self-join — postings-shaped, never all-pairs; the
    graph is vocabulary²-bounded (far smaller in practice: only
    ADJACENT terms link). Each iteration is one edge join + one
    map-side-combinable agg keyed on terms, the rel_pagerank_brands
    plan verbatim; hub words would take the salted path.

    Determinism: weights are exact counts; per-edge contributions are
    fixed IEEE trees; per-node sums accumulate DECIMAL(38,18); the
    top-{k} breaks ties on the term.
    """
    from fuzzy_item_matching_spark.functions.text import (
        ENGLISH_STOPWORDS,
        regex_tokenize,
    )

    d = load_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    toks = F.filter(
        regex_tokenize("text"),
        lambda t: (F.length(t) >= _TR_MINLEN) & ~F.array_contains(stop, t),
    )
    # r14 (guide §2.4): adjacency is a pure function of EACH doc's
    # token sequence, so it is computed row-locally — the array zipped
    # with its own tail, both directions emitted per adjacent pair —
    # instead of the previous (doc_id, pos) postings self-join, which
    # scanned + tokenized the corpus once per join side per direction
    # (4 scans) and broadcast an exploded token-position frame. One
    # scan, map-only until the single (src, dst) count aggregation;
    # the emitted (src, dst) multiset is identical pair-for-pair.
    t = F.col("__t")  # bound once below: 4 references, tokenizer runs 1x
    pairs = F.filter(
        F.flatten(
            F.zip_with(
                F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                lambda x, y: F.array(
                    F.struct(x.alias("src"), y.alias("dst")),
                    F.struct(y.alias("src"), x.alias("dst")),
                ),
            )
        ),
        lambda p: p.getField("src") != p.getField("dst"),
    )
    e = (
        d.select(toks.alias("__t"))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .persist()
    )
    # outd's key set IS the distinct src set, so it seeds r0 and
    # counts n — one aggregation over e serves all three uses.
    outd = e.groupBy("src").agg(F.sum("w").alias("outw")).persist()
    nn = outd.agg(F.count(F.lit(1)).cast("double").alias("n"))
    r = (
        outd.select("src")
        .crossJoin(F.broadcast(nn))
        .select(F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("r"))
    )
    for _ in range(_TR_ITERS):
        # rank + out-degree frames are vocabulary-bounded — broadcast
        # them so each iteration is map-only over the cached edge list
        # plus ONE keyed aggregation (guide §3.1; was 4 SMJ exchanges
        # per iteration).
        r = (
            e.join(F.broadcast(r), e.src == F.col("node"))
            .join(F.broadcast(outd), "src")
            .crossJoin(F.broadcast(nn))
            .groupBy(F.col("dst").alias("node2"))
            .agg(
                (
                    F.lit(1.0 - _TR_DAMP) / F.max("n")
                    + F.lit(_TR_DAMP)
                    * F.sum(
                        (F.col("r") * F.col("w") / F.col("outw")).cast(
                            "decimal(38,18)"
                        )
                    ).cast("double")
                ).alias("r")
            )
            .select(F.col("node2").alias("node"), "r")
        )
    w = Window.orderBy(F.desc("r"), F.asc("node"))
    return (
        r.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _TR_TOPK)
        .select(
            F.col("node").alias("term"), F.col("r").alias("score"), "rnk"
        )
    )


ts_textrank_terms.__doc__ = ts_textrank_terms.__doc__.format(
    t=_TR_ITERS, d=_TR_DAMP, ml=_TR_MINLEN, k=_TR_TOPK
)


# ---------------------------------------------------------------------------
# Burrows' Delta (2002) — stylometric distance between sources
# ---------------------------------------------------------------------------

_BD_TOP = 30  # most-frequent terms (the classic Delta feature set)


@query("ts_burrows_delta")
def ts_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURROWS' DELTA (2002) — the standard stylometric distance:
    z-score each source's relative frequency of the {m} most-common
    terms against the cross-source distribution, then
    Δ(a,b) = mean |z_a − z_b|. Function-word frequencies are the
    classic authorship fingerprint (they're topic-independent), and
    the same statistic flags style drift between crawls, scraped
    mirrors vs originals, and machine-vs-human registers — the
    STYLOMETRIC member of the source-comparison family (JSD compares
    content distributions; Delta compares normalized STYLE profiles).

    Scale shape: one token pass (map-side-combined counts); the
    top-{m} list is one aggregation + broadcast; everything after is
    |sources|·{m} rows — frequencies, per-term moments, z-scores, and
    the pairwise reduction are all metric-sized. Corpus is touched
    once at any SF.

    Determinism: frequencies are single divisions of exact counts;
    per-term moments accumulate DECIMAL(38,18); the z expression is
    one shared-form tree with a σ²≤0 guard (constant term → z = 0
    loud, both engines); pairwise sums quantize before the
    order-insensitive add; one final division by the literal {m}.
    """
    d = load_table(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(regex_tokenize("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    tots = tc.groupBy("source").agg(F.sum("c").alias("n"))
    wtop = Window.orderBy(F.desc("tot"), F.asc("t"))
    top = (
        tc.groupBy("t")
        .agg(F.sum("c").alias("tot"))
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= _BD_TOP)
        .select("t")
    )
    f = (
        tots.crossJoin(F.broadcast(top))
        .join(tc, ["source", "t"], "left")
        .select(
            "source",
            "t",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n")
            ).alias("fr"),
        )
        .persist()
    )
    stats = f.groupBy("t").agg(
        F.count(F.lit(1)).cast("double").alias("ns"),
        F.sum(F.col("fr").cast("decimal(38,18)")).cast("double").alias("sf"),
        F.sum((F.col("fr") * F.col("fr")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sff"),
    )
    var = (F.col("sff") - F.col("sf") * F.col("sf") / F.col("ns")) / (
        F.col("ns") - 1
    )
    z = f.join(F.broadcast(stats), "t").select(
        "source",
        "t",
        F.when(var <= 0, F.lit(0.0))
        .otherwise(
            (F.col("fr") - F.col("sf") / F.col("ns")) / F.sqrt(var)
        )
        .alias("z"),
    )
    a = z.select(F.col("source").alias("sa"), "t", F.col("z").alias("za"))
    b = z.select(F.col("source").alias("sb"), "t", F.col("z").alias("zb"))
    return (
        a.join(b, "t")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            (
                F.sum(
                    F.abs(F.col("za") - F.col("zb")).cast("decimal(38,18)")
                ).cast("double")
                / F.lit(float(_BD_TOP))
            ).alias("delta")
        )
    )


ts_burrows_delta.__doc__ = ts_burrows_delta.__doc__.format(m=_BD_TOP)


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction (Rose et al. 2010) — r13
# ---------------------------------------------------------------------------

_RAKE_TOPK = 20
_RAKE_MAXLEN = 4


@query("ts_rake_keyphrases")
def ts_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate
    phrases are maximal stopword-free token runs (the gaps-and-
    islands window trick: pos − row_number is constant within a run —
    no UDF, no iteration), each word scores degree/freq over the
    phrase corpus (degree = Σ (phrase_len − 1) co-occurrence), and a
    DISTINCT phrase scores the SUM of its word-slot scores (the Rose
    et al. formulation; occurrence counts report separately) — the multi-word
    counterpart of ts_textrank_terms' single-word centrality, and the
    standard cheap keyphrase baseline a curation pipeline runs before
    anything neural. Phrases cap at {ml} words (RAKE's own guard
    against run-on candidates).

    Scale shape: tokenize-and-explode once; runs come from ONE window
    keyed on doc; word stats are a vocabulary-keyed aggregation;
    phrase scoring re-joins the |phrases|-domain against the
    vocabulary-sized stat table (both map-side-combinable). Nothing
    is ever pairwise.

    Determinism: counts exact; per-word scores are single IEEE
    divisions rounded to 9 then DECIMAL-summed per phrase; the phrase
    score IS that rounded-term DECIMAL sum (cast back to DOUBLE and
    rounded to 9 — occurrences report as their own column, they never
    divide the score), and ties break on the phrase string."""
    from fuzzy_item_matching_spark.functions.text import (
        ENGLISH_STOPWORDS,
        regex_tokenize,
    )

    d = load_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    tk = d.select(
        "doc_id", F.posexplode(regex_tokenize("text")).alias("pos0", "term")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "term",
        F.array_contains(stop, F.col("term")).alias("is_stop"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        tk.filter(~F.col("is_stop"))
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .persist()
    )
    phrases = (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "term"))
                ).getField("term"),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("len"),
        )
        .filter(F.col("len") <= _RAKE_MAXLEN)
        .persist()
    )
    words = runs.join(
        phrases.select("doc_id", "grp", "len"), ["doc_id", "grp"]
    ).select("term", "len")
    wstat = words.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.col("len") - 1).cast("long").alias("degree"),
    )
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    pwords = phrases.select("phrase").distinct().select(
        "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("term")
    )
    pscore = (
        pwords.join(wstat, "term")
        .groupBy("phrase")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("degree").cast("double") / F.col("freq"), 9
                    ).cast("decimal(38,18)")
                ).cast("double"),
                9,
            ).alias("score"),
        )
    )
    wr = Window.orderBy(F.desc("score"), F.asc("phrase"))
    return (
        pscore.join(occ, "phrase")
        .withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _RAKE_TOPK)
        .select("phrase", "n_occurrences", "score", "rnk")
    )


ts_rake_keyphrases.__doc__ = ts_rake_keyphrases.__doc__.format(
    ml=_RAKE_MAXLEN
)


# ---------------------------------------------------------------------------
# Greedy max-coverage document selection (facility-location lite) — r13
# ---------------------------------------------------------------------------

_COV_ROUNDS = 5


@query("ts_coverage_greedy")
def ts_coverage_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY MAX-COVERAGE data selection ({r} rounds): repeatedly
    pick the document adding the most NOT-YET-COVERED vocabulary —
    the classic (1−1/e)-approximate submodular selection behind
    "which K documents should we annotate/keep to cover the domain"
    (facility location / exemplar selection on set coverage, the
    discrete sibling of vec_kcenter_init's metric coverage). Emits
    each round's pick, its marginal gain, and the covered-vocabulary
    running total — the diminishing-returns curve IS the data-value
    signal.

    Scale shape: the postings frame (doc, term) builds once
    (distinct, persisted); each round is ONE scheduled action — an
    anti-join against the covered-term set (derived in-job as a
    broadcast semi-join of the cached postings against the ≤K picked
    ids; bounded by the picked docs' vocabularies, NOT the corpus) +
    one keyed gain count + a 1-row argmax (TakeOrdered — the k-center
    loop discipline). At 100 TB the per-round cost is one shuffle
    over the postings frame; K is small by construction.

    Determinism: gains are exact counts; ties break on doc_id; the
    oracle unrolls all {r} rounds CTE-for-CTE."""
    d = load_table(spark, sf_dir, "documents")
    # r15 (guide §2.4, the ts_textrank/ts_stolcke idiom): adjacent
    # bigram terms are a pure function of each doc's token array —
    # zip it with its own tail row-locally instead of the old
    # (doc_id, pos) positions self-join (which tokenized the corpus
    # once per join side and shuffled both exploded sides). Map-only
    # until the distinct; term multiset identical pair-for-pair.
    tc = F.col("__t")
    post = (
        d.select("doc_id", regex_tokenize("text").alias("__t"))
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(tc, 1, F.greatest(F.size(tc) - 1, F.lit(0))),
                    F.slice(tc, 2, F.greatest(F.size(tc) - 1, F.lit(0))),
                    lambda x, y: F.concat_ws(" ", x, y),
                )
            ).alias("term"),
        )
        .distinct()
        .persist()
    )
    # r14 (guide §2.4): each round's gain counts exactly the distinct
    # terms the pick adds to the cover, so the per-round `.distinct()`
    # rebuild of the covered set and the separate covered-count
    # aggregate both dropped; the covered-vocabulary total is ONE
    # window cumsum over the ≤K result rows at the end.
    # r15 (guide §2.4/§5): the covered set is never MATERIALIZED at
    # all — covered_{r} is definitionally the term multiset of the
    # picked docs, i.e. one semi-join of the cached postings frame
    # against the ≤r picked ids (each pick is a checkpointed 1-row
    # LocalTableScan, so the semi/anti side rebuilds from cache in the
    # same job). That folds the old per-round eager
    # `covered.unionAll(...).localCheckpoint()` job into the pick job:
    # ONE scheduled action per round instead of two, and no growing
    # checkpointed covered frame. The anti-join is multiset-insensitive
    # (r14 argument), so gains — and every output row — are identical.
    picks: list = []
    rows = []
    for r in range(1, _COV_ROUNDS + 1):
        if picks:
            picked_ids = picks[0]
            for pk in picks[1:]:
                picked_ids = picked_ids.unionAll(pk)
            covered = post.join(
                F.broadcast(picked_ids), "doc_id", "left_semi"
            ).select("term")
            gain_src = post.join(F.broadcast(covered), "term", "left_anti")
        else:
            gain_src = post  # round 1: nothing covered yet
        gain = gain_src.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("gain")
        )
        pick = gain.orderBy(F.desc("gain"), "doc_id").limit(1).localCheckpoint(
            eager=True
        )
        picks.append(pick.select("doc_id"))
        rows.append(pick.select(F.lit(r).alias("round"), "doc_id", "gain"))
    out = rows[0]
    for rr in rows[1:]:
        out = out.unionByName(rr)
    return out.select(
        "round",
        "doc_id",
        "gain",
        F.sum("gain")
        .over(
            Window.orderBy("round").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long")
        .alias("covered_terms"),
    )


ts_coverage_greedy.__doc__ = ts_coverage_greedy.__doc__.format(
    r=_COV_ROUNDS
)


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage curve — r13
# ---------------------------------------------------------------------------

_VC_SIZES = (1, 2, 4, 8, 16, 32, 64)


@query("ts_vocab_coverage_curve")
def ts_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer VOCABULARY COVERAGE curve: the share of all corpus
    token OCCURRENCES covered by the top-V most frequent types, at
    V ∈ {sizes} — the budget curve a tokenizer/vocab design reads
    before fixing its size (ts_vocab_growth answers "how fast does
    NEW vocabulary arrive over the corpus"; this answers "how much
    of the corpus does a FIXED vocabulary explain"), and the OOV
    budget complement of ts_oov_rate. Frequency ties rank by term so
    the curve is exactly reproducible.

    Scale shape: one vocabulary-keyed count (map-side combined), one
    rank+cumulative window over the VOCABULARY domain (already
    aggregated — the rel_gini_concentration bound), then a
    |sizes|-row readout. The curve costs one corpus scan regardless
    of corpus size.

    Determinism: counts exact; coverage is a single division rounded
    to 9."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(regex_tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    w = Window.orderBy(F.desc("f"), "term")
    ranked = tf.select(
        "f",
        F.row_number().over(w).alias("rnk"),
        F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    ).persist()
    tot = ranked.agg(
        F.sum("f").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    sizes = spark.createDataFrame(
        [(v,) for v in _VC_SIZES], "v int"
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .join(ranked, F.col("rnk") <= F.col("v"))
        .groupBy("v", "vocab", "t")
        .agg(F.max("cum").cast("long").alias("covered_tokens"))
        .select(
            F.col("v").alias("vocab_size"),
            F.least(F.col("v").cast("long"), F.col("vocab")).alias("n_terms"),
            "covered_tokens",
            F.round(
                F.col("covered_tokens").cast("double") / F.col("t"), 9
            ).alias("coverage"),
        )
    )


ts_vocab_coverage_curve.__doc__ = ts_vocab_coverage_curve.__doc__.format(
    sizes=_VC_SIZES
)


# ---------------------------------------------------------------------------
# Entropy-based bigram LM pruning (Stolcke 1998, MLE form) — r13
# ---------------------------------------------------------------------------

_SP_THETA = 1e-4
_SP_TOPK = 20


@query("ts_stolcke_prune")
def ts_stolcke_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-based n-gram LM pruning (the Stolcke 1998 criterion in
    its MLE form): a bigram (h, w) is worth storing only if it moves
    probability mass relative to the unigram backoff — weighted KL
    contribution p(h,w)·ln(p(w|h)/p(w)) ≥ θ={theta} — the size/
    perplexity trade every production n-gram LM (and every KenLM
    artifact a data pipeline ships) is built on. Emits the top-{k}
    highest-contribution bigrams with the global kept/pruned census —
    the compressed-model card. Completes the LM family:
    ts_kneser_ney SMOOTHS the table, this PRUNES it.

    Scale shape: positions explode once; the bigram table is one
    (doc, pos+1) postings self-join (the textrank adjacency shape) +
    one keyed count; history/unigram margins re-aggregate the
    BIGRAM table (vocabulary-bounded, corpus-independent); scoring
    is row-local arithmetic over vocab² rows max. Census + top-k are
    window/aggregate over the same bounded frame.

    Determinism: counts exact; the contribution is one fixed
    ln-expression tree rounded to 12 (threshold compare) and 9
    (published); ties break on (h, w)."""
    d = load_table(spark, sf_dir, "documents")
    # r15 (guide §2.4, the ts_textrank r14 idiom): adjacent bigrams
    # are a pure function of EACH doc's token sequence — the array
    # zipped with its own tail — instead of the (doc_id, pos)
    # positions self-join, which tokenized the corpus once per join
    # side and shuffled both exploded sides on (doc_id, pos). One
    # scan, map-only until the (h, w) count aggregation; the emitted
    # bigram multiset is identical pair-for-pair.
    t = F.col("__t")  # bound once: 4 references, tokenizer runs 1×
    bg = (
        d.select(regex_tokenize("text").alias("__t"))
        .select(
            F.explode(
                F.zip_with(
                    F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
                    F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
                    lambda x, y: F.struct(x.alias("h"), y.alias("w")),
                )
            ).alias("p")
        )
        .select("p.h", "p.w")
        .groupBy("h", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c_hw"))
        .persist()
    )
    hist = bg.groupBy("h").agg(F.sum("c_hw").cast("long").alias("c_h"))
    uni = bg.groupBy("w").agg(F.sum("c_hw").cast("long").alias("c_w"))
    tot = bg.agg(F.sum("c_hw").cast("long").alias("nb"))
    score = F.round(
        (F.col("c_hw").cast("double") / F.col("nb"))
        * F.log(
            (F.col("c_hw").cast("double") / F.col("c_h"))
            / (F.col("c_w").cast("double") / F.col("nb"))
        ),
        12,
    )
    flagged = (
        bg.join(hist, "h")
        .join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "h",
            "w",
            "c_hw",
            F.round(score, 9).alias("score"),
            F.when(score >= _SP_THETA, 1).otherwise(0).alias("kept"),
        )
        .persist()
    )
    summary = flagged.agg(
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum(1 - F.col("kept")).cast("long").alias("n_pruned"),
    )
    wr = Window.orderBy(F.desc("score"), "h", "w")
    return (
        flagged.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _SP_TOPK)
        .crossJoin(F.broadcast(summary))
        .select("h", "w", "c_hw", "score", "kept", "n_kept", "n_pruned", "rnk")
    )


ts_stolcke_prune.__doc__ = ts_stolcke_prune.__doc__.format(
    theta=_SP_THETA, k=_SP_TOPK
)


# ---------------------------------------------------------------------------
# Boilerplate n-gram census (CCNet-style removal-list builder) — r13
# ---------------------------------------------------------------------------

_BP_N = 5
_BP_MIN_DOCS = 3
_BP_TOPK = 20


@query("ts_boilerplate_ngrams")
def ts_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE CENSUS: word {n}-grams appearing in ≥ {m} DISTINCT
    documents, ranked by document frequency — the removal-list
    builder behind CCNet/C4-style boilerplate stripping (navigation
    chrome, license headers, template sentences). The dedup family
    finds which DOCUMENTS repeat each other (pairs); this finds which
    CONTENT repeats across unrelated documents — the list a pipeline
    subtracts BEFORE near-dup detection so template text stops
    manufacturing false duplicate pairs.

    Scale shape: n-grams come from one bound-array transform (the
    word-2gram HOF discipline: the token array binds ONCE before the
    lambda) + explode + per-doc distinct; the census is one
    vocabulary-keyed count with the ≥{m} filter pushed into the
    aggregate (map-side combined). Output is top-{k} under a total
    order; at 100 TB the census frame is the high-DF head — tiny by
    Zipf — while the long tail dies in the HAVING.

    Determinism: counts exact; doc_share is one division rounded 9;
    ties break on the n-gram string."""
    d = load_table(spark, sf_dir, "documents")
    t = regex_tokenize("text")
    grams = (
        d.select("doc_id", t.alias("t"))
        .filter(F.size("t") >= _BP_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.size("t") - F.lit(_BP_N - 1)
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("t"), i, _BP_N), " "
                    ),
                )
            ).alias("g"),
        )
        .distinct()
    )
    tot = d.agg(F.countDistinct("doc_id").cast("long").alias("nd"))
    census = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .filter(F.col("doc_freq") >= _BP_MIN_DOCS)
    )
    wr = Window.orderBy(F.desc("doc_freq"), "g")
    return (
        census.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= _BP_TOPK)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("g").alias("ngram"),
            "doc_freq",
            F.round(
                F.col("doc_freq").cast("double") / F.col("nd"), 9
            ).alias("doc_share"),
            "rnk",
        )
    )


ts_boilerplate_ngrams.__doc__ = ts_boilerplate_ngrams.__doc__.format(
    n=_BP_N, m=_BP_MIN_DOCS, k=_BP_TOPK
)


# ---------------------------------------------------------------------------
# Readability scoring (Flesch reading ease) — r14
# ---------------------------------------------------------------------------


@query("ts_readability")
def ts_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring over the corpus, banded into the
    standard difficulty classes — the classic zero-cost readability
    gate a curation pipeline runs next to ts_doc_quality's
    length/punct heuristics and the Gopher rules: FRE = 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/word), with syllables
    counted as vowel-group runs (min 1 per word) and sentences as
    [.!?]+ runs (min 1 per doc) — the cheap deterministic
    approximations every production readability scorer uses.

    Scale shape: pure narrow per-doc string expressions (regex
    extract + one array fold, whole-stage codegen, no UDF) feeding a
    band-keyed agg — map-side combine collapses to ≤8 rows.
    Determinism: counts exact; FRE is a fixed IEEE tree on integer
    ratios (identical both engines); banding compares the unrounded
    double against integer thresholds; averages sum round-9 values
    as DECIMAL(38,9) then divide once, rounded 9."""
    d = load_table(spark, sf_dir, "documents")
    words = "regexp_extract_all(lower(coalesce(text, '')), '[a-z]+', 0)"
    scored = d.select(
        F.expr(f"cast(size({words}) as bigint)").alias("w"),
        F.expr(
            "cast(greatest(1, size(regexp_extract_all("
            "coalesce(text, ''), '[.!?]+', 0))) as bigint)"
        ).alias("s"),
        F.expr(
            f"aggregate(transform({words}, "
            "t -> greatest(1, size(regexp_extract_all(t, '[aeiouy]+', 0)))), "
            "0L, (a, x) -> a + cast(x as bigint))"
        ).alias("syl"),
    ).filter(F.col("w") > 0)
    f_ = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("w").cast("double") / F.col("s"))
        - F.lit(84.6) * (F.col("syl").cast("double") / F.col("w"))
    )
    banded = scored.select(
        "w",
        f_.alias("f"),
        F.when(f_ >= 90, "very_easy")
        .when(f_ >= 80, "easy")
        .when(f_ >= 70, "fairly_easy")
        .when(f_ >= 60, "standard")
        .when(f_ >= 50, "fairly_difficult")
        .when(f_ >= 30, "difficult")
        .when(f_ >= 0, "very_confusing")
        .otherwise("graduate")
        .alias("band"),
    )
    return banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.round(F.col("f"), 9).cast("decimal(38,9)"))
            .cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("avg_fre"),
        F.round(
            F.sum("w").cast("double") / F.count(F.lit(1)), 9
        ).alias("avg_words"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (BPE pieces per word) — r14
# ---------------------------------------------------------------------------


@query("ts_tokenizer_fertility")
def ts_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — BPE pieces emitted per word,
    the standard multilingual-tokenizer bias audit (a tokenizer fit
    on English-heavy data segments other languages into more pieces,
    inflating their effective sequence length and training cost):
    apply the fixed ranked merge table (the text_bpe_segments
    encoder — chained space-padded replaces, whole-stage codegen, no
    UDF) to every corpus word and report per-language word count,
    piece count, and pieces-per-word.

    Scale shape: embarrassingly parallel scan (tokenize + encode are
    narrow string expressions), one explode, one language-keyed agg
    that map-side combines to |languages| rows; the doc-count side
    is its own tiny agg, broadcast-joined. 100 TB: the per-language
    fertility table IS the audit artifact, a handful of rows.
    Determinism: all counts exact integers; the single division per
    language rounds to 9."""
    from fuzzy_item_matching_spark.functions.text import regex_tokenize
    from fuzzy_item_matching_spark.queries.text import (
        _BPE_MERGES,
        _BPE_PASSES,
    )

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "lang", F.explode(regex_tokenize("text")).alias("w")
    )
    s = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
        F.lit(" "),
    )
    for a, b in _BPE_MERGES:
        for _ in range(_BPE_PASSES):
            s = F.replace(s, F.lit(f" {a} "), F.lit(f" {b} "))
    pieces = words.select(
        "lang",
        F.size(F.split(F.trim(s), " ")).cast("long").alias("np"),
    )
    docs = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    agg = pieces.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("np").cast("long").alias("n_pieces"),
    )
    return agg.join(F.broadcast(docs), "lang").select(
        "lang",
        "n_docs",
        "n_words",
        "n_pieces",
        F.round(
            F.col("n_pieces").cast("double") / F.col("n_words"), 9
        ).alias("fertility"),
    )
