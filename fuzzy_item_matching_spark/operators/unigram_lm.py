"""Unigram-LM subword tokenizer fit (SentencePiece's model; Kudo 2018)
with an exact DuckDB twin.

The OTHER major subword tokenizer next to BPE (queries/text.py
text_bpe_fit): pieces carry probabilities, a word's segmentation is a
latent variable, and training is EM — the E-step computes expected
piece usage over ALL segmentations by forward-backward dynamic
programming, the M-step renormalizes. This module fits ONE EM
iteration from substring-count-initialized probabilities, returning
(piece, cnt, p0, p1) — enough to expose the full DP machinery to the
oracle (the text_bpe_fit bounded-iterations precedent; more
iterations would unroll the same CTE block).

Scale shape (the BPE-fit discipline): the ONLY corpus-sized work is
the word-count groupBy — the EM runs on the DISTINCT-WORD frame
(Heaps-law-bounded, ≪ corpus) weighted by counts. The piece
vocabulary is bounded by construction (all single chars + top
``VOCAB_MULTI`` multi-char substrings), so on the Spark side it ships
as a literal map and the whole forward-backward recursion is
ROW-LOCAL column arithmetic — one pass over distinct words, no joins,
no shuffle beyond the two piece-count/expected-count combines.

Determinism: piece selection orders by (count DESC, piece ASC); p0 is
one IEEE division of exact integers; the α/β recursions are
fixed-order sums (k ascending, left-associated) of products of
identical doubles, written with the same association in both engines;
expected-count contributions accumulate via DECIMAL(38,18); p1 is one
IEEE division of two DECIMAL-exact doubles. Words truncate to
``MAXLEN`` chars (the DP unroll depth) — a pure content function both
engines replay.

The DuckDB twins live in ``oracles/unigram_lm.py``, outside the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAXLEN = 12  # DP unroll depth; words truncate here
KMAX = 4  # max piece length
VOCAB_MULTI = 64  # multi-char pieces kept (top by count)

# (i, k) occurrence generator: every piece occurrence = end position i
# (1-based) and length k ≤ min(KMAX, i). Spark and DuckDB share the
# flatten(transform(...)) construction so the occurrence set is
# identical by construction.
_OCC_SPARK = (
    "flatten(transform(sequence(1, length(w)),"
    f" i -> transform(sequence(1, least({KMAX}, i)),"
    " k -> struct(i as i, k as k))))"
)
def _words(docs: DataFrame, tokenize) -> DataFrame:
    return (
        docs.select(tokenize.alias("__toks"))
        .select(F.explode("__toks").alias("w0"))
        .select(F.substring("w0", 1, MAXLEN).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def unigram_em_fit(docs: DataFrame, tokenize) -> DataFrame:
    """One EM iteration over the tokenized corpus; returns
    (piece, cnt, p0, p1) for the selected vocabulary. ``tokenize`` is
    the token-array Column over ``docs``."""
    spark = docs.sparkSession
    words = _words(docs, tokenize).persist()
    occ = words.select(
        "w",
        "wc",
        F.explode(F.expr(_OCC_SPARK)).alias("ik"),
    ).select(
        "w",
        "wc",
        F.col("ik.i").alias("i"),
        F.col("ik.k").alias("k"),
        F.expr("substring(w, i - k + 1, k)").alias("q"),
    )
    pc = occ.groupBy("q").agg(F.sum("wc").alias("c"))
    multi = (
        pc.filter(F.length("q") >= 2)
        .orderBy(F.desc("c"), F.asc("q"))
        .limit(VOCAB_MULTI)
    )
    singles = pc.filter(F.length("q") == 1)
    voc_rows = sorted(
        singles.unionByName(multi).collect(),
        key=lambda r: r["q"],
    )  # ≤ alphabet + VOCAB_MULTI rows — the fitted-state budget
    if not voc_rows:  # empty corpus -> empty model, stable schema
        return spark.createDataFrame(
            [], "piece string, cnt long, p0 double, p1 double"
        )
    tot = sum(r["c"] for r in voc_rows)
    p0 = {r["q"]: float(r["c"]) / float(tot) for r in voc_rows}

    pm = F.create_map(
        *[x for q, p in sorted(p0.items()) for x in (F.lit(q), F.lit(p))]
    )
    dp = words.withColumn("__pm", pm).withColumn("l", F.length("w"))

    def P(expr: str):
        return F.coalesce(
            F.col("__pm")[F.expr(expr)], F.lit(0.0)
        )

    # forward: a_i = Σ_k a_{i-k} · p(w[i-k+1 .. i]), k ascending
    dp = dp.withColumn("a0", F.lit(1.0))
    for i in range(1, MAXLEN + 1):
        s = None
        for k in range(1, min(KMAX, i) + 1):
            t = F.col(f"a{i - k}") * P(f"substring(w, {i - k + 1}, {k})")
            s = t if s is None else s + t
        dp = dp.withColumn(
            f"a{i}",
            F.when(F.lit(i) <= F.col("l"), s).otherwise(F.lit(0.0)),
        )
        # cut the lineage every KMAX levels: a_i inlines a_{i-1..i-4},
        # so an unbroken withColumn chain nests 4-ary (exponential
        # analysis/codegen — measured 10.6 s at sf0.1 for a 31-row
        # frame); the checkpoint materializes the distinct-WORD frame,
        # never the corpus.
        if i % 6 == 0:
            dp = dp.localCheckpoint(eager=True)
    # backward via the reversed word: b_j (chars consumed from the
    # END) = Σ_k b_{j-k} · p(reverse(substr(reverse(w), j-k+1, k)));
    # β_i = b_{l-i}
    dp = dp.withColumn("r", F.reverse("w")).withColumn("b0", F.lit(1.0))
    for j in range(1, MAXLEN + 1):
        s = None
        for k in range(1, min(KMAX, j) + 1):
            t = F.col(f"b{j - k}") * P(
                f"reverse(substring(r, {j - k + 1}, {k}))"
            )
            s = t if s is None else s + t
        dp = dp.withColumn(
            f"b{j}",
            F.when(F.lit(j) <= F.col("l"), s).otherwise(F.lit(0.0)),
        )
        if j % 6 == 0:
            dp = dp.localCheckpoint(eager=True)
    z = None
    for i in range(1, MAXLEN + 1):
        c = F.when(F.col("l") == i, F.col(f"a{i}"))
        z = c if z is None else z.when(F.col("l") == i, F.col(f"a{i}"))
    dp = dp.withColumn("z", z)
    dp = dp.withColumn(
        "arr_a", F.array(*[F.col(f"a{i}") for i in range(MAXLEN + 1)])
    ).withColumn(
        "arr_b", F.array(*[F.col(f"b{j}") for j in range(MAXLEN + 1)])
    )

    occ2 = dp.select(
        "w",
        "wc",
        "l",
        "z",
        "arr_a",
        "arr_b",
        "__pm",
        F.explode(F.expr(_OCC_SPARK)).alias("ik"),
    ).select(
        F.expr("substring(w, ik.i - ik.k + 1, ik.k)").alias("q"),
        (
            F.col("wc")
            * F.element_at("arr_a", F.col("ik.i") - F.col("ik.k") + 1)
            * F.coalesce(
                F.col("__pm")[
                    F.expr("substring(w, ik.i - ik.k + 1, ik.k)")
                ],
                F.lit(0.0),
            )
            * F.element_at("arr_b", F.col("l") - F.col("ik.i") + 1)
            / F.col("z")
        ).alias("contrib"),
    )
    occ2 = occ2.persist()  # feeds per-piece E AND the global total
    dec = "decimal(38,18)"
    e = occ2.groupBy("q").agg(
        F.sum(F.col("contrib").cast(dec)).cast("double").alias("e")
    )
    tot_e = occ2.agg(
        F.sum(F.col("contrib").cast(dec)).cast("double").alias("te")
    )
    voc = spark.createDataFrame(
        [(r["q"], r["c"], p0[r["q"]]) for r in voc_rows],
        "piece string, cnt long, p0 double",
    )
    return (
        voc.join(e.withColumnRenamed("q", "piece"), "piece", "left")
        .crossJoin(F.broadcast(tot_e))
        .select(
            "piece",
            "cnt",
            F.round("p0", 9).alias("p0"),
            F.round(
                F.coalesce("e", F.lit(0.0)) / F.col("te"), 9
            ).alias("p1"),
        )
    )


def unigram_viterbi_segments(docs: DataFrame, tokenize) -> DataFrame:
    """Viterbi segmentation APPLY: per distinct word, the max-prob
    segmentation under the substring-count unigram model (the p0 the
    EM fit starts from — apply and fit share the vocabulary
    construction). Output (w, wc, n_pieces, seg, logp-free best prob
    rounded): the `encode` half of the SentencePiece pair, as
    text_bpe_segments is to text_bpe_fit."""
    spark = docs.sparkSession
    words = _words(docs, tokenize).persist()
    occ = words.select(
        "w", "wc", F.explode(F.expr(_OCC_SPARK)).alias("ik")
    ).select(
        "w",
        "wc",
        F.expr("substring(w, ik.i - ik.k + 1, ik.k)").alias("q"),
    )
    pc = occ.groupBy("q").agg(F.sum("wc").alias("c"))
    multi = (
        pc.filter(F.length("q") >= 2)
        .orderBy(F.desc("c"), F.asc("q"))
        .limit(VOCAB_MULTI)
    )
    singles = pc.filter(F.length("q") == 1)
    voc_rows = sorted(
        singles.unionByName(multi).collect(), key=lambda r: r["q"]
    )
    if not voc_rows:  # empty corpus -> empty segmentation
        return docs.sparkSession.createDataFrame(
            [],
            "w string, wc long, n_pieces long, seg string,"
            " best_lp double",
        )
    tot = sum(r["c"] for r in voc_rows)
    p0 = {r["q"]: float(r["c"]) / float(tot) for r in voc_rows}

    # r14 (guide §4.2): the DP + backtrack are ROW-LOCAL over the
    # distinct-word frame, so they now run as one Arrow/Python pass
    # with the ≤(alphabet+64)-entry vocabulary as a task-closure dict,
    # replacing the ~12-level unrolled withColumn pipeline (its CASE
    # chains + 4 eager localCheckpoint actions were scale-independent
    # plan cost). Replication is exact op for op: each candidate is
    # ONE IEEE multiply v[i−k]·p(piece) on identical doubles, the
    # winner is the same k-ascending >=-chain tie-break, the
    # backtrack walks the same l{pos} lengths, and the final
    # round(ln(best), 9) uses the libm ln the DuckDB twin calls —
    # the oracle still replays the whole DP through unrolled CTEs.
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql import types as TT

    q9 = Decimal(1).scaleb(-9)

    def _seg_one(w: str):
        l = len(w)
        v = [1.0] + [0.0] * l
        lk = [0] * (l + 1)
        for i in range(1, l + 1):
            ks = range(1, min(KMAX, i) + 1)
            ts = [v[i - k] * p0.get(w[i - k : i], 0.0) for k in ks]
            v[i] = max(ts)
            li = len(ts)  # default: the last k
            for kx in range(len(ts) - 1):
                if all(ts[kx] >= ts[k2] for k2 in range(kx + 1, len(ts))):
                    li = kx + 1
                    break
            lk[i] = li
        pieces = []
        pos = l
        while pos > 0:
            ls = lk[pos]
            pieces.append(w[pos - ls : pos])
            pos -= ls
        pieces.reverse()
        if l == 0:  # old CASE chain had no l=0 branch -> NULL best_lp
            return 0, "", None
        best = v[l]
        if best > 0.0:
            lp = float(
                Decimal(repr(math.log(best))).quantize(
                    q9, rounding=ROUND_HALF_UP
                )
            )
        else:
            # Unreachable with the unthresholded singles vocab (every
            # char is in p0, so best > 0), but if vocab construction
            # ever gains a min-count the old Spark path's F.log(0.0)
            # produced NULL — preserve that, not -inf (ADVICE r14).
            lp = None
        return len(pieces), " ".join(pieces), lp

    schema = TT.StructType(
        [
            TT.StructField("w", TT.StringType()),
            TT.StructField("wc", TT.LongType()),
            TT.StructField("n_pieces", TT.LongType()),
            TT.StructField("seg", TT.StringType()),
            TT.StructField("best_lp", TT.DoubleType()),
        ]
    )

    def segment(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            segs = [_seg_one(w) for w in pdf["w"].to_numpy()]
            yield pd.DataFrame(
                {
                    "w": pdf["w"].to_numpy(),
                    "wc": pdf["wc"].to_numpy(),
                    "n_pieces": [s[0] for s in segs],
                    "seg": [s[1] for s in segs],
                    "best_lp": [s[2] for s in segs],
                }
            )

    return words.mapInPandas(segment, schema=schema)
