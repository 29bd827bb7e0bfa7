"""Round-14 optimization equality pins.

Each optimization rewrote an operator's physical shape while claiming
bit-identical output; these tests pin that claim against an
INDEPENDENT implementation (not the DuckDB oracle, which for the
winnowing kernel now shares the engine's code path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.functions.text import hex_long_once

from .conftest import SF_CHECK


def _winnowing_native(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "txt",
    k: int = 7,
    w: int = 4,
) -> DataFrame:
    """Pure-JVM map-only twin of ``dedup.winnowing_fingerprints`` —
    k-gram keys, trailing-window minima and the per-doc distinct as
    row-local array expressions (zero exchanges, but interpreted-HOF
    md5 per position): the oracle-independent implementation the
    DuckDB kernel is pinned against."""
    # key[p] = hash(k-gram at p)·2^30 + p for p = 1..L-k+1, bound to an
    # attribute BEFORE the window pass so the second transform's slice
    # references a materialized array, not a re-evaluated expression.
    key_arr = F.transform(
        F.sequence(F.lit(1), F.length(text_col) - (k - 1)),
        lambda p: hex_long_once(
            F.md5(F.substring(F.col(text_col), p, F.lit(k))), 1, 8
        )
        * F.lit(1073741824)
        + p,
    )
    # Docs shorter than k+w-1 chars have no full w-window; the guard
    # also keeps F.sequence ascending (sequence(w, stop) with stop < w
    # would count DOWN, not produce an empty array).
    g = docs.filter(F.length(text_col) >= k + w - 1).select(
        id_col, key_arr.alias("__keys")
    )
    # m[p] = min(key[p-w+1 .. p]); h = m div 2^30 (shiftright is exact
    # integer division here — keys are non-negative). array_distinct
    # per doc replaces the global distinct: ids are unique per row, so
    # the exploded (id, h) multiset is already distinct.
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(w), F.size("__keys")),
            lambda p: F.shiftright(
                F.array_min(F.slice("__keys", p - (w - 1), w)), 30
            ),
        )
    )
    return g.select(id_col, F.explode(sel).alias("h"))


def test_winnowing_kernel_equals_native(spark):
    """The DuckDB-kernel winnowing (default path) must emit exactly
    the fingerprint set of the pure-JVM array twin."""
    from fuzzy_item_matching_spark.operators.dedup import winnowing_fingerprints
    from fuzzy_item_matching_spark.tables import load_table

    d = load_table(spark, SF_CHECK, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("txt")
    )
    kern = winnowing_fingerprints(d)
    nat = _winnowing_native(d)
    assert kern.exceptAll(nat).count() == 0
    assert nat.exceptAll(kern).count() == 0
    assert kern.count() > 0


def test_gram_partials_equal_jvm_expression(spark):
    """The Arrow/numpy fixed-point Gram fold must reproduce the JVM
    expression path's BIGINT cell sums exactly."""
    from fuzzy_item_matching_spark.queries.vectors import (
        _gram_long_partials,
    )
    from fuzzy_item_matching_spark.tables import load_table

    e = load_table(spark, SF_CHECK, "embeddings")
    arrow = (
        _gram_long_partials(e)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )
    q = 2.0**40
    jvm = (
        e.select(
            F.size("embedding").alias("d"),
            F.posexplode(
                F.expr(
                    "flatten(transform(cast(embedding as array<double>),"
                    " x -> transform(cast(embedding as array<double>),"
                    " y -> x * y)))"
                )
            ).alias("pos", "p"),
        )
        .select(
            F.expr("(pos div d) + 1").alias("i"),
            F.expr("(pos % d) + 1").alias("j"),
            "p",
        )
        .groupBy("i", "j")
        .agg(F.sum(F.floor(F.col("p") * q)).alias("s"))
    )
    assert arrow.exceptAll(jvm).count() == 0
    assert jvm.exceptAll(arrow).count() == 0


def test_jaccard_length_filter_no_pair_lost(spark):
    """The length-filtered postings join must emit exactly the pairs
    of an unfiltered reference join (same jaccard values)."""
    from fuzzy_item_matching_spark.functions.text import regex_tokenize
    from fuzzy_item_matching_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from fuzzy_item_matching_spark.tables import load_table

    d = load_table(spark, SF_CHECK, "documents")
    got = ngram_jaccard_pairs(
        d, "doc_id", regex_tokenize("text"), n=3, min_jaccard=0.5
    )
    # reference: plain unfiltered postings join, written inline
    from fuzzy_item_matching_spark.operators.dedup import word_shingles

    sh = d.select(
        F.col("doc_id").alias("__id"),
        F.explode(
            F.array_sort(word_shingles(regex_tokenize("text"), 3))
        ).alias("__g"),
    )
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    a = sh.select(F.col("__id").alias("id_a"), "__g")
    b = sh.select(F.col("__id").alias("id_b"), "__g")
    inter = (
        a.join(b, "__g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    ref = (
        inter.join(
            sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("nb")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("__i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_doremi_driver_loop_equals_spark_iteration(spark):
    """The driver-side multiplicative-weights loop must reproduce the
    old per-iteration Spark plan bit-for-bit — this is the pin that
    math.exp (libm), Decimal(repr) casting, and the repr-based round
    replicate F.exp / cast(DECIMAL(38,18)) / F.round exactly."""
    from fuzzy_item_matching_spark.queries.textstats import (
        _DOREMI_ETA,
        _DOREMI_ITERS,
        ts_doremi_mixture,
        ts_wordlm_score,
    )
    from fuzzy_item_matching_spark.tables import load_table

    got = {
        (r["iter"], r["lang"]): (r["loss"], r["alpha"])
        for r in ts_doremi_mixture(spark, SF_CHECK).collect()
    }
    # reference: the pre-r14 per-iteration Spark plan, replayed inline
    dec = "decimal(38,18)"
    s = ts_wordlm_score(spark, SF_CHECK)
    d = load_table(spark, SF_CHECK, "documents").select("doc_id", "lang")
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
    nd = dl.agg(F.count(F.lit(1)).alias("nd"))
    cur = (
        dl.crossJoin(F.broadcast(nd))
        .select("lang", "loss", (F.lit(1.0) / F.col("nd")).alias("alpha"))
        .localCheckpoint(eager=True)
    )
    out = cur.select(
        F.lit(0).alias("iter"),
        "lang",
        F.round("loss", 9).alias("loss"),
        F.round("alpha", 9).alias("alpha"),
    )
    for t in range(1, _DOREMI_ITERS + 1):
        base = cur.agg(
            F.sum((F.col("alpha") * F.col("loss")).cast(dec))
            .cast("double")
            .alias("bl")
        )
        upd = cur.crossJoin(F.broadcast(base)).select(
            "lang",
            "loss",
            (
                F.col("alpha")
                * F.round(
                    F.exp(F.lit(_DOREMI_ETA) * (F.col("loss") - F.col("bl"))),
                    9,
                )
            ).alias("raw"),
        )
        z = upd.agg(F.sum(F.col("raw").cast(dec)).cast("double").alias("z"))
        cur = (
            upd.crossJoin(F.broadcast(z))
            .select(
                "lang",
                "loss",
                F.round(F.col("raw") / F.col("z"), 9).alias("alpha"),
            )
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(
            cur.select(
                F.lit(t).alias("iter"),
                "lang",
                F.round("loss", 9).alias("loss"),
                F.round("alpha", 9).alias("alpha"),
            )
        )
    ref = {
        (r["iter"], r["lang"]): (r["loss"], r["alpha"])
        for r in out.collect()
    }
    assert got == ref  # bit-exact, not approx


def test_markov_absorption_equals_spark_iteration(spark):
    """The driver-side absorption loop must reproduce the old
    join+DECIMAL-aggregate Spark iteration bit-for-bit (pins the
    Decimal(repr)-based cast replication)."""
    from fuzzy_item_matching_spark.queries.analytics import (
        _RE_CHANNELS,
        _RE_CONV,
        _RE_T,
        rel_markov_removal_attribution,
    )

    got = {
        r["channel"]: (
            r["p_full"],
            r["p_removed"],
            r["removal_effect"],
            r["share"],
        )
        for r in rel_markov_removal_attribution(spark, SF_CHECK).collect()
    }
    # reference: rebuild the transition matrix exactly as the query
    # does, then run the OLD Spark-side absorption + share plan
    from pyspark.sql.window import Window as W

    from fuzzy_item_matching_spark.tables import load_table

    ev = load_table(spark, SF_CHECK, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(wseq).alias("rn")
    )
    wu = W.partitionBy("user_id")
    cut = seq.withColumn(
        "prn",
        F.min(F.when(F.col("event_type") == _RE_CONV, F.col("rn"))).over(wu),
    )
    jny = cut.filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
    wj = W.partitionBy("user_id").orderBy("rn")
    bg = jny.select(
        F.coalesce(F.lag("event_type").over(wj), F.lit("__start")).alias(
            "prev"
        ),
        F.col("event_type").alias("nxt"),
    )
    tc = bg.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c"))
    wp = W.partitionBy("prev")
    tp = tc.select(
        "prev",
        "nxt",
        (
            F.col("c").cast("double") / F.sum("c").over(wp).cast("double")
        ).alias("tpp"),
    ).unionByName(
        spark.createDataFrame(
            [(_RE_CONV, _RE_CONV, 1.0)], "prev string, nxt string, tpp double"
        )
    )
    scen = spark.createDataFrame(
        [(sc,) for sc in ("full", *_RE_CHANNELS)], "scenario string"
    )
    spx = F.broadcast(scen).join(
        tp,
        (F.col("scenario") == "full")
        | (
            (F.col("prev") != F.col("scenario"))
            & (F.col("nxt") != F.col("scenario"))
        ),
    )
    sp = F.broadcast(
        spark.createDataFrame(
            spx.collect(),
            "scenario string, prev string, nxt string, tpp double",
        )
    )
    v = scen.select(
        "scenario", F.lit("__start").alias("st"), F.lit(1.0).alias("vp")
    )
    for _ in range(_RE_T):
        v = (
            v.join(
                sp.withColumnRenamed("scenario", "sc2"),
                (F.col("sc2") == F.col("scenario"))
                & (F.col("prev") == F.col("st")),
            )
            .groupBy(F.col("scenario").alias("s2"), F.col("nxt").alias("st2"))
            .agg(
                F.sum((F.col("vp") * F.col("tpp")).cast("decimal(38,18)"))
                .cast("double")
                .alias("vp2")
            )
            .select(
                F.col("s2").alias("scenario"),
                F.col("st2").alias("st"),
                F.col("vp2").alias("vp"),
            )
        )
    pconv = scen.join(
        v.filter(F.col("st") == _RE_CONV).select("scenario", "vp"),
        "scenario",
        "left",
    ).select("scenario", F.coalesce("vp", F.lit(0.0)).alias("p"))
    full = pconv.filter(F.col("scenario") == "full").select(
        F.col("p").alias("p_full")
    )
    eff = (
        pconv.filter(F.col("scenario") != "full")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("scenario").alias("channel"),
            "p_full",
            F.col("p").alias("p_removed"),
            F.when(
                F.col("p_full") > 0,
                (F.col("p_full") - F.col("p")) / F.col("p_full"),
            )
            .otherwise(F.lit(0.0))
            .alias("removal_effect"),
        )
    )
    from pyspark.sql.window import Window as W2

    wall = W2.partitionBy()
    tot = (
        F.sum(F.col("removal_effect").cast("decimal(38,18)"))
        .over(wall)
        .cast("double")
    )
    ref = {
        r["channel"]: (
            r["p_full"],
            r["p_removed"],
            r["removal_effect"],
            r["share"],
        )
        for r in eff.select(
            "channel",
            "p_full",
            "p_removed",
            "removal_effect",
            F.when(tot > 0, F.col("removal_effect") / tot)
            .otherwise(F.lit(0.0))
            .alias("share"),
        ).collect()
    }
    assert got == ref  # bit-exact, not approx
