"""Retrieval and probabilistic record-linkage queries — the ranked
half of the fuzzy-matching surface.

The reference scores candidate item pairs with an MLlib model over
TF-IDF features (`02_Define Matching Pipelines.py`); this module adds
the two classical alternatives a large-scale matching pipeline runs
FIRST, both fully SQL-expressible and exact-oracle-checked:

- BM25 ranked retrieval (`sim_bm25_topk`): the standard lexical
  retriever used to generate match candidates before any model scores
  them.
- Fellegi–Sunter probabilistic linkage (`serve_fs_linkage`): blocked
  agreement vectors weighted by log-likelihood ratios, with
  u-probabilities estimated from the data itself — the canonical
  record-linkage scorer (Fellegi & Sunter 1969), here as one
  declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.queries import query
from fuzzy_item_matching_spark.functions.text import regex_tokenize
from fuzzy_item_matching_spark.tables import load_table

# The standing query for BM25 — three mid-frequency corpus terms.
_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 20


@query("sim_bm25_topk")
def sim_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval: top-{k} documents for a standing 3-term
    query (Robertson/Sparck-Jones idf, k1={k1}, b={b}).

    Plan: the token explode feeds doc lengths (one hash agg) and the
    query-term tf rows (the IN filter prunes BEFORE the agg, so the tf
    shuffle carries only matching terms — at 100 TB that's the posting
    list for 3 terms, not the corpus). df and the corpus stats are
    kilobyte-sized aggregates → broadcast joins; final ranking is a
    top-k over |matching docs| rows (TakeOrderedAndProject after the
    window filter). No O(corpus) shuffle except the doc-length agg,
    which any retrieval system needs once and would precompute.

    Determinism: per-term scores are a fixed IEEE expression tree on
    exact integers (tf, df, dl) plus one shared avgdl division —
    bit-identical across engines; the per-doc sum over the ≤3 terms
    accumulates as DECIMAL(38,18) per repo convention. Ranking
    tie-breaks on doc_id, LIMIT only after that total order.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(regex_tokenize("text")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corp = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    t = idf * (
        (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (
                F.lit(1.0 - _BM25_B)
                + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
            )
        )
    )
    terms = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corp))
        .select("doc_id", t.alias("t"))
    )
    scored = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(F.col("t").cast("decimal(38,18)")).cast("double").alias("score"),
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_BM25_K)
        .select("doc_id", "n_terms", "score")
    )


sim_bm25_topk.__doc__ = sim_bm25_topk.__doc__.format(
    k=_BM25_K, k1=_BM25_K1, b=_BM25_B
)

# Fellegi–Sunter m-probabilities (P[field agrees | true match]) — fixed
# model constants; the u-probabilities (P[agrees | non-match]) are
# estimated from the data as the random-pair agreement frequency
#   u_f = Σ_v n_v(n_v-1) / (N(N-1)).
_FS_M_TYPE = 0.95
_FS_M_TOK1 = 0.90
_FS_M_TOK2 = 0.90


@query("serve_fs_linkage")
def serve_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over blocked part
    pairs: agreement vectors on (type, name-token-1, name-token-2)
    weighted by log-likelihood ratios ln(m/u) / ln((1-m)/(1-u)), with
    u-probabilities estimated from the data as random-pair agreement
    rates. The classical scorer the reference's ML model replaces
    (`02_Define Matching Pipelines.py` trains where FS would be fit);
    at 100 TB you run THIS first and reserve the model for the
    ambiguous middle band.

    Plan: u-estimation is three value-frequency aggs over single
    columns (map-side combinable, tiny outputs → broadcast as scalar
    frames). Candidate generation is a self-equi-join on the
    (p_brand, p_size) blocking key — never all-pairs; block sizes
    bound the quadratic term exactly as the reference's
    approxSimilarityJoin bounds it with LSH buckets, and a skewed
    block would be handled by the salted-join operator
    (operators/skew.py). Weight summation is a 3-term DECIMAL(38,18)
    accumulation (repo determinism convention) cast to double at the
    end.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.coalesce("p_type", F.lit("")).alias("f_type"),
        F.split(F.coalesce("p_name", F.lit("")), " ").getItem(0).alias("f_tok1"),
        F.coalesce(
            F.split(F.coalesce("p_name", F.lit("")), " ").getItem(1), F.lit("")
        ).alias("f_tok2"),
    )
    p.persist()
    n = p.agg(F.count(F.lit(1)).cast("double").alias("n"))

    def u_of(field: str, alias: str) -> DataFrame:
        counts = p.groupBy(field).agg(F.count(F.lit(1)).alias("c"))
        return counts.crossJoin(F.broadcast(n)).agg(
            (
                F.sum(F.col("c") * (F.col("c") - 1.0))
                / F.first(F.col("n") * (F.col("n") - 1.0))
            ).alias(alias)
        )

    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_partkey").alias("id1"),
        F.col("b.p_partkey").alias("id2"),
        (F.col("a.f_type") == F.col("b.f_type")).cast("int").alias("agr_type"),
        (F.col("a.f_tok1") == F.col("b.f_tok1")).cast("int").alias("agr_tok1"),
        (F.col("a.f_tok2") == F.col("b.f_tok2")).cast("int").alias("agr_tok2"),
    )

    def w(agr: str, m: float, ucol: str):
        return F.when(
            F.col(agr) == 1, F.log(F.lit(m) / F.col(ucol))
        ).otherwise(F.log(F.lit(1.0 - m) / (1.0 - F.col(ucol)))).cast(
            "decimal(38,18)"
        )

    return (
        pairs.crossJoin(F.broadcast(u_of("f_type", "u_type")))
        .crossJoin(F.broadcast(u_of("f_tok1", "u_tok1")))
        .crossJoin(F.broadcast(u_of("f_tok2", "u_tok2")))
        .select(
            "id1",
            "id2",
            "agr_type",
            "agr_tok1",
            "agr_tok2",
            (
                w("agr_type", _FS_M_TYPE, "u_type")
                + w("agr_tok1", _FS_M_TOK1, "u_tok1")
                + w("agr_tok2", _FS_M_TOK2, "u_tok2")
            )
            .cast("double")
            .alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# Fellegi–Sunter EM: estimate m/u/λ from the data instead of fixing m.

_FS_EM_ITERS = 3
_FS_EM_INIT = (0.9, 0.1, 0.1)  # m_j, u_j, λ — the standard EM start
_FS_FIELDS = ("f_type", "f_tok1", "f_tok2")

@query("serve_fs_em_fit")
def serve_fs_em_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM-estimated Fellegi–Sunter parameters — the fit
    serve_fs_linkage's fixed m-probabilities stand in for, and the
    core of every production probabilistic-linkage engine (Splink's
    `estimate_parameters_using_expectation_maximisation`; Fellegi &
    Sunter 1969 §5's unsupervised estimator): {t} EM iterations over
    the blocked comparison space estimating per-field
    m = P[agree | match], u = P[agree | non-match], and the match
    prior λ.

    Scale shape — the pattern-compression trick that makes EM free at
    100 TB: the blocked pair frame (same (p_brand, p_size) equi-join
    as serve_fs_linkage, never all-pairs) collapses to ≤2^F agreement
    -pattern rows in ONE map-side-combinable groupBy; every EM
    iteration then touches only those ≤8 rows. Spark runs the E/M
    steps as unrolled 1-row aggregates over the persisted pattern
    frame (per-iteration state is one collected row — the gboost
    argmax budget); input-sized work is exactly one pass.

    Determinism: E-step products are fixed-association double chains
    (λ·Π terms, written identically in both engines); M-step sums
    accumulate n·g terms via DECIMAL(38,18) (exact, order-insensitive
    over the GROUP BY's nondeterministic order); iteration state is
    the CAST(... AS DOUBLE) quotients — bit-identical across engines,
    re-injected as literals. Output rounds to 9."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.coalesce("p_type", F.lit("")).alias("f_type"),
        F.split(F.coalesce("p_name", F.lit("")), " ")
        .getItem(0)
        .alias("f_tok1"),
        F.coalesce(
            F.split(F.coalesce("p_name", F.lit("")), " ").getItem(1),
            F.lit(""),
        ).alias("f_tok2"),
    )
    a, b = p.alias("a"), p.alias("b")
    pat = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            (F.col("a.f_type") == F.col("b.f_type")).cast("int").alias("g1"),
            (F.col("a.f_tok1") == F.col("b.f_tok1")).cast("int").alias("g2"),
            (F.col("a.f_tok2") == F.col("b.f_tok2")).cast("int").alias("g3"),
        )
        .groupBy("g1", "g2", "g3")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )

    m = [_FS_EM_INIT[0]] * 3
    u = [_FS_EM_INIT[1]] * 3
    lam = _FS_EM_INIT[2]
    dec = "decimal(38,18)"
    for _ in range(_FS_EM_ITERS):
        pm = F.lit(lam)
        pu = F.lit(1.0 - lam)
        for j in (1, 2, 3):
            pm = pm * F.when(
                F.col(f"g{j}") == 1, F.lit(m[j - 1])
            ).otherwise(F.lit(1.0 - m[j - 1]))
            pu = pu * F.when(
                F.col(f"g{j}") == 1, F.lit(u[j - 1])
            ).otherwise(F.lit(1.0 - u[j - 1]))
        e = pat.select(
            "g1", "g2", "g3", "n", (pm / (pm + pu)).alias("g")
        )
        g = F.col("g")
        n_ = F.col("n")
        sg = F.sum((n_ * g).cast(dec)).cast("double")
        sng = F.sum((n_ * (1.0 - g)).cast(dec)).cast("double")
        aggs = [
            *[
                (
                    F.sum((n_ * g * F.col(f"g{j}")).cast(dec)).cast("double")
                    / sg
                ).alias(f"m{j}")
                for j in (1, 2, 3)
            ],
            *[
                (
                    F.sum(
                        (n_ * (1.0 - g) * F.col(f"g{j}")).cast(dec)
                    ).cast("double")
                    / sng
                ).alias(f"u{j}")
                for j in (1, 2, 3)
            ],
            (sg / F.sum("n").cast("double")).alias("lam"),
        ]
        [st] = e.agg(*aggs).collect()  # 1 row — the EM state
        if st["lam"] is None:
            raise ValueError(
                "serve_fs_em_fit: zero blocked comparison pairs —"
                " the EM estimate cannot exist"
            )
        m = [st[f"m{j}"] for j in (1, 2, 3)]
        u = [st[f"u{j}"] for j in (1, 2, 3)]
        lam = st["lam"]
    pat.unpersist()
    rows = [(f, m[j], u[j], lam) for j, f in enumerate(_FS_FIELDS)]
    # rounding in Spark (HALF_UP), not Python round() (banker's) —
    # must match the oracle's round()
    return spark.createDataFrame(
        rows, "field string, m double, u double, lam double"
    ).select(
        "field",
        F.round("m", 9).alias("m"),
        F.round("u", 9).alias("u"),
        F.round("lam", 9).alias("lam"),
    )


serve_fs_em_fit.__doc__ = serve_fs_em_fit.__doc__.format(t=_FS_EM_ITERS)


# ---------------------------------------------------------------------------
# Blocking-scheme evaluation: reduction ratio + pairs completeness.


@query("sim_blocking_eval")
def sim_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme quality evaluation — the two standard record-
    linkage blocking metrics (Christen 2012, "Data Matching" §7.5)
    for the (p_brand, p_size) blocking key that serve_fs_linkage /
    serve_fs_em_fit use, judged against the inverted-index fuzzy
    cosine truth (sim_fuzzy_part_pairs' pair set, cosine ≥ 0.8):

    - pairs completeness = |candidates ∩ truth| / |truth| — the recall
      the blocking key costs before any model scores a pair;
    - reduction ratio = 1 − |candidates| / (n·(n−1)/2) — the fraction
      of the quadratic comparison space the key eliminates.

    This is the eval that licenses a blocking choice at 100 TB: both
    pair generators are equi-joins (the truth side an inverted-index
    join, the candidate side the blocked self-join — never all-pairs;
    n·(n−1)/2 appears only as arithmetic on one counted scalar), the
    intersection is a flagged equi-join counted in the same pass as
    the candidate total, and the metrics are 1-row aggregates
    cross-joined. Counts are exact integers; the two metric divisions
    are single IEEE ops."""
    from fuzzy_item_matching_spark.operators.similarity import (
        fuzzy_match_pairs,
    )

    p = load_table(spark, sf_dir, "part")
    # persist: the truth pair set feeds BOTH the n_truth aggregate and
    # the semi-join — without it the whole inverted-index cosine
    # pipeline re-runs per consumer (measured 10.2 -> ~6 s at sf0.1)
    truth = (
        fuzzy_match_pairs(
            p,
            None,
            id_col="p_partkey",
            text_col="p_name",
            min_sim=0.8,
            num_features=None,
            max_df_ratio=0.15,
        )
        .select("id_a", "id_b")
        .persist()
    )
    a, b = p.alias("a"), p.alias("b")
    cand = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_partkey").alias("id_a"),
        F.col("b.p_partkey").alias("id_b"),
    )
    # r15 (guide §2.4): n_cand and n_hit come from ONE pass over the
    # candidate self-join — a left join onto the (persisted, unique)
    # truth pair set with a match flag — instead of evaluating the
    # blocked self-join twice (the count aggregate + the semi-join).
    # |cand ∩ truth| counted from cand's side equals the old
    # truth-side semi-join count because both pair sets are unique.
    ch = cand.join(
        truth.select("id_a", "id_b", F.lit(1).alias("__t")),
        ["id_a", "id_b"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.count("__t").alias("n_hit"),
    )
    nn = p.agg(F.count(F.lit(1)).alias("n"))
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        nt.crossJoin(F.broadcast(ch))
        .crossJoin(F.broadcast(nn))
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.when(F.col("n_truth") == 0, F.lit(1.0))
            .otherwise(F.col("n_hit").cast("double") / F.col("n_truth"))
            .alias("pairs_completeness"),
            F.when(F.col("n") < 2, F.lit(1.0))
            .otherwise(
                F.lit(1.0)
                - F.col("n_cand").cast("double")
                / (F.col("n").cast("double") * (F.col("n") - 1.0) / 2.0)
            )
            .alias("reduction_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion over multiple BM25 query rankings.

_RRF_QUERIES = (
    ("q1", ("spark", "join", "window")),
    ("q2", ("table", "scan", "merge")),
    ("q3", ("stream", "batch", "hash")),
)
_RRF_K = 60  # the canonical RRF constant (Cormack et al. 2009)
_RRF_TOP = 20


@query("sim_rrf_fusion")
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009) across {nq} BM25 query rankings — the query-expansion /
    hybrid-retrieval combiner production search ships: each ranking
    contributes 1/({k} + rank), missing docs contribute nothing, and
    the fused top-{top} is returned. The standard way to merge lexical
    variants (or lexical + vector lists — the ranker inputs are
    pluggable rank columns).

    Scale shape: ONE token pass feeds doc lengths and the pruned tf
    postings (the IN filter reaches the scan, so the shuffle carries
    only the union of query terms' postings); the query table, df,
    and corpus stats are broadcast; per-query rankings are window
    ranks over posting-sized frames; fusion is one map-side-
    combinable groupBy(doc_id). Never a corpus-sized shuffle beyond
    the shared doc-length agg.

    Determinism: BM25 terms are the sim_bm25_topk IEEE expression on
    exact integers; per-(query, doc) scores DECIMAL-accumulate before
    the rank (ties broken by doc_id); RRF addends 1/(k+r) are single
    IEEE divisions on integers, DECIMAL-summed; final top-{top} only
    after a (rrf, doc_id) total order."""
    d = load_table(spark, sf_dir, "documents")
    all_terms = sorted({t for _, ts in _RRF_QUERIES for t in ts})
    toks = d.select(
        "doc_id", F.explode(regex_tokenize("text")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corp = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(*all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qs = spark.createDataFrame(
        [(qid, t) for qid, terms in _RRF_QUERIES for t in terms],
        "qid string, term string",
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    t = idf * (
        (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (
                F.lit(1.0 - _BM25_B)
                + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
            )
        )
    )
    terms = (
        F.broadcast(qs)
        .join(tf, "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corp))
        .select("qid", "doc_id", t.alias("t"))
    )
    from pyspark.sql.window import Window as W

    ranked = (
        terms.groupBy("qid", "doc_id")
        .agg(
            F.sum(F.col("t").cast("decimal(38,18)"))
            .cast("double")
            .alias("score")
        )
        .select(
            "qid",
            "doc_id",
            F.row_number()
            .over(
                W.partitionBy("qid").orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
            )
            .alias("r"),
        )
    )
    fused = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.sum(
            (F.lit(1.0) / (F.lit(_RRF_K) + F.col("r"))).cast(
                "decimal(38,18)"
            )
        )
        .cast("double")
        .alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_RRF_TOP)
        .select("doc_id", "n_lists", "rrf")
    )


sim_rrf_fusion.__doc__ = sim_rrf_fusion.__doc__.format(
    nq=len(_RRF_QUERIES), k=_RRF_K, top=_RRF_TOP
)


_FS_SCORE_TOP = 50


@query("serve_fs_em_scores")
def serve_fs_em_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVE half of the EM-fitted linkage — blocked pair scoring
    with the ESTIMATED parameters (serve_fs_linkage uses fixed m's;
    this is what Splink deploys after
    estimate_parameters_using_expectation_maximisation): weight =
    Σ_j ln(m̂_j/û_j) on agreement, ln((1−m̂_j)/(1−û_j)) on
    disagreement, top-{top} pairs by (weight, id1, id2). The fit runs
    once per session (the serve_fs_em_fit query path shares the same
    EM); parameters enter the scoring expression as the 9-rounded fit
    outputs in BOTH engines, so every ln sees bit-identical inputs.

    Scale: same blocked equi-join as the fit; scoring is row-local;
    the DECIMAL 3-term weight sum follows serve_fs_linkage; top-k is
    TakeOrderedAndProject after a total order."""
    fit = {r["field"]: r for r in serve_fs_em_fit(spark, sf_dir).collect()}
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.coalesce("p_type", F.lit("")).alias("f_type"),
        F.split(F.coalesce("p_name", F.lit("")), " ")
        .getItem(0)
        .alias("f_tok1"),
        F.coalesce(
            F.split(F.coalesce("p_name", F.lit("")), " ").getItem(1),
            F.lit(""),
        ).alias("f_tok2"),
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_partkey").alias("id1"),
        F.col("b.p_partkey").alias("id2"),
        *[
            (F.col(f"a.{f_}") == F.col(f"b.{f_}")).cast("int").alias(f"g{j}")
            for j, f_ in enumerate(_FS_FIELDS, start=1)
        ],
    )
    w = None
    for j, f_ in enumerate(_FS_FIELDS, start=1):
        m, u = fit[f_]["m"], fit[f_]["u"]
        term = F.when(
            F.col(f"g{j}") == 1, F.log(F.lit(m) / F.lit(u))
        ).otherwise(F.log(F.lit(1.0 - m) / F.lit(1.0 - u))).cast(
            "decimal(38,18)"
        )
        w = term if w is None else w + term
    scored = pairs.select("id1", "id2", w.cast("double").alias("weight"))
    return (
        scored.orderBy(F.desc("weight"), F.asc("id1"), F.asc("id2"))
        .limit(_FS_SCORE_TOP)
        .select("id1", "id2", "weight")
    )


# ---------------------------------------------------------------------------
# Linkage QUALITY eval: pairwise precision/recall curve on a held-out truth
# ---------------------------------------------------------------------------


@query("serve_fs_match_curve")
def serve_fs_match_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage-QUALITY operating curve on a HELD-OUT truth — the eval
    Splink calls the match-weight threshold chart: pairwise
    precision/recall/F1 at every distinct match weight, where the
    weight uses only the name-token agreement fields (EM-fitted
    m̂/û from the shared serve_fs_em_fit memo) and the truth label
    (p_type equality) is excluded from the score — so the curve
    measures genuine predictive transfer, not self-agreement.
    Completes the ER family: sim_blocking_eval grades the blocking
    key, serve_fs_em_fit the parameter estimation, serve_fs_em_scores
    the scoring, and this query the resulting match QUALITY.

    Scale (the FS pattern-compression discipline): blocked pairs
    collapse to ≤2^F·2 (pattern × truth) rows in ONE corpus exchange;
    every operating point is a cumulative sum over the ≤4 distinct
    weights — the curve costs one aggregate regardless of corpus
    size. All ratios are integer-count divisions rounded to 9."""
    from pyspark.sql.window import Window as W

    fit = {r["field"]: r for r in serve_fs_em_fit(spark, sf_dir).collect()}
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.coalesce("p_type", F.lit("")).alias("f_type"),
        F.split(F.coalesce("p_name", F.lit("")), " ")
        .getItem(0)
        .alias("f_tok1"),
        F.coalesce(
            F.split(F.coalesce("p_name", F.lit("")), " ").getItem(1),
            F.lit(""),
        ).alias("f_tok2"),
    )
    a, b = p.alias("a"), p.alias("b")
    pat = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            (F.col("a.f_tok1") == F.col("b.f_tok1")).cast("int").alias("g2"),
            (F.col("a.f_tok2") == F.col("b.f_tok2")).cast("int").alias("g3"),
            (F.col("a.f_type") == F.col("b.f_type")).cast("int").alias(
                "truth"
            ),
        )
        .groupBy("g2", "g3", "truth")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = None
    for j, f_ in ((2, "f_tok1"), (3, "f_tok2")):
        m, u = fit[f_]["m"], fit[f_]["u"]
        term = F.when(
            F.col(f"g{j}") == 1, F.log(F.lit(m) / F.lit(u))
        ).otherwise(F.log(F.lit(1.0 - m) / F.lit(1.0 - u))).cast(
            "decimal(38,18)"
        )
        w = term if w is None else w + term
    wt = (
        pat.withColumn("weight", w.cast("double"))
        .groupBy("weight")
        .agg(
            F.sum(F.when(F.col("truth") == 1, F.col("n")).otherwise(0))
            .alias("pos"),
            F.sum("n").alias("tot"),
        )
    )
    wcum = (
        W.orderBy(F.desc("weight"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy()
    cum = wt.select(
        "weight",
        F.sum("pos").over(wcum).alias("tp"),
        F.sum("tot").over(wcum).alias("n_pred"),
        F.sum("pos").over(wall).alias("all_pos"),
    )
    return cum.select(
        F.round("weight", 9).alias("weight"),
        F.col("n_pred").cast("long").alias("n_pred"),
        F.col("tp").cast("long").alias("tp"),
        F.round(F.col("tp") * 1.0 / F.col("n_pred"), 9).alias("precision"),
        F.when(F.col("all_pos") == 0, 0.0)
        .otherwise(F.round(F.col("tp") * 1.0 / F.col("all_pos"), 9))
        .alias("recall"),
        F.round(2.0 * F.col("tp") / (F.col("n_pred") + F.col("all_pos")), 9)
        .alias("f1"),
    ).orderBy(F.desc("weight"))
