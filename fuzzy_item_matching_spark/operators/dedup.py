"""Deduplication operators for large-scale corpus curation.

The reference's markdown names MinHashLSH as the alternate LSH family
(`02_Build Training Pairs.py:58`); these operators build the full
training-data dedup surface a 100 TB pipeline needs (extension per
SURVEY §4.3): exact, n-gram Jaccard, MinHash-banded, SimHash.

Scale stance shared by all of them: candidates come from an
inverted-index / banding equi-join — NEVER an all-pairs comparison.
Every shuffle key is a shingle, band hash, or id; skew from common
shingles is bounded by dropping ubiquitous shingles (max_df) the same
way sparse_tfidf prunes high-df terms.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from fuzzy_item_matching_spark.functions.text import hex_long


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array (set semantics —
    Jaccard is defined over shingle SETS)."""
    grams = F.when(F.size(tokens) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - n),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
        )
    )
    return F.array_distinct(grams)


def _jaccard_postings_join(doc_sh: DataFrame, min_jaccard: float) -> DataFrame:
    """Postings self-join core of n-gram Jaccard over a per-doc
    (__id, __sig) shingle-array frame: explode with the set size
    attached (free from the array — no separate sizes aggregate or
    post-join) → equi-join on shingle → LENGTH FILTER → intersection
    counts → threshold. Integer arithmetic until the final division.

    Length filter (r14, guide §2.3 — shuffle/aggregate fewer rows):
    jaccard ≤ min(n_a,n_b)/max(n_a,n_b) because |A∩B| ≤ min. The pair
    is dropped only when fl(min/max) < t, which is exactly the jaccard
    the final filter would compute at the maximal possible
    intersection i = min (min/(n_a+n_b−min) = min/max); for smaller i
    the real quotient shrinks and fl is monotone, so every dropped
    pair fails the final filter — the surviving set is identical.
    Disparate-size pairs leave the plan BEFORE the (id_a, id_b)
    aggregation instead of after the division."""
    sh = doc_sh.select(
        "__id",
        F.size("__sig").alias("__n"),
        F.explode("__sig").alias("__g"),
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "__g")
    b = sh.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "__g")
    inter = (
        a.join(b, "__g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("__na", "__nb").cast("double")
                / F.greatest("__na", "__nb")
                >= F.lit(min_jaccard)
            )
        )
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: Column | str,
    n: int = 3,
    min_jaccard: float = 0.5,
    collapse_ratio: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via inverted index.

    jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|), computed relationally:
    explode distinct shingles → self-equi-join on shingle (only pairs
    sharing ≥1 shingle materialize) → count = intersection → join
    per-doc set sizes → filter. Integer arithmetic until the final
    division, so the result is exactly oracle-checkable.

    Duplicate collapse (r11 ask #7, the cosine-join discipline —
    operators/collapse.py): Jaccard is a pure function of the two
    SORTED SHINGLE SETS, so documents with identical sets group before
    the postings join (g² pair shuffle, not n²); intra-group pairs are
    Jaccard 1.0 by definition (nonempty sets), cross-group matches
    expand map-side through the doc→group map. The adaptive gate (one
    aggregate: distinct sets vs docs ≤ ``collapse_ratio``) keeps
    diverse corpora on the plain join. Output identical either way —
    pinned on both corpus shapes in tests/test_round12_ops.py.
    """
    from fuzzy_item_matching_spark.operators.collapse import (
        expand_group_pairs,
        group_map,
        signature_gate,
    )

    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    # Bind the token expression to an attribute BEFORE shingling: an
    # expression referenced inside word_shingles' transform lambda is
    # re-evaluated per output gram (tokenizers go O(L²) per doc).
    # CollapseProject won't re-inline a multi-referenced non-cheap alias.
    doc_sh = df.select(
        F.col(id_col).alias("__id"), toks.alias("__toks")
    ).select(
        "__id",
        F.array_sort(word_shingles(F.col("__toks"), n)).alias("__sig"),
    ).persist()  # feeds the gate, the group map, and the postings
    n_docs, n_groups, collapse = signature_gate(doc_sh, collapse_ratio)
    if not collapse:
        # doc_sh STAYS persisted: the postings feed both join sides
        # (callers clearCache per query).
        return _jaccard_postings_join(doc_sh, min_jaccard)
    groups, doc_gid = group_map(doc_sh)
    doc_gid = doc_gid.persist()
    rep_pairs = _jaccard_postings_join(
        groups.select(F.col("__gid").alias("__id"), "__sig"), min_jaccard
    )
    # Intra-group pairs: identical nonempty shingle sets ⇒ Jaccard
    # exactly 1.0 (n/(2n−n), exact in IEEE). Empty-set docs emit no
    # postings in the plain join, so they must not self-pair either.
    self_groups = groups.filter(F.size("__sig") > 0).select(
        "__gid", F.lit(1.0).alias("jaccard")
    )
    return expand_group_pairs(doc_gid, rep_pairs, ["jaccard"], self_groups)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: Column | str,
    n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.5,
    delta_ids: Callable[[Column], Column] | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, Jaccard-verified.

    Classic shingle→minhash→band→bucket-join: signatures are split into
    ``bands`` bands of ``n_hashes/bands`` rows; docs colliding on any
    full band become candidates (P[collide] = 1-(1-j^r)^b); candidates
    are then verified with the EXACT Jaccard (a shingle equi-join over
    the candidate pairs). Output ⊆ ngram_jaccard_pairs(min_jaccard)
    with recall driven by (b, r).

    Scale shape: explode is ``bands``× ids only; the candidate join key
    is (band_idx, band_key); signature arrays never cross a shuffle.

    The hash family is md5-derived and the band keys are plain strings,
    so the whole query is exactly DuckDB-oracle-checkable at the cost
    of one crypto hash per shingle: h_i(s) = h1(s) + i·h2(s)
    (Kirsch–Mitzenmacher double hashing), where h1/h2 are the
    first/second 8 hex chars of md5(s) as unsigned 32-bit ints —
    h_i < 2^32·n_hashes, far from BIGINT overflow, and reproducible in
    SQL as CAST('0x'||substr(md5(s),N,8) AS BIGINT).

    ``delta_ids`` (an id-column predicate) switches to INCREMENTAL
    mode — the production ingest shape: one candidate side is
    restricted to the delta batch, so the band join costs
    |delta|×bucket-occupancy and corpus×corpus pairs are never
    re-derived. Pairs are canonically ordered (id_a < id_b) and cover
    delta×corpus plus delta×delta; output ⊆ the full-run pairs
    restricted to pairs touching the delta (pinned in
    tests/test_dedup.py).
    """
    assert n_hashes % bands == 0, "bands must divide n_hashes"
    rows_per_band = n_hashes // bands
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col

    # Single persisted POSTINGS frame (id, shingle) feeds both the
    # signature aggregate and the pair verification — never
    # materializing per-doc shingle arrays (the array persist +
    # re-explode + array_intersect form measured ~25% slower).
    # Explode + 32 min-aggregates instead of a per-row array fold:
    # the md5 per shingle stays inside whole-stage codegen
    # (higher-order functions are interpreted — measured 3× slower)
    # and the groupBy is map-side-combined to one row per doc.
    # md5 bound once per shingle (unbound it would hash twice for
    # h1/h2, +45%); hex_long (ascii arithmetic) over conv: same
    # values, 2.2× faster.
    sh = df.select(
        F.col(id_col).alias("__id"), toks.alias("__toks")
    ).select(
        "__id", F.explode(word_shingles(F.col("__toks"), n)).alias("__g")
    ).persist()
    hs = sh.select(
        "__id", F.md5(F.col("__g").cast("binary")).alias("__m")
    ).select(
        "__id",
        hex_long("__m", 1).alias("__h1"),
        hex_long("__m", 9).alias("__h2"),
    )
    # r14 (guide §2.3/§2.4): the per-doc set size rides the SAME
    # aggregate as the signature mins (postings are distinct per
    # doc, so COUNT(*) = |set|) and is carried through the band
    # explode — the separate sizes aggregate over the postings
    # frame and its two post-verification joins are gone, and the
    # size ratio prunes candidate pairs BEFORE the distinct and
    # the verification join (exact-safe: jaccard ≤ min/max, see
    # the prefilter note below).
    sig = hs.groupBy("__id").agg(
        *[
            F.min(F.col("__h1") + i * F.col("__h2")).alias(f"__s{i}")
            for i in range(n_hashes)
        ],
        F.count(F.lit(1)).alias("__n"),
    ).select(
        "__id",
        "__n",
        F.array(*[f"__s{i}" for i in range(n_hashes)]).alias("__sig"),
    )

    def band_key(b: int) -> Column:
        # join on the values themselves ('|'-joined, exactly
        # reproducible in SQL)
        cols = [
            F.element_at("__sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        return F.concat_ws("|", *[c.cast("string") for c in cols])

    banded = sig.select(
        "__id",
        "__n",
        F.posexplode(F.array(*[band_key(b) for b in range(bands)])).alias(
            "__band", "__bhash"
        ),
    ).persist()  # n_hashes hash folds per row; both candidate
    # self-join sides reference this frame
    # Size-ratio prefilter (r14, guide §2.3 — the ngram_jaccard_pairs
    # argument verbatim): |A∩B| ≤ min(na,nb), so the real jaccard is
    # ≤ min/max; integer-valued doubles divide correctly rounded and
    # fl is monotone in the real quotient, hence fl(min/max) <
    # threshold implies the final computed jaccard fails the final
    # filter too — dropped pairs are exactly pairs the verification
    # would drop. Applied BEFORE the pair distinct so the distinct
    # exchange and the verification join never see hopeless pairs.
    ratio_ok = (
        F.least(F.col("__na"), F.col("__nb")).cast("double")
        / F.greatest(F.col("__na"), F.col("__nb"))
        >= F.lit(min_jaccard)
    )
    if delta_ids is None:
        cand = (
            banded.alias("x")
            .join(banded.alias("y"), ["__band", "__bhash"])
            .filter(F.col("x.__id") < F.col("y.__id"))
            .select(
                F.col("x.__id").alias("id_a"),
                F.col("y.__id").alias("id_b"),
                F.col("x.__n").alias("__na"),
                F.col("y.__n").alias("__nb"),
            )
            .filter(ratio_ok)
            .distinct()
        )
    else:
        # Incremental: only delta rows drive the probe side (an id
        # predicate → a pushed filter on the banded frame, no extra
        # join); the full corpus remains the build side. least/greatest
        # + distinct canonicalize delta×delta pairs found from both
        # directions.
        lt = F.col("x.__id") < F.col("y.__id")
        cand = (
            banded.filter(delta_ids(F.col("__id"))).alias("x")
            .join(banded.alias("y"), ["__band", "__bhash"])
            .filter(F.col("x.__id") != F.col("y.__id"))
            .select(
                F.least(F.col("x.__id"), F.col("y.__id")).alias("id_a"),
                F.greatest(F.col("x.__id"), F.col("y.__id")).alias("id_b"),
                F.when(lt, F.col("x.__n")).otherwise(F.col("y.__n")).alias(
                    "__na"
                ),
                F.when(lt, F.col("y.__n")).otherwise(F.col("x.__n")).alias(
                    "__nb"
                ),
            )
            .filter(ratio_ok)
            .distinct()
        )
    # Verify candidates relationally from the SAME postings frame:
    # per-pair intersection = equi-join on the shingle restricted
    # to candidate ids (shingles are distinct per doc, so COUNT =
    # |A∩B|). Pairs sharing no shingle drop out of the inner join —
    # their jaccard is 0, below any threshold. Set sizes arrived
    # WITH the candidate pair (carried through the band explode),
    # so the former per-doc sizes aggregate and its two post-
    # aggregation joins are gone (r14).
    pa = cand.join(
        sh.select(F.col("__id").alias("id_a"), "__g"), "id_a"
    )
    inter = (
        pa.join(sh.select(F.col("__id").alias("id_b"), "__g"), ["id_b", "__g"])
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("__i").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
        .select("id_a", "id_b", "jaccard")
    )


def simhash_bits(tokens: Column) -> Column:
    """64-bit SimHash of a token bag, as a 64-char '0'/'1' string —
    a near-dup fingerprint where hamming distance tracks cosine
    similarity of the term vectors.

    Per token: xxhash64 rendered as a two's-complement bit string
    (``bin``), each bit contributing +1/-1; one fold over tokens with a
    64-wide accumulator; sign of each sum sets the output bit. All
    row-local JVM expressions — no shuffle, no UDF. (String form
    because Spark's shift/bitwise builtins take literal shift amounts
    only; chunked int views are derived with ``conv``.)
    """
    acc = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0).cast("long"), 64),
        # One xxhash64+bin+split per TOKEN, then a cheap per-char map —
        # indexing the bits with element_at(j) instead would rebuild the
        # hash expression per bit (64× the work; measured 20× slower).
        lambda a, t: F.zip_with(
            a,
            F.transform(
                F.slice(F.split(F.lpad(F.bin(F.xxhash64(t)), 64, "0"), ""), 1, 64),
                lambda ch: F.when(ch == "1", F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long"),
            ),
            lambda x, y: x + y,
        ),
    )
    return F.array_join(
        F.transform(acc, lambda s: F.when(s > 0, F.lit("1")).otherwise(F.lit("0"))),
        "",
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: Column | str,
    max_hamming: int = 3,
    band_bits: int = 16,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit fingerprint into
    64/band_bits chunks; by pigeonhole, any pair within hamming
    distance (64/band_bits - 1) shares ≥1 exact chunk — candidates
    come from a chunk equi-join, verified with per-chunk
    bit_count(xor).

    ``portable=True`` derives the 64 bits from md5 (two 32-bit halves)
    instead of xxhash64 — bit-identical across engines, so the whole
    pipeline is exactly SQL-replicable (the ``minhash_lsh_pairs`` trade;
    xxhash64 stays the hot path).

    Zero-token docs: BOTH paths (portable and fast) exclude docs whose
    token bag is empty — the explode produces no rows for them, so
    they emit no fingerprint and join into no pairs. This is
    deliberate: an empty doc has no content to be "near" anything, and
    the alternative (the ``simhash_bits`` fold form, which gives every
    empty doc the all-zero fingerprint) silently declares ALL empty
    docs mutual duplicates at hamming 0 — at corpus scale that one
    degenerate bucket is both wrong and a skew bomb. Exact empty-doc
    dedup belongs to ``dedup_exact`` (content hash), not near-dup.
    """
    n_bands = 64 // band_bits
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    # Same bits as ``simhash_bits`` but as explode + 64 codegen'd sign
    # aggregates (shiftright/when on one materialized hash per token)
    # instead of a per-row 64-wide interpreted fold — the same
    # explode-agg trade as the portable MinHash signature. bin(h)[j]
    # == (h >> (63-j)) & 1, arithmetic shift included (bit 63 is the
    # sign). Docs with zero tokens drop here (no content to match);
    # the fold form gives them an all-zero fingerprint instead.
    ex = df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__tok"))
    if portable:
        # md5 bound once per token; two non-negative 32-bit halves, so
        # logical and arithmetic shifts agree on every bit.
        tok_h = ex.select(
            "__id", F.md5(F.col("__tok").cast("binary")).alias("__m")
        ).select(
            "__id",
            hex_long("__m", 1).alias("__hh"),
            hex_long("__m", 9).alias("__hl"),
        )

        def bit(j: int) -> Column:
            col, off = ("__hh", 31 - j) if j < 32 else ("__hl", 63 - j)
            return F.shiftright(col, off).bitwiseAND(F.lit(1))

    else:
        tok_h = ex.select("__id", F.xxhash64("__tok").alias("__h"))
        bit = lambda j: F.shiftright("__h", 63 - j).bitwiseAND(F.lit(1))  # noqa: E731
    sums = tok_h.groupBy("__id").agg(
        *[
            F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"__b{j}")
            for j in range(64)
        ]
    )
    sig = sums.select(
        "__id",
        F.concat(
            *[
                F.when(F.col(f"__b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for j in range(64)
            ]
        ).alias("__bits"),
    )
    sig = sig.select(
        "__id",
        F.array(
            *[
                F.conv(F.substring("__bits", 1 + b * band_bits, band_bits), 2, 10)
                .cast("int")
                .alias(f"c{b}")
                for b in range(n_bands)
            ]
        ).alias("__chunks"),
    )
    # Duplicate collapse (r11 ask #7): the banded candidate join's
    # buckets are (band, chunk) classes — on a duplicate-heavy corpus
    # the duplicate classes ARE the biggest buckets and the candidate
    # shuffle goes quadratic in class size. Hamming is a pure function
    # of the two FINGERPRINTS, so docs with identical fingerprints
    # (already computed, one row per doc) group before the join;
    # intra-group pairs are Hamming 0 by definition. Same adaptive
    # gate + map-side expansion as ngram_jaccard_pairs
    # (operators/collapse.py); equality on both corpus shapes pinned
    # in tests/test_round12_ops.py.
    from fuzzy_item_matching_spark.operators.collapse import (
        expand_group_pairs,
        group_map,
        signature_gate,
    )

    def banded_pairs(fp: DataFrame) -> DataFrame:
        banded = fp.select(
            "__id",
            "__chunks",
            F.posexplode("__chunks").alias("__band", "__chunk"),
        ).persist()  # the 64-wide simhash fold runs once, not per side
        hamming = F.aggregate(
            F.zip_with(
                F.col("x.__chunks"),
                F.col("y.__chunks"),
                lambda cx, cy: F.bit_count(cx.bitwiseXOR(cy)),
            ),
            F.lit(0),
            lambda a, x: a + x,
        )
        return (
            banded.alias("x")
            .join(banded.alias("y"), ["__band", "__chunk"])
            .filter(F.col("x.__id") < F.col("y.__id"))
            .select(
                F.col("x.__id").alias("id_a"),
                F.col("y.__id").alias("id_b"),
                hamming.alias("hamming"),
            )
            # r14 (guide §2.3): hamming is pair-local and cheap (4
            # bit_count XORs), so the threshold runs BEFORE the pair
            # distinct — the distinct exchange carries only surviving
            # pairs instead of every multi-band collision. Same set:
            # a pair's hamming is identical on every banded copy.
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )

    doc_fp = sig.select("__id", F.col("__chunks").alias("__sig")).persist()
    n_docs, n_groups, collapse = signature_gate(doc_fp)
    if not collapse:
        return banded_pairs(
            doc_fp.select("__id", F.col("__sig").alias("__chunks"))
        )
    groups, doc_gid = group_map(doc_fp)
    doc_gid = doc_gid.persist()
    rep_fp = groups.select(
        F.col("__gid").alias("__id"), F.col("__sig").alias("__chunks")
    )
    rep_pairs = banded_pairs(rep_fp)
    self_groups = groups.select("__gid", F.lit(0).alias("hamming"))
    return expand_group_pairs(doc_gid, rep_pairs, ["hamming"], self_groups)


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Connected components of an undirected pair graph → one row per
    node ``(node, component)`` with ``component`` = the minimum node id
    in its component. This is the full-transitive-closure form of
    canonical assignment (``dedup_canonical_map`` is the one-hop
    compromise): a chain a~b~c~d all collapses to a.

    ONE Spark action: an Arrow ``toPandas`` of the two id columns.
    The ids are mapped to dense indices with ``np.unique`` (sorted, so
    the smallest index is the smallest id), then a union-find with
    path halving links every union to the SMALLER root. Each root is
    therefore its component's minimum id whatever the graph's
    diameter — there is no round cap, so labels are never returned
    unconverged. The labels come back as a local DataFrame.

    Output equals the fixpoint of min-label propagation (every node
    takes the smallest label among itself and its neighbours) for
    every input, with the widened id type of ``src``/``dst`` for both
    columns. Rules:

    - a self-loop ``(7, 7)`` yields ``(7, 7)``;
    - an edge with one NULL end keeps its non-NULL end as a node (its
      own component unless another edge joins it); ``(NULL, NULL)``
      edges contribute nothing and no NULL node is emitted;
    - nodes absent from the edge list are absent from the output.

    Driver memory is O(|E|): the edge ids are collected once. The
    collect is bounded by ``spark.driver.maxResultSize``, which fails
    the action with a clear error rather than running the driver out
    of memory.
    """
    import numpy as np
    import pandas as pd

    node = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .schema["node"]
    )
    schema = StructType(
        [node, StructField("component", node.dataType, node.nullable)]
    )
    # a NULL end collapses to a self-loop on the other end; NULL-NULL
    # edges drop, so no NULL reaches pandas (int ids stay int64)
    pdf = (
        edges.select(
            F.coalesce(src, dst).alias("a"), F.coalesce(dst, src).alias("b")
        )
        .filter(F.col("a").isNotNull())
        .toPandas()
    )
    ids, idx = np.unique(
        np.concatenate([pdf["a"].to_numpy(), pdf["b"].to_numpy()]),
        return_inverse=True,
    )
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_edges = len(pdf)
    for u, v in zip(idx[:n_edges].tolist(), idx[n_edges:].tolist()):
        ru, rv = find(u), find(v)
        if ru < rv:
            parent[rv] = ru
        elif rv < ru:
            parent[ru] = rv
    roots = [find(x) for x in range(len(ids))]
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"node": ids, "component": ids[roots]}), schema
    )


def cdc_chunk_ledger(
    df: DataFrame,
    id_col: str,
    tokens: Column,
    mod: int = 16,
    min_toks: int = 5,
) -> DataFrame:
    """Content-defined chunking shared-chunk ledger (the query core of
    dedup_cdc_chunks; see that docstring for the full scale story).
    A token OPENS a new chunk when md5(token) mod ``mod`` = 0, so
    boundaries are a pure function of local content and chunk
    fingerprints re-synchronize after insertions/deletions — the
    property the fixed-window chunker (dedup_chunk_lines) lacks.
    Returns chunks of ≥ ``min_toks`` tokens appearing in ≥ 2 distinct
    ids: (chunk_hash, tok_len, n_docs, n_occ, keeper_doc)."""
    from pyspark.sql.window import Window

    from fuzzy_item_matching_spark.functions.text import md5_bucket

    tok = df.select(
        F.col(id_col).alias("__id"), F.posexplode(tokens).alias("pos", "tok")
    ).withColumn("flag", (md5_bucket("tok", mod) == 0).cast("int"))
    wseg = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = tok.select(
        "__id", "pos", "tok", F.sum("flag").over(wseg).alias("sid")
    )
    chunks = seg.groupBy("__id", "sid").agg(
        F.count(F.lit(1)).alias("tok_len"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("chunk"),
    )
    return (
        chunks.filter(F.col("tok_len") >= min_toks)
        .groupBy("chunk")
        .agg(
            F.min("tok_len").cast("int").alias("tok_len"),
            F.countDistinct("__id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
            F.min("__id").alias("keeper_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.md5(F.col("chunk").cast("binary")).alias("chunk_hash"),
            "tok_len",
            "n_docs",
            "n_occ",
            "keeper_doc",
        )
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "txt",
    k: int = 7,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every char ``k``-gram, then
    in every window of ``w`` consecutive hashes select the minimum
    (ties broken by leftmost position, via the hash*2^30+pos integer
    encoding — one total order, no min_by portability hazards; the
    32-bit hash times 2^30 tops out at 2^62 < BIGINT, and position
    stays in its own bits for documents up to 2^30 ≈ 1.07e9 chars —
    longer texts should be chunked upstream). Returns
    the DISTINCT (id, h) selected-fingerprint set.

    The winnowing guarantee: every gap of w consecutive positions
    contributes >=1 selected fingerprint (so any shared substring of
    length >= k + w - 1 between two documents yields a shared SELECTED
    fingerprint), while expected density is only 2/(w+1) of all k-grams
    — position-robust local dedup at a fraction of the index size.
    Contrast ts_fingerprint (whole-document hashes: byte-exact dedup
    only) and minhash_lsh_pairs (set-similarity: order-insensitive).

    Plan shape (r14, guide §2.4 + §4.2 — remove shuffles outright,
    hand whole batches to a vectorized native engine): the whole
    selection is a per-document computation, so it runs as ONE
    map-only ``mapInArrow`` stage whose per-batch kernel is embedded
    DuckDB executing ``winnowing_sql`` — the operator's own SQL
    definition — over the Arrow batch (no document ever spans a
    batch: one row per doc). The r13 form paid an explode + a per-doc
    window (Exchange + sort on id) + a global distinct (second
    Exchange); a pure-JVM array-HOF form removes the exchanges but
    interprets md5 per position (measured 4.2 s vs 3.3 s old vs 1.35 s
    kernel at sf0.1, identical output). Zero exchanges: at 100 TB the
    fingerprint pass fuses into the scan. Per-batch DISTINCT is the
    global distinct because ids are unique per row. A pure-JVM
    array-expression twin in tests/test_round14_opt.py is the
    oracle-INDEPENDENT implementation the kernel is pinned against (the
    kernel and the DuckDB oracle would otherwise share one code path).
    """
    import pyarrow as pa  # noqa: F401 — worker-side dependency

    id_type = docs.schema[id_col].dataType.simpleString()
    sql = winnowing_sql(
        f"SELECT {id_col}, {text_col} FROM b", id_col, text_col, k, w
    )

    def gen(batches):
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        # one executor thread per task — 32 tasks × a per-connection
        # thread pool would oversubscribe the host
        con.execute("SET threads=1")
        for b in batches:
            con.register("b", pa.Table.from_batches([b]))
            out = con.execute(sql).fetch_arrow_table()
            for ob in out.to_batches():
                yield ob

    return docs.select(id_col, text_col).mapInArrow(
        gen, f"{id_col} {id_type}, h long"
    )


def winnowing_sql(
    source_sql: str,
    id_col: str = "doc_id",
    text_col: str = "txt",
    k: int = 7,
    w: int = 4,
) -> str:
    """DuckDB twin of :func:`winnowing_fingerprints` — same k-gram
    enumeration, the same md5-derived hash, the same hash*2^20+pos
    window minimum. Yields (id, h)."""
    return f"""
    SELECT DISTINCT {id_col}, m // 1073741824 AS h FROM (
      SELECT {id_col}, p,
             MIN(key) OVER (PARTITION BY {id_col} ORDER BY p
                            ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS m
      FROM (
        SELECT {id_col}, p,
               CAST('0x' || substr(md5(substr({text_col}, CAST(p AS INT), {k})), 1, 8)
                 AS BIGINT) * 1073741824 + p AS key
        FROM (
          SELECT {id_col}, {text_col},
                 unnest(generate_series(1, length({text_col}) - {k - 1})) AS p
          FROM ({source_sql}) WHERE length({text_col}) >= {k}
        )
      )
    ) WHERE p >= {w}
    """
