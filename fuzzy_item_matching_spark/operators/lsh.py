"""Bucketed random-projection LSH — engine-native approxSimilarityJoin.

The reference's V2/J4 (`02_Build Training Pairs.py:62-69, 92-106`;
`03_Train & Deploy Model.py:506-538`) uses
``BucketedRandomProjectionLSH(bucketLength, numHashTables)``:
hash_i(v) = floor(dot(v, g_i) / bucketLength) for seeded unit gaussian
vectors g_i; two rows are candidates iff they collide in ≥1 table, and
the join keeps candidates with true distance ≤ threshold.

This module is the same algorithm as explicit DataFrame ops:
hyperplanes are tiny seeded constants folded into the plan (a few KB —
a driver-side literal, broadcast with the task binary), bucketing is
one folded numpy pass per Arrow batch, and candidates meet in a shuffle
on (table_idx, bucket). Recall < 1
by construction; precision = 1 after the exact distance filter.
Correctness contract (SURVEY §7.3): LSH pairs ⊆ exact pairs, recall
reported vs `exact_sqdist_join` — never hash-equality.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.functions.vector import dot
from fuzzy_item_matching_spark.operators.placement import fits_driver


def _folded_sqdist_block(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs Σ (aᵢ-bᵢ)² for blocks a (na×d), b (nb×d) → (na×nb),
    accumulated DIMENSION BY DIMENSION: each output lane performs the
    identical left-to-right IEEE add sequence as the engine's
    fold-based ``squared_dist`` (and DuckDB's list_sum), so blockwise
    numpy scoring stays BITWISE equal to the SQL oracle — np.sum's
    pairwise summation would not be."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    d = np.empty_like(acc)
    for i in range(a.shape[1]):
        np.subtract(a[:, i, None], b[None, :, i], out=d)
        d *= d
        acc += d
    return acc


def _folded_dot_block(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs Σ aᵢ·bᵢ with the same fold-order guarantee as
    ``_folded_sqdist_block``."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for i in range(a.shape[1]):
        acc += a[:, i, None] * b[None, :, i]
    return acc


def _folded_dot_block_diag(a: np.ndarray) -> np.ndarray:
    """Per-row Σ xᵢ² with the same fold order (the l2_norm prefix)."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):
        acc += a[:, i] * a[:, i]
    return acc


def _cosine_block(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(dots, cosines) of all pairs a × b: the folded dot over the
    product of the folded norms (Σ x² then sqrt, the l2_norm fold), 0
    where a norm is 0 — bitwise equal to the expression cosine."""
    dots = _folded_dot_block(a, b)
    denom = np.outer(
        np.sqrt(_folded_dot_block_diag(a)), np.sqrt(_folded_dot_block_diag(b))
    )
    return dots, np.divide(dots, denom, out=np.zeros_like(dots), where=denom != 0.0)


def _run_starts(key_cols: list[np.ndarray]) -> np.ndarray:
    """Positions past row 0 where a new key run begins in rows sorted
    by the key columns ``key_cols`` (NaN keys form one run)."""
    change = np.zeros(max(len(key_cols[0]) - 1, 0), dtype=bool)
    for kv in key_cols:
        same = kv[1:] == kv[:-1]
        if kv.dtype.kind == "f":
            same |= np.isnan(kv[1:]) & np.isnan(kv[:-1])
        change |= ~same
    return np.flatnonzero(change) + 1


def _run_blocks(
    key_cols: list[np.ndarray], side: np.ndarray, self_mode: bool, cap: int | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(start, a_end, b_start, b_end) of every run that scores, in rows
    sorted by (*keys, side, id) with key columns ``key_cols`` and sides
    ``side``: its left rows are [start, a_end) and its right rows after
    the cap [b_start, b_end); in self mode both are the whole run."""
    if not len(side):
        return tuple(np.zeros(0, dtype=np.int64) for _ in range(4))
    starts = np.r_[0, _run_starts(key_cols)]
    ends = np.r_[starts[1:], len(side)]
    if self_mode:
        a_end, b_start = ends, starts
    else:
        # left rows sort first; the right rows follow by ascending id
        a_end = b_start = starts + np.add.reduceat((side == 0).astype(np.int64), starts)
    b_end = ends if cap is None else np.minimum(ends, b_start + cap)
    live = (a_end > starts) & (b_end > b_start)
    if self_mode:
        live &= ends - starts > 1
    return tuple(x[live] for x in (starts, a_end, b_start, b_end))


def _score_whole_runs(
    key_cols: list[np.ndarray],
    blocks: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
    row: np.ndarray,
    ids: np.ndarray,
    v: np.ndarray,
    scorer,
) -> list[np.ndarray] | None:
    """The scorer's output columns over the ``_run_blocks`` ``blocks``
    of sorted rows, or None when no run scores. Sorted row j has key
    ``key_cols[·][j]`` and id and vector ``ids[row[j]]``,
    ``v[row[j]]``, so several sorted rows (one per hash table) can
    share one stored vector."""
    starts, a_end, b_start, b_end = blocks
    run_keys = zip(*(kv[starts] for kv in key_cols))
    outs = []
    for key, s, ae, bs, be in zip(run_keys, starts, a_end, b_start, b_end):
        a, b = row[s:ae], row[bs:be]
        outs.append(scorer(key, ids[a], v[a], ids[b], v[b]))
    if not outs:
        return None
    return [np.concatenate([o[j] for o in outs]) for j in range(len(outs[0]))]


def _sorted_run_pairs(
    rows: DataFrame,
    keys: tuple[str, ...],
    scorer,
    schema: T.StructType,
    self_mode: bool,
    cap: int | None = None,
) -> DataFrame:
    """Score every co-keyed block of ``rows`` in one sorted pass — the
    candidate step of every blocked pair operator (LSH buckets, IVF
    cells, label blocks).

    ``rows`` carry ``(*keys, __side, __id, __v)``: ``__side`` 0 is the
    query (left) side, 1 the index (right) side, ``__v`` an
    array<double>. Plan: ``repartition(*keys)`` →
    ``sortWithinPartitions(*keys, __side, __id)``, so each key is one
    contiguous run with the left rows first and each side in ascending
    id order → ONE ``mapInPandas`` that walks the runs across Arrow
    batches, carrying only the unfinished last run into the next
    batch. Per run it calls ``scorer(key, ids_a, v_a, ids_b, v_b)``,
    which returns the output columns (arrays, in ``schema`` order):
    left × right in pair mode (runs missing a side are skipped), the
    run against itself in self mode (one-row runs are skipped).
    ``cap`` keeps only the first ``cap`` index-side rows of a run —
    the lowest ids, a deterministic posting-list truncation.

    The run walker (``_score_whole_runs``) is plain numpy over sorted
    arrays, so ``lsh_sqdist_join``'s driver placement calls the same
    walker on rows it sorted itself, without this plan.

    Why one sorted pass instead of one grouped pandas call per key:
    where blocks are small and numerous, a pandas call per key cost
    several times its arithmetic — ``lsh_sqdist_join`` on perfbench's
    stream batch (a 200-item arrival batch against a 2,500-row stored
    table, ~2,300 (table, bucket) keys; local[2] on a 4-vCPU VM) went
    from 4.0 s to 1.3 s with the same output. The other five operators
    were timed on the bench.py queries that reach them
    (``docs/scaling/block_scorer_ab.json``): the LSH top-k forms got
    faster, the IVF forms' few large cells about even, and the ten
    large label blocks of ``blocked_pair_stats`` ~35 ms slower per
    query than one grouped call each. The cap falls out of the sort
    order instead of a ``row_number`` window. Each row is shuffled
    once. Memory per task is one run plus one Arrow batch: a run must
    fit one task. Each Python task also costs a fixed ~0.2 s of worker
    CPU whatever its size (PySpark 4.1 on Python 3.11: the worker's
    per-task ``importlib.invalidate_caches()`` alone is ~0.1 s)."""
    names = schema.fieldNames()
    for k in keys:
        dtype = rows.schema[k].dataType
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            # one block per value as an equi-join compares them: -0.0 = 0.0
            # and NaN = NaN, whereas the hash partitioner sees the bits
            c = F.col(k)
            rows = rows.withColumn(
                k,
                F.when(F.isnan(c), float("nan"))
                .when(c == 0, 0.0)
                .otherwise(c)
                .cast(dtype),
            )

    def score_whole_runs(pdf: pd.DataFrame):
        """Output of every run in these sorted rows (all complete)."""
        if pdf.empty:
            return
        key_cols = [pdf[k].to_numpy() for k in keys]
        cols = _score_whole_runs(
            key_cols, _run_blocks(key_cols, pdf["__side"].to_numpy(), self_mode, cap),
            np.arange(len(pdf)), pdf["__id"].to_numpy(), np.stack(pdf["__v"].to_numpy()),
            scorer,
        )
        if cols is not None:
            yield pd.DataFrame(dict(zip(names, cols)))

    def score_runs(batches):
        # a run may go on in the next Arrow batch: each batch's last run
        # is carried over and scored with the next batch's rows
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            edges = _run_starts([pdf[k].to_numpy() for k in keys])
            last = edges[-1] if len(edges) else 0
            yield from score_whole_runs(pdf.iloc[:last])
            carry = pdf.iloc[last:]
        if carry is not None:
            yield from score_whole_runs(carry)

    return (
        rows.repartition(*keys)
        .sortWithinPartitions(*keys, "__side", "__id")
        .mapInPandas(score_runs, schema=schema)
    )


def _cosine_topk(
    rows: DataFrame,
    keys: tuple[str, ...],
    k: int,
    id_type: T.DataType,
    self_mode: bool,
    cap: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """(qid, nid, cosine, rnk): cosine top-k per query id over the
    blocks of ``rows`` (``_sorted_run_pairs``' input and modes).

    Each block keeps every query row's k best index rows by cosine
    (ties to the lower nid), never itself (nor a row sharing its id)
    and never a NaN cosine. The pruning is lossless: any global top-k
    pair is within the top-k of every block holding it (same total
    order). A pair found in several blocks carries the same cosine
    bits in each, so ``distinct`` collapses the repeats before one
    exact row_number window over the survivors. ``dedup=False`` skips
    that aggregate and its exchange where no pair can meet twice (an
    IVF index row lives in one cell)."""

    def score(_key, qids, vq, nids, vn):
        _, cos = _cosine_block(vq, vn)
        cos[qids[:, None] == nids[None, :]] = -np.inf
        order = np.lexsort((np.broadcast_to(nids, cos.shape), -cos))[:, :k]
        best = np.take_along_axis(cos, order, axis=1)
        hit = np.isfinite(best)
        return (
            np.broadcast_to(qids[:, None], order.shape)[hit],
            nids[order[hit]],
            best[hit],
        )

    schema = T.StructType(
        [
            T.StructField("qid", id_type),
            T.StructField("nid", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    cand = _sorted_run_pairs(rows, keys, score, schema, self_mode, cap)
    if dedup:
        cand = cand.distinct()
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cosine", "rnk")
    )


def valid_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Drop NULL / wrong-dimension vectors before an Arrow-batched
    numpy kernel. ``np.stack`` over a batch containing a None or a
    ragged array raises and KILLS THE TASK (and with it the job),
    where the pure-Catalyst expression path would just yield NULL for
    that row; on real (dirty) 100 TB inputs one bad row must cost one
    row, not the query. Rows failing the guard simply produce no
    pairs/neighbors — the same observable outcome as a NULL hash that
    never equi-joins."""
    c = F.col(vec_col)
    return df.filter(c.isNotNull() & (F.size(c) == dim))


def vector_dim(df: DataFrame, vec_col: str, default: int | None = None) -> int:
    """The dimension most non-null vectors of ``vec_col`` have, ties to
    the shorter — one aggregate job. Wherever a ragged row sits, even
    first, ``valid_vectors`` then drops that row alone. With no
    non-null vector: ``default``, or a ValueError when it is None."""
    modal = F.mode(F.size(vec_col), deterministic=True)
    dim = df.filter(F.col(vec_col).isNotNull()).agg(modal).first()[0]
    if dim is None:
        if default is None:
            raise ValueError(f"cannot infer dim: no non-null '{vec_col}' rows")
        return default
    return dim


def _sides(rows: DataFrame, keep: list[str], keys: Column, key: str) -> DataFrame:
    """``_sorted_run_pairs``' input from one explode of each row's
    ``keys`` array: its first element as the index side (1), every
    later one as the query side (0)."""
    return rows.select(
        *keep, F.posexplode(keys).alias("__pos", key), "__id", "__v"
    ).select(
        *keep, key, (F.col("__pos") == 0).cast("byte").alias("__side"), "__id", "__v"
    )


def random_hyperplanes(dim: int, n_tables: int, seed: int = 42) -> list[list[float]]:
    """Seeded unit gaussian projection vectors (one per hash table) —
    the engine-native equivalent of MLlib's seeded randUnitVectors."""
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_tables, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    return [[float(x) for x in p] for p in planes]


def brp_hashes(
    vec: Column | str, planes: list[list[float]], bucket_length: float = 1.0
) -> Column:
    """array of bucket ids, one per hash table:
    floor(dot(v, g_i) / bucketLength)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.array(
        *[
            F.floor(
                dot(v, F.array(*[F.lit(x) for x in plane])) / F.lit(bucket_length)
            ).cast("long")
            for plane in planes
        ]
    )


def sign_bucket_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int,
    bits_per_table: int,
    seed: int,
    dim: int,
    probe_budget: int | None = None,
    max_flip: int = 3,
) -> DataFrame:
    """(__id, __tbl, __bkt, __v) sign-LSH bucket frame via ONE folded
    numpy pass over Arrow batches (the column-expression form is an
    interpreted per-element fold, measured 7-10 s alone at sf0.1).
    Fold order matches the expression/oracle exactly
    (_folded_dot_block). The rows of lsh_cosine_topk's and
    lsh_multiprobe_topk's (table, bucket) blocks, which
    ``_sorted_run_pairs`` scores.

    ``probe_budget=T`` adds a ``__probes`` array<string> column: the
    T neighbor buckets obtained by flipping the perturbation SETS
    (size 1..max_flip) with the smallest total hyperplane margin
    Σ|dot(v, plane)| — ties broken by the subset's bit tuple,
    ascending — i.e. the query-directed probing sequence of Lv et al.
    (VLDB 2007): a bit's flip probability for a true near neighbor
    falls with its margin, so low-margin sets are where missed
    neighbors live. The margins fall out of the same folded dot pass
    that computes the signs, so directing is free at bucketing time.
    The own bucket is NOT in ``__probes``."""
    import itertools

    df = valid_vectors(df, vec_col, dim)  # np.stack dies on NULL/ragged
    planes = random_hyperplanes(dim, n_tables * bits_per_table, seed)
    planes_arr = np.asarray(planes, dtype=np.float64)  # (tables·bits, dim)

    id_type = df.schema[id_col].dataType
    fields = [
        T.StructField("__id", id_type),
        T.StructField("__tbl", T.IntegerType()),
        T.StructField("__bkt", T.StringType()),
        T.StructField("__v", T.ArrayType(T.DoubleType())),
    ]
    if probe_budget is not None:
        fields.append(T.StructField("__probes", T.ArrayType(T.StringType())))
    bucket_schema = T.StructType(fields)
    # lexicographically sorted subsets == the (score, j1, j2, j3)
    # tie-break the SQL oracle replays with NULLS FIRST ranking
    subsets = sorted(
        s
        for r in range(1, max_flip + 1)
        for s in itertools.combinations(range(bits_per_table), r)
    )

    def bucketize(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            acc = np.zeros((len(v), planes_arr.shape[0]), dtype=np.float64)
            for i in range(planes_arr.shape[1]):
                acc += v[:, i, None] * planes_arr[None, :, i]
            chars = np.where(acc >= 0, "1", "0")
            ids = pdf[id_col].to_numpy()
            frames = []
            for t in range(n_tables):
                sl = slice(t * bits_per_table, (t + 1) * bits_per_table)
                bits = chars[:, sl]
                cols = {
                    "__id": ids,
                    "__tbl": t,
                    "__bkt": ["".join(r) for r in bits],
                    "__v": list(v),
                }
                if probe_budget is not None:
                    m = np.abs(acc[:, sl])
                    # left-to-right addition per subset — the exact
                    # fold the oracle's a.m + b.m + c.m replays
                    scores = np.empty((len(v), len(subsets)))
                    for si, s in enumerate(subsets):
                        tot = m[:, s[0]].copy()
                        for j in s[1:]:
                            tot = tot + m[:, j]
                        scores[:, si] = tot
                    # columns are in subset-tuple order, so a stable
                    # argsort realizes the (score, tuple) tie-break
                    order = np.argsort(scores, axis=1, kind="stable")[
                        :, :probe_budget
                    ]
                    probes = []
                    for r in range(len(v)):
                        base = bits[r]
                        row = []
                        for si in order[r]:
                            pl = base.copy()
                            for j in subsets[si]:
                                pl[j] = "1" if pl[j] == "0" else "0"
                            row.append("".join(pl))
                        probes.append(row)
                    cols["__probes"] = probes
                frames.append(pd.DataFrame(cols))
            yield pd.concat(frames)

    return df.select(id_col, vec_col).mapInPandas(
        bucketize, schema=bucket_schema
    )


def lsh_cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_tables: int = 16,
    bits_per_table: int = 4,
    seed: int = 42,
    dim: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k per vector — the ANN scale path
    (brute-force twin: queries/vectors.vec_knn_bruteforce).

    Candidates come from sign-LSH bucket collisions (any table): the
    sorted-run pass (``_cosine_topk``, self mode) scores each bucket
    run against itself with one numpy pass (dimension-ordered
    accumulation + one IEEE division per pair → bitwise equal to the
    fold-based expression and the SQL oracle) and prunes it to k per
    query, losslessly; the multi-table repeats collapse and one window
    ranks the tiny survivor set (≤ k·n_tables per query). Each bucket
    row is shuffled once. Work scales with collision counts (tunable
    via bits_per_table), never n². Recall < 1 by construction; graded
    in tests/ vs brute force.

    ``bucket_cap``: with a FIXED bucket geometry (2^bits buckets per
    table) occupancy grows linearly with the corpus and the per-bucket
    self-score goes quadratic — the ×25 harness measured the
    graph-ANN build at 35.8× for 25× data. The cap is the
    lsh_sqdist_join posting-list truncation applied to self-join
    mode: ONLY the bucket_cap lowest-id rows per (table, bucket) are
    indexable as NEIGHBORS, while every row still queries — per-query
    work bounds at n_tables·bucket_cap regardless of density. The
    returned k best among indexable mates; rows past the cap in an
    overfull bucket are simply not returnable from that bucket (they
    still earn their own out-edges). Compute bounds at occupancy·cap
    per bucket; pair the cap with MORE BITS when run memory, not
    compute, is the binding constraint.
    """
    if dim is None:
        dim = vector_dim(df, vec_col)
    buckets = sign_bucket_frame(
        df, id_col, vec_col, n_tables, bits_per_table, seed, dim
    ).select("__tbl", "__bkt", F.lit(0).cast("byte").alias("__side"), "__id", "__v")
    return _cosine_topk(
        buckets, ("__tbl", "__bkt"), k, df.schema[id_col].dataType,
        self_mode=True, cap=bucket_cap,
    )


def lsh_multiprobe_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_tables: int = 4,
    bits_per_table: int = 6,
    seed: int = 42,
    dim: int | None = None,
    probe_budget: int | None = None,
    max_flip: int = 3,
) -> DataFrame:
    """Multi-probe sign-LSH cosine top-k (Lv et al., VLDB 2007): each
    query probes its OWN bucket plus neighbor buckets in each table,
    so one table does the recall work of ~bits tables. The index
    stays n_tables small (vs lsh_cosine_topk's 16 for similar
    recall): at 100 TB the index frame is the replicated/broadcast
    state, and multiprobe shifts cost from INDEX SIZE (memory, build
    shuffle) to QUERY FAN-OUT (cheap map-side row expansion), which
    is the right trade when queries stream against a resident index.

    ``probe_budget=None`` flips every single bit (bits+1 probes per
    table — the 1-flip baseline): the directed path with
    ``probe_budget=bits_per_table, max_flip=1``.
    ``probe_budget=T`` is Lv et al.'s actual contribution,
    QUERY-DIRECTED probing: rank the perturbation SETS of up to
    ``max_flip`` bits by total hyperplane margin Σ|dot(v, plane)| —
    P[a bit differs for a true neighbor] falls with its margin, so
    low-margin sets carry nearly all the residual recall — and probe
    only the best T. Measured on the sf0.01 embeddings at 2×6 bits:
    T=13 directed probes beat 4-table all-1-flip recall (0.713 vs
    0.679) with HALF the index (2 tables), equal probe rows per query.

    Verification is BLOCKWISE, the lsh_cosine_topk discipline: the
    query side (own bucket plus probes) and the index side (own
    bucket) meet in one sorted-run pass on (table, bucket)
    (``_cosine_topk``, pair mode), each block scored with one
    folded numpy pass (bitwise equal to the fold expression and the
    SQL oracle) and pruned to k per query in-block (lossless).
    Candidates still come only from (table, bucket) collisions;
    never n².
    """
    if dim is None:
        dim = vector_dim(df, vec_col)
    if probe_budget is None:
        probe_budget, max_flip = bits_per_table, 1
    framed = sign_bucket_frame(
        df, id_col, vec_col, n_tables, bits_per_table, seed, dim,
        probe_budget=probe_budget, max_flip=max_flip,
    )
    # one explode per bucket row: its own bucket on the index side, then
    # its own bucket and probes on the query side, so hashing runs once
    buckets = F.concat(F.array("__bkt", "__bkt"), "__probes")
    return _cosine_topk(
        _sides(framed, ["__tbl"], buckets, "__bkt"), ("__tbl", "__bkt"), k,
        df.schema[id_col].dataType, self_mode=False,
    )


_SELF_TILE = 64  # rows per self-mode scoring tile: its 64 × run block stays in cache
# Most squared-difference folds (block cells × dim; self mode counts
# half the cells) the driver placement scores: the measured crossover
# with the distributed plan (see lsh_sqdist_join, "Placement").
_DRIVER_MAX_FOLDS = 200_000_000


def _brp_buckets(v: np.ndarray, planes: np.ndarray, bucket_length: float) -> np.ndarray:
    """(n_tables, n) bucket ids floor(dot(v, g_i) / bucketLength) of
    the rows of ``v``: the n_tables per-row dots as ONE
    dimension-ordered numpy fold (the expression dot's left-to-right
    accumulation exactly); floor(acc/bucket_length) on float64 matches
    Spark's Divide+floor — bit-identical bucket ids to ``brp_hashes``."""
    acc = np.zeros((len(v), len(planes)), dtype=np.float64)
    for i in range(planes.shape[1]):
        acc += v[:, i, None] * planes[None, :, i]
    with np.errstate(invalid="ignore"):
        # a NaN vector gets one arbitrary bucket; its distances are NaN,
        # so it pairs with nothing
        return np.floor(acc / bucket_length).astype(np.int64).T


def _driver_run_pairs(
    rows: DataFrame,
    planes: np.ndarray,
    bucket_length: float,
    scorer,
    schema: T.StructType,
    self_mode: bool,
    cap: int | None,
) -> DataFrame | None:
    """``lsh_sqdist_join``'s bucketing and ``_sorted_run_pairs`` on the
    driver: ONE Arrow collect of the tagged ``(__side, __id, __v)``
    rows, the ``_brp_buckets`` fold, one ``np.lexsort`` in the order
    ``sortWithinPartitions(__tbl, __bkt, __side, __id)`` gives (ids
    ascending with NULLs and NaN first, as the distributed plan sorts
    them), one walk of the runs by ``_score_whole_runs`` → the distinct
    output rows as a local DataFrame. The n_tables bucket rows of a
    vector share its one stored copy. None, before any scoring, when
    the runs hold more than ``_DRIVER_MAX_FOLDS`` of work."""
    spark = rows.sparkSession
    t = rows.toArrow()
    n, n_tables = t.num_rows, len(planes)
    if n == 0:
        return spark.createDataFrame([], schema)
    v = t.column("__v").combine_chunks().flatten().to_numpy(zero_copy_only=False)
    v = v.reshape(n, planes.shape[1])
    side = t.column("__side").to_numpy()
    # the ids as mapInPandas hands them to the scorer, ranked in the
    # distributed sort's order: NULLs first, and NaN with them (Arrow
    # places NaN as it places NULL; on the distributed side the pandas
    # hop turns a NaN id into NULL before Spark sorts, so a NaN id
    # comes out NULL from both placements)
    ids = t.column("__id").to_pandas().to_numpy()
    id_rank = pc.rank(
        t.column("__id"), sort_keys="ascending", null_placement="at_start",
        tiebreaker="dense",
    ).to_numpy()
    bkt = _brp_buckets(v, planes, bucket_length).ravel()
    tbl = np.repeat(np.arange(n_tables, dtype=np.int32), n)
    row = np.tile(np.arange(n), n_tables)
    order = np.lexsort((id_rank[row], side[row], bkt, tbl))
    row = row[order]
    key_cols = [tbl[order], bkt[order]]
    blocks = _run_blocks(key_cols, side[row], self_mode, cap)
    start, a_end, b_start, b_end = blocks
    cells = (a_end - start) * (b_end - b_start)
    if (cells.sum() // (2 if self_mode else 1)) * v.shape[1] > _DRIVER_MAX_FOLDS:
        return None
    cols = _score_whole_runs(key_cols, blocks, row, ids, v, scorer)
    if cols is None:
        return spark.createDataFrame([], schema)
    out = pd.DataFrame(dict(zip(schema.fieldNames(), cols))).drop_duplicates()
    return spark.createDataFrame(out, schema)


def lsh_sqdist_join(
    left: DataFrame,
    right: DataFrame | None,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_tables: int = 10,
    bucket_length: float = 1.0,
    seed: int = 42,
    dim: int | None = None,
    dist_col: str = "sqdist",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Approximate squared-distance join (J4). ``right=None`` → self-join
    dedup mode (unordered pairs, id_a < id_b).

    ``bucket_cap`` (pair mode only): keep at most this many RIGHT-side
    rows per (table, bucket) — the bucket_cap lowest ids, a
    deterministic index truncation. On a densifying corpus the bucket
    join's candidate volume grows with Σ |left_b|·|right_b| — per
    ARRIVING item it grows linearly with corpus density, with no upper
    bound (the ×25 scaling run measured the uncapped serving flow
    going quadratic). A capped index bounds comparisons per arrival at
    n_tables·bucket_cap regardless of corpus size — the posting-list
    truncation every production vector index applies; recall beyond
    the cap requires finer bucket geometry (smaller bucket_length /
    more tables), which is an index-tuning decision, not a join-shape
    one.

    Both sides are tagged with a side byte and unioned into
    ``(__side, __id, __v)`` rows, hashed into (table, bucket) with one
    dimension-ordered numpy fold, and every (table, bucket) run is
    scored, left × right after the cap (self mode: the run against
    itself, id_a < id_b), with one dimension-ordered numpy pass
    (bitwise equal to the fold-based expression and the SQL oracle),
    keeping pairs within the threshold → distinct surviving pairs.
    Why blockwise scoring instead of an ids-only equi-join + vector
    re-join: candidate pairs vastly outnumber surviving pairs, and the
    pair-level distance expression is an interpreted per-element fold.

    Placement. When the tagged rows are a batch plan whose size
    estimate is at most ``spark.sql.autoBroadcastJoinThreshold`` (the
    estimate and threshold Spark's planner broadcasts by; 10 MB by
    default, -1 never), they are collected to the driver with one
    Arrow collect and hashed and sorted there (``_driver_run_pairs``).
    If the runs then hold at most ``_DRIVER_MAX_FOLDS`` of work, the
    same run walker scores them on the driver and a local DataFrame
    comes back. That call is EAGER — the collect runs inside
    ``lsh_sqdist_join`` — and holds about 3× the estimate in driver
    memory (parquet compression plus the float → double cast) plus
    n_tables index arrays of the row count. It skips the distributed
    plan's Python worker tasks, each a fixed ~0.2 s of worker CPU
    whatever its size: a 200-item stream batch against 2,500 stored
    rows ran 5 of them (1.6–1.8 s of a ~4 s op) for ~30 ms of numpy
    each. The work bound exists because the input size does not bound
    the work: it grows with the square of bucket occupancy, and the
    driver scores on one thread. On a 4-vCPU VM (local[4],
    ``docs/scaling/lsh_placement_ab.json``) the driver took ~3.9 ns
    per fold and the distributed plan ~1.3 ns plus ~0.6 s more fixed
    wall time, so they crossed near 250M folds (the 2,000-row sf0.1
    self join is 640M); more cores move the crossover down towards
    ~170M. Otherwise (larger, streaming or heavier
    inputs) the plan is lazy: ONE ``mapInPandas`` hashes the tagged
    rows into (side, id, table, bucket, vector) rows and
    ``_sorted_run_pairs`` on (table, bucket) scores them. A bucket run
    must fit one task (bucket_length controls occupancy) — shrink
    bucket_length or add tables for skew. Both placements return the
    same rows.
    """
    if dim is None:
        dim = vector_dim(left, vec_col)
    planes_arr = np.asarray(random_hyperplanes(dim, n_tables, seed), dtype=np.float64)
    self_mode = right is None
    cap = None if self_mode else bucket_cap

    def tagged(df: DataFrame, side: int) -> DataFrame:
        df = valid_vectors(df, vec_col, dim)  # np.stack dies on NULL/ragged
        return df.select(
            F.lit(side).cast("byte").alias("__side"),
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )

    rows = tagged(left, 0)
    if not self_mode:
        rows = rows.unionByName(tagged(right, 1))
    out_schema = T.StructType(
        [
            T.StructField("id_a", left.schema[id_col].dataType),
            T.StructField("id_b", left.schema[id_col].dataType),
            T.StructField(dist_col, T.DoubleType()),
        ]
    )

    def score(_key, ids_a, v_a, ids_b, v_b):
        if not self_mode:
            d2 = _folded_sqdist_block(v_a, v_b)
            ia, ib = np.nonzero(d2 <= threshold)
            return ids_a[ia], ids_b[ib], d2[ia, ib]
        # the run against itself in ascending id order: only columns from
        # a row on can have id_a < id_b, so each tile of _SELF_TILE rows
        # is scored against those (half the block; a tile stays in cache)
        out = []
        for r in range(0, len(ids_a), _SELF_TILE):
            d2 = _folded_sqdist_block(v_a[r : r + _SELF_TILE], v_b[r:])
            hit = (d2 <= threshold) & (ids_a[r : r + _SELF_TILE, None] < ids_b[None, r:])
            ia, ib = np.nonzero(hit)
            out.append((ids_a[r + ia], ids_b[r + ib], d2[ia, ib]))
        return tuple(np.concatenate(c) for c in zip(*out))

    if fits_driver(rows):
        out = _driver_run_pairs(
            rows, planes_arr, bucket_length, score, out_schema, self_mode, cap
        )
        if out is not None:
            return out

    bucket_schema = T.StructType(
        [
            T.StructField("__side", T.ByteType()),
            T.StructField("__id", rows.schema["__id"].dataType),
            T.StructField("__tbl", T.IntegerType()),
            T.StructField("__bkt", T.LongType()),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
        ]
    )

    def bucketize(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["__v"].to_numpy())
            yield pd.DataFrame(
                {
                    "__side": np.tile(pdf["__side"].to_numpy(), n_tables),
                    "__id": np.tile(pdf["__id"].to_numpy(), n_tables),
                    "__tbl": np.repeat(np.arange(n_tables, dtype=np.int32), len(v)),
                    "__bkt": _brp_buckets(v, planes_arr, bucket_length).ravel(),
                    "__v": list(v) * n_tables,
                }
            )

    buckets = rows.mapInPandas(bucketize, schema=bucket_schema)
    pairs = _sorted_run_pairs(
        buckets, ("__tbl", "__bkt"), score, out_schema, self_mode, cap
    )
    # a pair colliding in several tables is scored per table with an
    # identical distance → distinct collapses the duplicates
    return pairs.distinct()
