"""The benchmark's two workloads, driven through the engine's public
functions.

Each workload has a ``generate`` (inputs from the seed, written as
parquet), a ``prepare`` (state over those inputs) and an ``op`` (one
timed operation). An op returns its result as pandas frames; ``check``
then verifies it outside the timed region and ``quality`` scores it
against the generator's golden map.

The same op code serves untraced and traced runs. With tracing on,
every call into an engine layer runs inside a span and its output is
forced (persist + count), so span times are per-layer costs; with
tracing off the plan stays lazy, as a user would run it.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.ml import PipelineModel
from pyspark.ml.feature import SQLTransformer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.functions.vector import squared_dist
from fuzzy_item_matching_spark.operators.boosting import GB_ETA, gboost_fit
from fuzzy_item_matching_spark.operators.dedup import connected_components
from fuzzy_item_matching_spark.operators.lsh import (
    brp_hashes,
    lsh_sqdist_join,
    random_hyperplanes,
)
from fuzzy_item_matching_spark.operators.merge import merge_upsert
from fuzzy_item_matching_spark.operators.registry import PRODUCTION, ModelRegistry
from fuzzy_item_matching_spark.operators.similarity import (
    featurize_text,
    fuzzy_match_pairs,
    sparse_cosine_join,
)
from fuzzy_item_matching_spark.tables import load_table

from perfbench import gen
from perfbench.trace import Tracer

MIN_SIM = 0.7  # name cosine threshold
MAX_DF_RATIO = 0.5  # featurize_text default
LSH_THRESHOLD = 1.5  # squared distance
LSH_TABLES = 10  # the reference's numHashTables
LSH_BUCKET = 1.0  # the reference's bucketLength
BUCKET_CAP = 256  # stream: stored rows indexed per (table, bucket)
QUALITY_BATCHES = 2  # stream batches scored for recall and precision
EMB_FEATS = ["full_sqd", "head_sqd", "tail_sqd", "price_dr"]
BATCH_FEATS = ["cosine", *EMB_FEATS]


@dataclass(frozen=True)
class Sizes:
    batch_left: int = 800
    stream_stored: int = 2500
    stream_batch: int = 200
    stream_batches: int = 40


class CheckFailed(Exception):
    """An op's output broke one of the benchmark's invariants."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# ---------------------------------------------------------------- helpers


def timed_call(tr, name: str, batch, fn):
    """Run the lazy layer call ``fn`` inside span ``name``; in a traced
    run also force its output. Records ``plan_s`` (the lazy call) and
    ``rows`` (the forced count) on the span."""
    with tr.span(name, batch) as s:
        t0 = time.perf_counter()
        df = fn()
        plan = time.perf_counter() - t0
        df, n = tr.force(df)
        if s is not None:
            s.counts.update(plan_s=plan, rows=n)
    return df


def emb_features(pairs: DataFrame, a: DataFrame, b: DataFrame) -> DataFrame:
    """Squared-distance features over the embedding (whole, first and
    second half) plus the absolute log price ratio, per pair."""
    sl = lambda c, lo, n: F.slice(F.col(c), lo, n)  # noqa: E731
    a = a.select(F.col("id").alias("id_a"), F.col("emb").alias("__ea"),
                 F.col("price").alias("__pa"))
    b = b.select(F.col("id").alias("id_b"), F.col("emb").alias("__eb"),
                 F.col("price").alias("__pb"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("full_sqd", squared_dist("__ea", "__eb"))
        .withColumn("head_sqd", squared_dist(sl("__ea", 1, 32), sl("__eb", 1, 32)))
        .withColumn("tail_sqd", squared_dist(sl("__ea", 33, 32), sl("__eb", 33, 32)))
        .withColumn("price_dr", F.abs(F.log(F.col("__pa") / F.col("__pb"))))
        .drop("__ea", "__eb", "__pa", "__pb")
    )


def model_artifact(rows) -> PipelineModel:
    """The fitted trees as an MLWritable scorer: score = sum of
    eta * leaf weight, as literal CASE terms."""
    terms = [
        f"(CAST({GB_ETA!r} AS DOUBLE) * (CASE"
        f" WHEN {r['feature']} <= CAST({r['thr']!r} AS DOUBLE)"
        f" THEN CAST({r['w_le']!r} AS DOUBLE)"
        f" ELSE CAST({r['w_gt']!r} AS DOUBLE) END))"
        for r in rows
    ]
    stmt = "SELECT *, " + " + ".join(terms) + " AS score FROM __THIS__"
    return PipelineModel(stages=[SQLTransformer(statement=stmt)])


def fit_and_register(tr, batch, labeled: DataFrame, feats: list[str],
                     reg: ModelRegistry, name: str) -> float:
    """Fit, register and promote to Production; returns the seconds
    spent registering."""
    with tr.span("boosting", batch):
        rows = sorted(gboost_fit(labeled, feats).collect(),
                      key=lambda r: r["round"])
    with tr.span("registry.register", batch):
        t0 = time.perf_counter()
        reg.promote(name, reg.register(name, model_artifact(rows)), PRODUCTION)
        return time.perf_counter() - t0


def lsh_bucket_pairs(a: DataFrame, b: DataFrame, seed: int,
                     cap: int | None = None) -> int:
    """Sum over (table, bucket) of |A|*|B|, from ``brp_hashes`` with the
    join's own hyperplanes; B is truncated to ``cap`` rows per bucket
    like the capped join."""
    planes = random_hyperplanes(gen.DIM, LSH_TABLES, seed)

    def sizes(df):
        h = df.select(F.posexplode(brp_hashes(
            F.col("emb").cast("array<double>"), planes, LSH_BUCKET)))
        return h.groupBy("pos", "col").count()

    sa, sb = sizes(a), sizes(b)
    if cap is not None:
        sb = sb.withColumn("count", F.least("count", F.lit(cap)))
    j = sa.join(sb.withColumnRenamed("count", "nb"), ["pos", "col"])
    return int(j.agg(F.sum(F.col("count") * F.col("nb"))).first()[0] or 0)


def postings_partials(feats: DataFrame, side_col: str) -> int:
    """Sum over terms of df_L(t)*df_R(t): the pair partials the postings
    join produces."""
    d = feats.groupBy("term").agg(
        F.sum(F.when(F.col(side_col) == "L", 1).otherwise(0)).alias("l"),
        F.sum(F.when(F.col(side_col) == "R", 1).otherwise(0)).alias("r"),
    )
    return int(d.agg(F.sum(F.col("l") * F.col("r"))).first()[0] or 0)


def name_candidates(tr, batch, left: DataFrame, right: DataFrame) -> DataFrame:
    """Name-similarity pairs (id_a, id_b, cosine). Untraced: one
    ``fuzzy_match_pairs`` call. Traced: its two layers as separate
    spans -- ``featurize_text`` then the postings join it would run."""
    if not tr.enabled:
        return fuzzy_match_pairs(left, right, "id", "name", min_sim=MIN_SIM,
                                 max_df_ratio=MAX_DF_RATIO)
    tagged = left.select(F.lit("L").alias("__side"), "id", "name").unionByName(
        right.select(F.lit("R").alias("__side"), "id", "name"))
    feats = timed_call(tr, "features", batch, lambda: featurize_text(
        tagged, ["__side", "id"], "name", max_df_ratio=MAX_DF_RATIO))
    with tr.span("counters", batch) as s:
        s.counts["postings_partials"] = postings_partials(feats, "__side")
    a = feats.filter(F.col("__side") == "L").withColumnRenamed("id", "id_a")
    b = feats.filter(F.col("__side") == "R").withColumnRenamed("id", "id_b")
    return timed_call(tr, "similarity", batch, lambda: sparse_cosine_join(
        a, b, "id_a", "id_b", min_sim=MIN_SIM))


def exact_sqdist(ea: np.ndarray, eb: np.ndarray) -> np.ndarray:
    """Row-wise squared distance with the engine's fold order (float32
    inputs widened to double, summed dimension by dimension)."""
    acc = np.zeros(len(ea))
    a, b = ea.astype(np.float64), eb.astype(np.float64)
    for i in range(a.shape[1]):
        d = a[:, i] - b[:, i]
        acc += d * d
    return acc


def check_lsh_pairs(pairs: pd.DataFrame, emb_a, emb_b, dist_col: str) -> None:
    """LSH pairs are a subset of the exact-threshold pairs: each
    reported distance is the true distance, and within the threshold.
    ``emb_a``/``emb_b`` map ids to embedding rows."""
    if pairs.empty:
        return
    true = exact_sqdist(emb_a(pairs["id_a"].to_numpy()), emb_b(pairs["id_b"].to_numpy()))
    got = pairs[dist_col].to_numpy()
    require(bool(np.all(true <= LSH_THRESHOLD)), "LSH pair beyond the threshold")
    require(bool(np.allclose(got, true, rtol=1e-9, atol=1e-12)),
            "LSH distance differs from the exact distance")


def check_scores(scores: pd.Series) -> None:
    v = scores.to_numpy(dtype=float)
    require(bool(np.all(np.isfinite(v))), "null or non-finite score")


class EmbeddingIndex:
    """id -> embedding row, for the benchmark's own exact checks."""

    def __init__(self):
        self._ids = np.zeros(0, np.int64)
        self._emb = np.zeros((0, gen.DIM), np.float32)

    def add(self, path: str) -> None:
        t = pq.read_table(path, columns=["id", "emb"])
        ids = t.column("id").to_numpy()
        emb = np.stack(t.column("emb").to_numpy(zero_copy_only=False)).astype(np.float32)
        self._ids = np.concatenate([self._ids, ids])
        self._emb = np.concatenate([self._emb, emb])
        order = np.argsort(self._ids, kind="stable")
        # later rows win on duplicate ids (updates)
        self._ids, self._emb = self._ids[order], self._emb[order]
        last = np.r_[self._ids[1:] != self._ids[:-1], True]
        self._ids, self._emb = self._ids[last], self._emb[last]

    def __call__(self, ids: np.ndarray) -> np.ndarray:
        pos = np.searchsorted(self._ids, ids)
        require(bool(np.all(self._ids[np.minimum(pos, len(self._ids) - 1)] == ids)),
                "pair id not in the inputs")
        return self._emb[pos]


# -------------------------------------------------------------- workloads


class Workload:
    name = ""
    items_per_op = 0

    def __init__(self, spark, seed: int, work: str, sizes: Sizes):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.batch = 0
        self.dir = os.path.join(work, "inputs")
        # distinct name-pair sets seen by ``check``: every batch op reads
        # the same inputs, so a second set means the traced path no
        # longer computes what ``fuzzy_match_pairs`` does
        self.name_pair_sets: set[frozenset] = set()

    def generate(self) -> None:
        """Generate the inputs from the seed and write them as parquet."""
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time state over the inputs: checking indexes, and for the
        stream its stored table and Production model."""
        raise NotImplementedError

    def warmup(self, tr) -> None:
        """One untimed op on the real inputs: JIT, codegen and Python
        workers warm up; its output is still checked."""
        self.check(self.op(tr))
        self.reset_quality()

    def reset_quality(self) -> None:
        raise NotImplementedError

    def op(self, tr) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> None:
        raise NotImplementedError

    def quality(self) -> tuple[float, float]:
        raise NotImplementedError



class ResolveBatch(Workload):
    """Resolve two catalogs: name pairs + embedding pairs -> label ->
    boosted model -> registry -> score every candidate -> connected
    components of the predicted matches (one entity per component)."""

    name = "resolve_batch"

    def generate(self) -> None:
        shape = gen.batch_inputs(self.seed, self.sizes.batch_left, self.dir)
        self.items_per_op = shape["left"] + shape["right"]

    def prepare(self) -> None:
        g = pq.read_table(os.path.join(self.dir, "golden.parquet")).to_pandas()
        self.golden = set(zip(g["id_a"], g["id_b"]))
        self.emb = EmbeddingIndex()
        for side in ("left", "right"):
            self.emb.add(os.path.join(self.dir, f"{side}.parquet"))
        self.registry = ModelRegistry(os.path.join(self.dir, "registry"))
        self.reset_quality()

    def reset_quality(self) -> None:
        self.tp = self.fp = self.fn = 0

    def op(self, tr) -> dict:
        spark, b = self.spark, self.batch
        self.batch += 1
        left = timed_call(tr, "tables", b, lambda: load_table(spark, self.dir, "left"))
        right = timed_call(tr, "tables", b, lambda: load_table(spark, self.dir, "right"))
        text = name_candidates(tr, b, left, right)
        lsh = timed_call(tr, "lsh", b, lambda: lsh_sqdist_join(
            left, right, "id", "emb", threshold=LSH_THRESHOLD, n_tables=LSH_TABLES,
            bucket_length=LSH_BUCKET, seed=self.seed, dim=gen.DIM))
        if tr.enabled:
            with tr.span("counters", b) as s:
                s.counts["bucket_pairs"] = lsh_bucket_pairs(left, right, self.seed)
        golden = load_table(spark, self.dir, "golden").withColumn("label", F.lit(1))

        def label():
            cands = text.join(lsh.withColumn("in_lsh", F.lit(True)),
                              ["id_a", "id_b"], "full_outer")
            return (
                emb_features(cands, left, right)
                .join(golden, ["id_a", "id_b"], "left")
                .select("id_a", "id_b", "sqdist",
                        F.coalesce("in_lsh", F.lit(False)).alias("in_lsh"),
                        F.coalesce("cosine", F.lit(0.0)).alias("cosine"),
                        *EMB_FEATS,
                        F.coalesce("label", F.lit(0)).alias("label"))
            )

        # the fit makes several passes and scoring one more: persist,
        # as the engine's own fit-and-serve flow does
        labeled = timed_call(tr, "label", b, label)
        if not tr.enabled:
            labeled = labeled.persist()
        fit_and_register(tr, b, labeled, BATCH_FEATS, self.registry, "batch_model")
        with tr.span("registry.load", b):
            model = self.registry.load("batch_model", stage=PRODUCTION)
        scored = timed_call(tr, "score", b, lambda: model.transform(labeled))
        matches = scored.filter(F.col("score") > 0).select("id_a", "id_b")
        comp = timed_call(tr, "components", b, lambda: connected_components(matches))
        out = {"scored": scored.select("id_a", "id_b", "in_lsh", "sqdist", "cosine",
                                       "score").toPandas(),
               "components": comp.toPandas()}
        self.spark.catalog.clearCache()
        return out

    def check(self, out: dict) -> None:
        s = out["scored"]
        require(len(s) > 0, "no candidates")
        check_scores(s["score"])
        lsh = s[s["in_lsh"]]
        check_lsh_pairs(lsh, self.emb, self.emb, "sqdist")
        text = s[s["cosine"] > 0]
        cos = text["cosine"].to_numpy()
        require(bool(np.all((cos >= MIN_SIM) & (cos <= 1 + 1e-9))), "cosine out of range")
        self.name_pair_sets.add(frozenset(zip(text["id_a"], text["id_b"])))
        pred = set(zip(s.loc[s["score"] > 0, "id_a"], s.loc[s["score"] > 0, "id_b"]))
        # components partition the matched items: each once, labelled
        # with the component's smallest id, both ends of a match together
        comp = out["components"]
        require(comp["node"].is_unique, "item in more than one component")
        require(set(comp["node"]) == {i for p in pred for i in p},
                "components do not cover the matched items")
        mins = comp.groupby("component")["node"].min()
        require(bool((mins.index == mins.to_numpy()).all()), "component label is not its min id")
        entity = dict(zip(comp["node"], comp["component"]))
        require(all(entity[a] == entity[b] for a, b in pred), "match split across components")
        tp = len(pred & self.golden)
        self.tp += tp
        self.fp += len(pred) - tp
        self.fn += len(self.golden) - tp

    def quality(self) -> tuple[float, float]:
        return self.tp / max(1, self.tp + self.fn), self.tp / max(1, self.tp + self.fp)


class ResolveStream(Workload):
    """Incremental job per arrival batch: load the Production model ->
    MERGE arrivals into the stored table and write it back -> LSH
    arrivals vs stored -> features -> score -> top-1 per arrival."""

    name = "resolve_stream"

    def generate(self) -> None:
        sz = self.sizes
        gen.stream_inputs(self.seed, sz.stream_stored, sz.stream_batches,
                          sz.stream_batch, self.dir)
        self.items_per_op = sz.stream_batch

    def prepare(self) -> None:
        sz, spark = self.sizes, self.spark
        self.state = os.path.join(self.dir, "state")
        stored = load_table(spark, self.dir, "stored")
        stored.write.mode("overwrite").parquet(os.path.join(self.state, "v0"))
        self.version = 0
        self.registry = ModelRegistry(os.path.join(self.dir, "registry"))
        train = load_table(spark, self.dir, "train")
        pairs = lsh_sqdist_join(
            train, stored, "id", "emb", threshold=LSH_THRESHOLD, n_tables=LSH_TABLES,
            bucket_length=LSH_BUCKET, seed=self.seed, dim=gen.DIM,
            bucket_cap=BUCKET_CAP).select("id_a", "id_b")
        labeled = emb_features(pairs, train, stored).withColumn(
            "label", (F.col("id_a") - 2_000_000 == F.col("id_b")).cast("int")
        ).persist()
        # registration happens once, here; the traced run reports it
        self.register_s = fit_and_register(Tracer(spark, self.name, False), None, labeled,
                                           EMB_FEATS, self.registry, "stream_model")
        labeled.unpersist()
        g = pq.read_table(os.path.join(self.dir, "golden.parquet")).to_pandas()
        self.arrivals = {b: grp for b, grp in g.groupby("batch")}
        self.entity = dict(zip(range(sz.stream_stored), range(sz.stream_stored)))
        self.per_entity = np.ones(sz.stream_stored + sz.stream_batches * sz.stream_batch,
                                  dtype=np.int64)
        self.per_entity[sz.stream_stored:] = 0
        self.emb = EmbeddingIndex()
        self.emb.add(os.path.join(self.dir, "stored.parquet"))
        self.rows = sz.stream_stored
        self.reset_quality()

    def warmup(self, tr) -> None:
        # batch 0 is scored for quality like every other early batch;
        # every run times at least one more (batch 1)
        self.check(self.op(tr))

    def reset_quality(self) -> None:
        self.hits = self.with_golden = self.predicted = 0

    @property
    def exhausted(self) -> bool:
        return self.batch >= self.sizes.stream_batches

    def op(self, tr) -> dict:
        spark, b = self.spark, self.batch
        self.batch += 1
        arr_dir = os.path.join(self.dir, "arrivals")
        with tr.span("registry.load", b):
            model = self.registry.load("stream_model", stage=PRODUCTION)
        arrivals = timed_call(tr, "tables", b, lambda: load_table(spark, arr_dir, f"b{b:04d}"))
        stored = timed_call(tr, "tables", b, lambda: spark.read.parquet(
            os.path.join(self.state, f"v{self.version}")))
        nxt = os.path.join(self.state, f"v{self.version + 1}")
        with tr.span("merge", b) as s:
            merge_upsert(stored, arrivals, ["id"]).write.mode("overwrite").parquet(nxt)
        lsh = timed_call(tr, "lsh", b, lambda: lsh_sqdist_join(
            arrivals, stored, "id", "emb", threshold=LSH_THRESHOLD, n_tables=LSH_TABLES,
            bucket_length=LSH_BUCKET, seed=self.seed, dim=gen.DIM,
            bucket_cap=BUCKET_CAP).filter(F.col("id_a") != F.col("id_b")))
        if tr.enabled:
            with tr.span("counters", b) as c:
                c.counts["bucket_pairs"] = lsh_bucket_pairs(arrivals, stored, self.seed,
                                                            BUCKET_CAP)
                written = [f for f in os.listdir(nxt) if f.endswith(".parquet")]
                s.counts.update(
                    rows_in=arrivals.count(), rows_written=spark.read.parquet(nxt).count(),
                    bytes_written=sum(os.path.getsize(os.path.join(nxt, f)) for f in written))
        feats = timed_call(tr, "label", b, lambda: emb_features(
            lsh.select("id_a", "id_b", "sqdist"), arrivals, stored))
        scored = timed_call(tr, "score", b, lambda: model.transform(feats))
        w = Window.partitionBy("id_a").orderBy(F.desc("score"), F.asc("id_b"))
        top = (scored.filter(F.col("score") > 0)
               .withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
               .select("id_a", "id_b", "sqdist", "score").toPandas())
        self.spark.catalog.clearCache()
        return {"top": top, "batch": b, "path": nxt}

    def check(self, out: dict) -> None:
        b, top = out["batch"], out["top"]
        arr = self.arrivals[b]
        new_ids = arr.loc[arr["kind"] != 2, "id"].to_numpy()
        merged = self.spark.read.parquet(out["path"]).count()
        require(merged == self.rows + len(new_ids), "merged rows != previous + inserts")
        check_scores(top["score"])
        require(top["id_a"].is_unique, "more than one top-1 per arrival")
        check_lsh_pairs(top, self._arrival_emb(b), self.emb, "sqdist")
        # quality over the first QUALITY_BATCHES batches only, so that
        # it does not depend on how many batches a run gets through:
        # entity of the top-1 vs the arrival's own entity
        ent = dict(zip(arr["id"], arr["entity"]))
        pred = dict(zip(top["id_a"], top["id_b"]))
        if b < QUALITY_BATCHES:
            for aid, e in ent.items():
                own = 1 if aid in self.entity else 0  # an update sees its old row
                if self.per_entity[e] - own > 0:
                    self.with_golden += 1
                    if aid in pred and self.entity.get(pred[aid]) == e:
                        self.hits += 1
            self.predicted += len(pred)
        # advance the stored state to the merged table
        for aid, e in ent.items():
            if aid not in self.entity:
                self.entity[aid] = e
                self.per_entity[e] += 1
        self.emb.add(os.path.join(self.dir, "arrivals", f"b{b:04d}.parquet"))
        self.rows = merged
        old = os.path.join(self.state, f"v{self.version}")
        self.version += 1
        shutil.rmtree(old, ignore_errors=True)

    def _arrival_emb(self, b: int) -> EmbeddingIndex:
        idx = EmbeddingIndex()
        idx.add(os.path.join(self.dir, "arrivals", f"b{b:04d}.parquet"))
        return idx

    def quality(self) -> tuple[float, float]:
        # precision over every predicted top-1; hits are correct ones
        return self.hits / max(1, self.with_golden), self.hits / max(1, self.predicted)


WORKLOADS = {w.name: w for w in (ResolveBatch, ResolveStream)}
