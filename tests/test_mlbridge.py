"""ml.Pipeline ↔ array-native parity checks (SURVEY §7.2 stage 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuzzy_item_matching_spark.functions.text import regex_tokenize, remove_stopwords
from fuzzy_item_matching_spark.operators.mlbridge import fit_name_pipeline
from fuzzy_item_matching_spark.tables import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def part(spark):
    return load_table(spark, SF_SMOKE, "part").select("p_partkey", "p_name").cache()


def test_ml_tokenizer_matches_array_native(spark, part):
    from pyspark.ml.feature import RegexTokenizer, StopWordsRemover

    tok = RegexTokenizer(
        inputCol="p_name", outputCol="words", pattern=r"[^\w\d]", minTokenLength=1
    )
    stop = StopWordsRemover(inputCol="words", outputCol="kept")
    ml_out = stop.transform(tok.transform(part)).select("p_partkey", "kept")
    native = part.select(
        "p_partkey", remove_stopwords(regex_tokenize("p_name")).alias("kept")
    )
    diff = (
        ml_out.withColumnRenamed("kept", "ml_kept")
        .join(native, "p_partkey")
        .filter(F.col("ml_kept") != F.col("kept"))
        .count()
    )
    assert diff == 0, "ml.feature token/stopword stages diverge from array kernels"


def test_name_pipeline_unit_norms(spark, part):
    from pyspark.ml.functions import vector_to_array

    from fuzzy_item_matching_spark.functions.vector import l2_norm

    model = fit_name_pipeline(part, "p_partkey", "p_name")
    out = model.transform(part).select(
        "p_partkey", vector_to_array("features").alias("feat")
    )
    stats = out.select(
        F.min(F.round(l2_norm("feat"), 6)).alias("lo"),
        F.max(F.round(l2_norm("feat"), 6)).alias("hi"),
    ).first()
    assert stats.lo == pytest.approx(1.0, abs=1e-5)
    assert stats.hi == pytest.approx(1.0, abs=1e-5)


def test_pipeline_persist_reload(spark, part, tmp_path_factory):
    """M8 artifact persistence (`01_Feature Engineering.py:516-531`,
    reload `03_Train & Deploy Model.py:357-429`): fitted PipelineModel
    saved, reloaded, and applied with identical output."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.functions import vector_to_array

    model = fit_name_pipeline(part, "p_partkey", "p_name")
    path = "/root/repo/.scratch/name_pipeline_model"
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)

    def norms(m):
        return {
            r.p_partkey: r.f
            for r in m.transform(part)
            .select("p_partkey", vector_to_array("features").alias("f"))
            .collect()
        }

    assert norms(model) == norms(reloaded)


def test_model_registry_version_promote_load(spark, part, tmp_path_factory):
    """M7 registry parity (`03_Train & Deploy Model.py:324-343`):
    register two versions, archive-then-promote, load by stage."""
    from fuzzy_item_matching_spark.operators.registry import (
        ARCHIVED,
        PRODUCTION,
        ModelRegistry,
    )

    reg = ModelRegistry(str(tmp_path_factory.mktemp("registry")))
    m1 = fit_name_pipeline(part, "p_partkey", "p_name")
    m2 = fit_name_pipeline(part, "p_partkey", "p_name", num_features=1024)
    assert reg.register("name_matcher", m1) == 1
    assert reg.register("name_matcher", m2) == 2

    reg.promote("name_matcher", 1)
    assert reg.resolve("name_matcher", stage=PRODUCTION) == 1
    # archive-then-promote: v2 takes Production, v1 is archived
    reg.promote("name_matcher", 2)
    assert reg.resolve("name_matcher", stage=PRODUCTION) == 2
    stages = {m["version"]: m["stage"] for m in reg.versions("name_matcher")}
    assert stages == {1: ARCHIVED, 2: PRODUCTION}

    served = reg.load("name_matcher", stage=PRODUCTION)
    got = served.transform(part).select("p_partkey", "features").first()
    assert got["features"].size == 1024  # it's v2, not v1

    with pytest.raises(ValueError):
        reg.load("name_matcher", version=3)
    with pytest.raises(ValueError):
        reg.resolve("name_matcher", stage="Staging")


def test_model_registry_load_memoized_until_promote(spark, tmp_path):
    """Loads are memoized, yet a promote to a new version serves the
    new model at once, and a version re-registered over a wiped root
    (same model path, rewritten meta) is loaded afresh."""
    import shutil

    from pyspark.ml import Pipeline
    from pyspark.ml.feature import SQLTransformer

    from fuzzy_item_matching_spark.operators.registry import (
        PRODUCTION,
        ModelRegistry,
    )

    df = spark.range(1)

    def const(k: int):
        stmt = f"SELECT {k} AS k FROM __THIS__"
        return Pipeline(stages=[SQLTransformer(statement=stmt)]).fit(df)

    def served(reg):
        return reg.load("m", stage=PRODUCTION).transform(df).first()["k"]

    root = str(tmp_path / "registry")
    reg = ModelRegistry(root)
    reg.register("m", const(1))
    reg.register("m", const(2))
    reg.promote("m", 1)
    assert served(reg) == 1
    first = reg.load("m", stage=PRODUCTION)
    assert reg.load("m", stage=PRODUCTION) is first
    reg.promote("m", 2)
    assert served(reg) == 2

    shutil.rmtree(root)
    assert reg.register("m", const(3)) == 1  # v1's path, new model
    reg.promote("m", 1)
    assert served(reg) == 3


def _const_model(spark, k: int):
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import SQLTransformer

    stmt = f"SELECT {k} AS k FROM __THIS__"
    return Pipeline(stages=[SQLTransformer(statement=stmt)]).fit(spark.range(1))


def test_model_registry_promote_survives_failed_meta_write(
    spark, tmp_path, monkeypatch
):
    """A promote whose second meta write dies half-way (the file open,
    nothing written) leaves every meta readable and the stage still
    resolvable: the new holder is written first, and a meta is only
    ever replaced whole."""
    from fuzzy_item_matching_spark.operators import registry as registry_mod
    from fuzzy_item_matching_spark.operators.registry import (
        PRODUCTION,
        ModelRegistry,
    )

    reg = ModelRegistry(str(tmp_path / "registry"))
    reg.register("m", _const_model(spark, 1))
    reg.register("m", _const_model(spark, 2))
    reg.promote("m", 1)

    real_dump = registry_mod.json.dump
    calls = []

    def dump(obj, fh):
        calls.append(obj["version"])
        if len(calls) == 2:
            raise OSError("disk full")
        real_dump(obj, fh)

    monkeypatch.setattr(registry_mod.json, "dump", dump)
    with pytest.raises(OSError):
        reg.promote("m", 2)
    monkeypatch.undo()

    assert len(calls) == 2
    assert [m["version"] for m in reg.versions("m")] == [1, 2]
    assert reg.resolve("m", stage=PRODUCTION) == 2
    served = reg.load("m", stage=PRODUCTION).transform(spark.range(1))
    assert served.first()["k"] == 2


def test_model_registry_concurrent_register(spark, tmp_path):
    """Two registries on one root that register at the same moment (both
    read the same version list first) get distinct versions, and both
    metas are readable."""
    import threading

    from fuzzy_item_matching_spark.operators.registry import ModelRegistry

    root = str(tmp_path / "registry")
    barrier = threading.Barrier(2)

    class Racing(ModelRegistry):
        def versions(self, name):
            seen = super().versions(name)
            barrier.wait(timeout=60)
            return seen

    models = [_const_model(spark, 1), _const_model(spark, 2)]
    got: dict[int, int] = {}

    def register(i):
        got[i] = Racing(root).register("m", models[i])

    threads = [threading.Thread(target=register, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert sorted(got.values()) == [1, 2]
    reg = ModelRegistry(root)
    assert [m["version"] for m in reg.versions("m")] == [1, 2]
    for i, v in got.items():
        served = reg.load("m", version=v).transform(spark.range(1)).first()
        assert served["k"] == i + 1


def test_logreg_gd_fit_properties(spark):
    """M7 fit (engine-native GD): trace shape, finite weights, and
    ranking power — the fitted score must order pairs at least as well
    as chance, and the class-weighted fit must move every coefficient
    off its zero init."""
    from fuzzy_item_matching_spark.queries.training import (
        _LR_ITERS,
        _lr_pairs,
        train_logreg_gd,
    )

    trace = train_logreg_gd(spark, SF_SMOKE).collect()
    assert len(trace) == _LR_ITERS * 4
    assert all(abs(r.weight) < 1e6 for r in trace)
    final = {r.coef: r.weight for r in trace if r.iter == _LR_ITERS}
    assert set(final) == {"w0", "w1", "w2", "w3"}
    assert all(w == w for w in final.values())  # no NaN

    # AUC of the fitted linear score on the training frame >= 0.5
    # (Mann-Whitney computed in numpy on the small smoke frame).
    import numpy as np

    rows = _lr_pairs(spark, SF_SMOKE).collect()
    y = np.array([r.label for r in rows], dtype=float)
    z = (
        final["w0"]
        + final["w1"] * np.array([r.x1 for r in rows])
        + final["w2"] * np.array([r.x2 for r in rows])
        + final["w3"] * np.array([r.x3 for r in rows])
    )
    order = np.argsort(z, kind="stable")
    ranks = np.empty(len(z))
    ranks[order] = np.arange(1, len(z) + 1)
    n_pos, n_neg = y.sum(), (1 - y).sum()
    if n_pos and n_neg:
        auc = (ranks[y == 1].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
        assert auc >= 0.5, f"fitted ranking is worse than chance: {auc}"


def test_fit_score_model_udf_matches_transform(spark):
    """A pandas_udf scorer (model-as-UDF, the F2 / `match_score(...)`
    contract) built from the FIT weights must reproduce the scores the
    query computes through the RELOADED SQLTransformer artifact —
    parity across the two serving paths proves the registry round-trip
    preserved the weights bit-for-bit."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from fuzzy_item_matching_spark.queries.training import (
        _lr_pairs,
        _lr_weights,
        train_fit_score_model,
    )

    rows = train_fit_score_model(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    assert rows[0].prod_version == 1 and rows[0].n_coefs == 3
    scores = [r.score for r in rows]
    assert all(0.0 <= s <= 1.0 for s in scores)
    assert scores == sorted(scores, reverse=True)

    w = _lr_weights(spark, SF_SMOKE)

    # no annotations: `from __future__ import annotations` stringifies
    # them, which breaks pandas_udf signature inference — the return
    # type is given explicitly instead.
    def _score(x1, x2, x3):
        z = w["w0"] + w["w1"] * x1 + w["w2"] * x2 + w["w3"] * x3
        return 1.0 / (1.0 + np.exp(-z))

    udf = pandas_udf(_score, "double")
    top_udf = (
        _lr_pairs(spark, SF_SMOKE)
        .select("id_a", "id_b", udf("x1", "x2", "x3").alias("score"))
        .orderBy(F.desc("score"), F.asc("id_a"))
        .limit(20)
        .collect()
    )
    assert len(top_udf) == len(rows)
    for art, udf_row in zip(rows, top_udf):
        assert art.id_a == udf_row.id_a and art.id_b == udf_row.id_b
        # the artifact path rounds to 9 before ordering; the raw UDF
        # score must agree to within that quantization
        assert abs(art.score - udf_row.score) < 2e-9


def test_adaboost_stumps_properties(spark):
    """Boosted-stump fit: model table shape, weighted errors < 0.5
    (a chosen stump must beat random on the weights it saw), alphas
    positive, and the ensemble's training accuracy at least the
    base-rate of the majority class."""
    import numpy as np

    from fuzzy_item_matching_spark.queries.training import (
        _ADA_ROUNDS,
        _lr_pairs,
        train_adaboost_stumps,
    )

    model = train_adaboost_stumps(spark, SF_SMOKE).collect()
    assert len(model) == _ADA_ROUNDS
    assert [m.round for m in model] == list(range(1, _ADA_ROUNDS + 1))
    for m in model:
        assert 0.0 < m.err < 0.5, f"round {m.round} stump not better than random"
        assert m.alpha > 0.0

    rows = _lr_pairs(spark, SF_SMOKE).collect()
    y = np.array([2 * r.label - 1 for r in rows])
    X = {f: np.array([getattr(r, f) for r in rows]) for f in ("x1", "x2", "x3")}
    score = np.zeros(len(y))
    for m in model:
        h = np.where(
            (X[m.feature] <= m.thr) if m.pol == 1 else (X[m.feature] > m.thr),
            1,
            -1,
        )
        score += m.alpha * h
    # Freund–Schapire training-error bound: a correct AdaBoost fit
    # guarantees err_train <= prod_t 2*sqrt(e_t*(1-e_t)). (Accuracy vs
    # the majority base rate is NOT guaranteed at few rounds on
    # imbalanced data, so that is deliberately not asserted.)
    train_err = (np.sign(score) != y).mean()
    bound = float(np.prod([2 * np.sqrt(m.err * (1 - m.err)) for m in model]))
    assert train_err <= bound + 1e-9, (
        f"training error {train_err} violates the AdaBoost bound {bound}"
    )


def test_adaboost_depth2_properties(spark):
    """Depth-2 boosted trees: model shape, each tree beats random on
    the weights it saw, the round-1 depth-2 error is no worse than the
    round-1 stump error (children can only refine the sign-optimal
    root), and the Freund–Schapire training-error bound holds for the
    ensemble margin through the nested split path."""
    import numpy as np

    from fuzzy_item_matching_spark.queries.training import (
        _ADA_D2_ROUNDS,
        _lr_pairs,
        train_adaboost_depth2,
        train_adaboost_stumps,
    )

    model = train_adaboost_depth2(spark, SF_SMOKE).collect()
    assert len(model) == _ADA_D2_ROUNDS
    assert [m.round for m in model] == list(range(1, _ADA_D2_ROUNDS + 1))
    for m in model:
        assert 0.0 < m.err < 0.5
        assert m.alpha > 0.0
        assert {m.sll, m.slr, m.srl, m.srr} <= {-1, 1}

    stumps = train_adaboost_stumps(spark, SF_SMOKE).collect()
    assert model[0].err <= stumps[0].err + 1e-12

    rows = _lr_pairs(spark, SF_SMOKE).collect()
    y = np.array([2 * r.label - 1 for r in rows])
    X = {f: np.array([getattr(r, f) for r in rows]) for f in ("x1", "x2", "x3")}
    score = np.zeros(len(y))
    for m in model:
        left = X[m.f0] <= m.t0
        h = np.where(
            left,
            np.where(X[m.fl] <= m.tl, m.sll, m.slr),
            np.where(X[m.fr] <= m.tr, m.srl, m.srr),
        )
        score += m.alpha * h
    train_err = (np.sign(score) != y).mean()
    bound = float(np.prod([2 * np.sqrt(m.err * (1 - m.err)) for m in model]))
    assert train_err <= bound + 1e-9


def test_adaboost_depth2_degenerate_root_matches_oracle(spark):
    """Degenerate-root guard (ADVICE r7): constant features make every
    candidate threshold equal mn, so the root sends ALL rows to the
    <=-side and the other child has no candidate rows. Pre-guard the
    Spark fit raised KeyError while the SQL twin silently dropped the
    round's model row. Both engines must now emit the trivial-child
    fallback (root threshold, +1/+1 signs) and agree round-for-round.
    """
    import duckdb

    from fuzzy_item_matching_spark.operators.boosting import adaboost_depth2
    from oracles.boosting import adaboost_depth2_sql

    rows = [(1, 1.0, 2.0), (1, 1.0, 2.0), (0, 1.0, 2.0), (1, 1.0, 2.0)]
    pairs = spark.createDataFrame(rows, "label int, xa double, xb double")
    model = adaboost_depth2(pairs, ["xa", "xb"], rounds=2).collect()
    assert len(model) == 2, "degenerate rounds must not be dropped"
    for m in model:
        # every row went left; the right child is the trivial fallback
        assert (m.fr, m.tr, m.srl, m.srr) == (m.f0, m.t0, 1, 1)

    values = ", ".join(f"({l}, {a!r}, {b!r})" for l, a, b in rows)
    sql = adaboost_depth2_sql(
        f"SELECT * FROM (VALUES {values}) AS t(label, xa, xb)",
        ["xa", "xb"],
        rounds=2,
    )
    oracle = duckdb.sql(sql).fetchall()
    assert len(oracle) == 2
    spark_rows = sorted(
        [tuple(m) for m in model], key=lambda r: r[0]
    )
    oracle_rows = sorted(oracle, key=lambda r: r[0])
    for s, o in zip(spark_rows, oracle_rows):
        for sv, ov in zip(s, o):
            if isinstance(sv, float):
                assert abs(sv - float(ov)) < 1e-12, (s, o)
            else:
                assert sv == ov, (s, o)


def test_gboost_properties(spark):
    """Second-order gradient boosting: model shape, finite regularized
    gains (λ makes NEGATIVE best gains legitimate — the child terms
    carry λ twice, so xgboost would prune; the twin documents
    always-argmax), and the ensemble's training log-loss strictly
    below the f=0 baseline ln 2 — the guarantee the damped Newton leaf
    step provides."""
    import math

    import numpy as np

    from fuzzy_item_matching_spark.queries.training import (
        _GB_ROUNDS,
        _lr_pairs,
        train_gboost_fit,
    )

    model = train_gboost_fit(spark, SF_SMOKE).collect()
    assert len(model) == _GB_ROUNDS
    assert [m.round for m in model] == list(range(1, _GB_ROUNDS + 1))
    for m in model:
        assert math.isfinite(m.gain)
        # regularized leaves are shrunk, never explosive
        assert abs(m.w_le) < 20 and abs(m.w_gt) < 20

    from fuzzy_item_matching_spark.operators.boosting import GB_ETA

    rows = _lr_pairs(spark, SF_SMOKE).collect()
    y = np.array([r.label for r in rows], dtype=float)
    X = {f: np.array([getattr(r, f) for r in rows]) for f in ("x1", "x2", "x3")}
    f = np.zeros(len(y))
    base = np.log(2.0)  # log-loss at f = 0
    for m in model:
        f += GB_ETA * np.where(X[m.feature] <= m.thr, m.w_le, m.w_gt)
    p = 1.0 / (1.0 + np.exp(-f))
    loss = -np.mean(y * np.log(p) + (1 - y) * np.log(1 - p))
    assert loss < base, f"ensemble log-loss {loss} not below baseline {base}"


def test_gboost_constant_features_match_oracle(spark):
    """Degenerate input for the gradient booster: constant features
    put every row on the <=-side of every candidate (GR = HR = 0 —
    the empty side contributes 0 gain and a 0 leaf weight, no special
    casing needed). Both engines must emit identical model rows."""
    import duckdb

    from fuzzy_item_matching_spark.operators.boosting import gboost_fit
    from oracles.boosting import gboost_sql

    rows = [(1, 1.0, 2.0), (1, 1.0, 2.0), (0, 1.0, 2.0), (1, 1.0, 2.0)]
    pairs = spark.createDataFrame(rows, "label int, xa double, xb double")
    model = gboost_fit(pairs, ["xa", "xb"], rounds=2).collect()
    assert len(model) == 2
    for m in model:
        assert m.w_gt == 0.0  # empty side: soft(0)/(0+lambda)

    values = ", ".join(f"({l}, {a!r}, {b!r})" for l, a, b in rows)
    oracle = duckdb.sql(
        gboost_sql(
            f"SELECT * FROM (VALUES {values}) AS t(label, xa, xb)",
            ["xa", "xb"],
            rounds=2,
        )
    ).fetchall()
    assert len(oracle) == 2
    for s, o in zip(
        sorted([tuple(m) for m in model]), sorted(oracle)
    ):
        for sv, ov in zip(s, o):
            if isinstance(sv, float):
                assert abs(sv - float(ov)) < 1e-12, (s, o)
            else:
                assert sv == ov, (s, o)


def test_gboost_depth2_degenerate_fallback_matches_oracle(spark):
    """Constant features: the root puts every row on one side, so the
    other side's child comes from the fallback arm in BOTH engines
    (trivial child at the root threshold, leaves computed from
    all-zero sums — including the -0.0 sign)."""
    import duckdb

    from fuzzy_item_matching_spark.operators.boosting import gboost_depth2_fit
    from oracles.boosting import gboost_depth2_sql

    rows = [(1, 1.0, 2.0), (1, 1.0, 2.0), (0, 1.0, 2.0), (1, 1.0, 2.0)]
    pairs = spark.createDataFrame(rows, "label int, xa double, xb double")
    model = gboost_depth2_fit(pairs, ["xa", "xb"], rounds=2).collect()
    assert len(model) == 2
    values = ", ".join(f"({l}, {a!r}, {b!r})" for l, a, b in rows)
    oracle = duckdb.sql(
        gboost_depth2_sql(
            f"SELECT * FROM (VALUES {values}) AS t(label, xa, xb)",
            ["xa", "xb"],
            rounds=2,
        )
    ).fetchall()
    assert len(oracle) == 2
    for s, o in zip(
        sorted([tuple(m) for m in model]), sorted(oracle)
    ):
        for sv, ov in zip(s, o):
            if isinstance(sv, float):
                assert abs(sv - float(ov)) < 1e-12, (s, o)
                # sign of zero must agree too (the -0.0 discipline)
                if sv == 0.0:
                    import math

                    assert math.copysign(1, sv) == math.copysign(
                        1, float(ov)
                    ), (s, o)
            else:
                assert sv == ov, (s, o)


def test_gboost_fit_jobs_per_round(spark):
    """Each boosting fit runs exactly one Spark job — the Arrow collect
    of its training columns — at any rounds or depth; the round loop
    runs on the driver. Jobs are counted by job group through
    statusTracker for the fit call; its model rows are collected
    outside the group."""
    from fuzzy_item_matching_spark.operators import boosting, gboost_deep

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(i % 3 % 2, float(i % 7), float(i % 5)) for i in range(40)],
        "label int, xa double, xb double",
    )

    def jobs(fit_name, rounds, depth=None):
        fit = getattr(boosting, fit_name, None) or getattr(gboost_deep, fit_name)
        kw = {} if depth is None else {"depth": depth}
        group = f"{fit_name}-jobs-{rounds}"
        sc.setJobGroup(group, "boosting fit job count")
        try:
            model = fit(pairs, ["xa", "xb"], rounds=rounds, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert model.count() == rounds * (2 ** (depth or 1) - 1)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for fit_name, depth in [
        ("adaboost_stumps", None),
        ("adaboost_depth2", None),
        ("gboost_fit", None),
        ("gboost_depth2_fit", None),
        ("gboost_deep_fit", 3),
        ("gboost_hist_fit", 3),
    ]:
        counts = (jobs(fit_name, 1, depth), jobs(fit_name, 4, depth))
        assert counts == (1, 1), (fit_name, counts)


# 40 rows with label noise, so every round reweights (AdaBoost) or
# moves the score (gradient boosting) and no split is ever perfect.
_LONG_ROWS = [
    (
        int((i * 7) % 11 < 5),
        (i * 37 % 41) / 8.0,
        float(i % 5),
        ((i * 13) % 17) / 3.0 - 2.0,
    )
    for i in range(40)
]


@pytest.mark.parametrize(
    "fit_name, rounds",
    [
        ("adaboost_stumps", 10),
        ("gboost_fit", 10),
        ("gboost_depth2_fit", 10),
        ("adaboost_depth2", 4),
    ],
)
def test_long_fits_match_oracle(spark, fit_name, rounds):
    """Ten-round fits emit the same model rows as their DuckDB twins
    (which unroll every round's state as a CTE). adaboost_depth2
    cannot get there: its DECIMAL(38,0) weights gain ~9 digits a round
    and overflow at round 5 on these rows (in both engines), so it
    runs at that 4-round ceiling."""
    import duckdb

    from fuzzy_item_matching_spark.operators import boosting
    from oracles import boosting as twins

    fit = getattr(boosting, fit_name)
    sql = {
        "adaboost_stumps": twins.adaboost_stumps_sql,
        "gboost_fit": twins.gboost_sql,
        "gboost_depth2_fit": twins.gboost_depth2_sql,
        "adaboost_depth2": twins.adaboost_depth2_sql,
    }[fit_name]
    feats = ["x1", "x2", "x3"]
    pairs = spark.createDataFrame(
        _LONG_ROWS, "label int, x1 double, x2 double, x3 double"
    )
    model = fit(pairs, feats, rounds=rounds).collect()
    assert len(model) == rounds

    # doubles go in as strings: DuckDB reads a bare 1.6666666666666667
    # as a DECIMAL, and its DECIMAL -> DOUBLE cast can land one ulp off
    # the double Spark holds, moving rows across a threshold equal to
    # a data value.
    values = ", ".join(
        f"({l}, '{a!r}'::DOUBLE, '{b!r}'::DOUBLE, '{c!r}'::DOUBLE)"
        for l, a, b, c in _LONG_ROWS
    )
    oracle = duckdb.sql(
        sql(
            f"SELECT * FROM (VALUES {values}) AS t(label, x1, x2, x3)",
            feats,
            rounds=rounds,
        )
    ).fetchall()
    assert len(oracle) == rounds
    for s, o in zip(
        sorted([tuple(m) for m in model]), sorted(oracle)
    ):
        for sv, ov in zip(s, o):
            if isinstance(sv, float):
                assert abs(sv - float(ov)) < 1e-12, (s, o)
            else:
                assert sv == ov, (s, o)
