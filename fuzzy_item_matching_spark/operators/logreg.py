"""Engine-native logistic regression (M7 core) — deterministic batch
gradient descent expressed as chained Spark aggregations.

The reference fits its match classifier driver-side (XGBoost on three
squared-distance features, `03_Train & Deploy Model.py:119-305`). The
engine-native form keeps the fit ON the cluster: every iteration is one
pass over the (cached) training frame — a map-side-combinable aggregate
producing the 4-value gradient — and the weight state is a 1-row frame
broadcast back into the next pass. No driver loop over DATA; the Python
loop below only chains K aggregation subplans (the dedup-closure /
pagerank discipline), so the same code runs on 100 TB of pairs: K scans
of a cached frame, each a partial+final hash-free aggregate.

Determinism (what makes the fit exact-oracle-checkable, unlike MLlib's
L-BFGS whose line search is order-sensitive):

- gradient terms are per-row doubles with a FIXED expression tree
  (identical parenthesization in the DuckDB twin), accumulated as
  DECIMAL(38,18) — exact, order-insensitive sums;
- weights are rounded to 9 decimals at every iteration boundary on
  both engines, so a last-ulp exp() disagreement between libm
  implementations is squashed before it can compound;
- class weights (the reference's M1 'balanced' scheme) are single
  IEEE divisions of exact counts.

The DuckDB twins live in ``oracles/logreg.py``, outside the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_DIGITS = 9

# Weight-state join strategy gate for the sparse (long-format) fit: a
# (j, w) frame of ≤ 2^20 rows is ~12 MB serialized — comfortably a
# broadcast, and broadcasting it keeps the postings⨝weights join
# shuffle-free on the postings side. Past that (the 10^7–10^8 hashed
# features a web-scale corpus implies) the explicit broadcast hint
# would force a driver-side collect of the full weight state every
# iteration, so the join falls back to a j-keyed shuffle join — the
# weight state distributes like any other frame.
SPARSE_BROADCAST_MAX_FEATURES = 1 << 20


def balanced_class_weights(pairs: DataFrame, label: str = "label") -> DataFrame:
    """1-row frame (wpos, wneg): sklearn's 'balanced' n/(k*n_c) for the
    binary case (`03_Train & Deploy Model.py:155-161`)."""
    return pairs.agg(
        (
            F.count(F.lit(1)).cast("double")
            / (2.0 * F.sum(label).cast("double"))
        ).alias("wpos"),
        (
            F.count(F.lit(1)).cast("double")
            / (2.0 * (F.count(F.lit(1)) - F.sum(label)).cast("double"))
        ).alias("wneg"),
    )


def logistic_gd_fit(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    iters: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """Fit w (intercept + one weight per feature) by full-batch GD on
    class-weighted log-loss; return the whole fit trace as
    (iter, coef, weight) — 'w0' is the intercept, 'w<j>' pairs with
    features[j-1].

    The trace (not just the final vector) is the verification surface:
    the DuckDB oracle replays every iteration, so a drift anywhere in
    the K passes is caught at the iteration it appears.
    """
    names = ["w0"] + [f"w{j + 1}" for j in range(len(features))]
    pw = pairs.crossJoin(F.broadcast(balanced_class_weights(pairs, label)))
    pw = pw.withColumn(
        "sw",
        F.when(F.col(label) == 1, F.col("wpos")).otherwise(F.col("wneg")),
    ).select(label, "sw", *features)
    pw = pw.persist()

    w = pairs.sparkSession.createDataFrame(
        [tuple(0.0 for _ in names)], ", ".join(f"{n} double" for n in names)
    )
    traces = []
    for t in range(1, iters + 1):
        joined = pw.crossJoin(F.broadcast(w))
        z = F.col("w0")
        for j, feat in enumerate(features):
            z = z + F.col(f"w{j + 1}") * F.col(feat)
        p = 1.0 / (1.0 + F.exp(-z))
        resid = F.col("sw") * (p - F.col(label))
        den = F.sum(F.col("sw").cast("decimal(38,18)")).cast("double")
        updates = []
        for j, n in enumerate(names):
            term = resid if j == 0 else resid * F.col(features[j - 1])
            num = F.sum(term.cast("decimal(38,18)")).cast("double")
            updates.append(
                F.round(
                    F.min(n) - F.lit(lr) * (num / den), ROUND_DIGITS
                ).alias(n)
            )
        # Materialize the 1-row weight state eagerly: without this the
        # trace union re-derives iteration t inside every later
        # iteration's plan (O(K²) aggregate executions — measured
        # 8.8 s → ~3 s at sf0.1). localCheckpoint keeps the state on
        # executors; nothing is collected to the driver.
        w = joined.agg(*updates).localCheckpoint(eager=True)
        traces.append(
            w.select(
                F.lit(t).alias("iter"),
                F.expr(
                    "stack({}, {})".format(
                        len(names),
                        ", ".join(f"'{n}', {n}" for n in names),
                    )
                ).alias("coef", "weight"),
            )
        )
    # the trace reads only the eager checkpoints
    pw.unpersist()
    out = traces[0]
    for tr in traces[1:]:
        out = out.unionByName(tr)
    return out


def weight_state_join(post: DataFrame, w: DataFrame, n_features: int) -> DataFrame:
    """Join postings to the (j, w) weight state with the join strategy
    gated on |state|: ≤ SPARSE_BROADCAST_MAX_FEATURES rows broadcasts
    (the state is a few MB — no shuffle on the postings side); above
    it the hint is dropped and the join shuffles on ``j``, so the
    weight state never has to fit on the driver. Split out so
    tests/test_plans.py can pin that the strategy actually switches."""
    if n_features <= SPARSE_BROADCAST_MAX_FEATURES:
        return post.join(F.broadcast(w), "j")
    return post.join(w, "j")


def sparse_logistic_gd_fit(
    rows: DataFrame,
    postings: DataFrame,
    iters: int = 4,
    lr: float = 0.5,
    n_features: int | None = None,
) -> DataFrame:
    """Long-format (sparse) logistic GD — the shape that carries past
    ~10³ features, where :func:`logistic_gd_fit`'s wide-column
    aggregate stops scaling: the weight state is a (j, w) FRAME (not a
    1-row vector), features live as postings (row_id, j, x) with only
    non-zeros materialized, and each iteration is two sparse
    aggregations — z per row (postings ⨝ weights, groupBy row) and the
    gradient per feature (postings ⨝ residuals, groupBy j). At 2^18
    hashed features and 100 TB of rows both shuffles are keyed on ids,
    state is |features| rows distributed like any other frame, and no
    plan ever holds a dense vector. The weights side of the z join is
    broadcast only while the state is small
    (:func:`weight_state_join`); past SPARSE_BROADCAST_MAX_FEATURES it
    becomes a j-keyed shuffle join, so the plan matches the
    distributed-state story at every feature count.

    ``rows``: (row_id, label); ``postings``: (row_id, j, x) and MUST
    include the intercept posting (row_id, 0, 1.0) for every row.
    ``n_features``: highest feature index (the weight domain is
    0..n_features inclusive, j = 0 being the intercept). Pass it
    explicitly when the hash space is known — a top bucket with no
    postings would otherwise shrink the weight domain below the
    oracle's (oracles/logreg.sparse_logistic_gd_sql takes the same
    explicit bound).
    When omitted it defaults to max observed j; an empty postings
    frame is then an error, not a silent int(None) crash.

    Determinism: per-row z and per-feature gradients are DECIMAL(38,18)
    sums of per-term double products (exact, order-insensitive — the
    sparse substitute for the wide form's fixed expression tree);
    weights round to 9 decimals each iteration. Returns the full fit
    trace (iter, j, w).
    """
    sess = rows.sparkSession
    # Persist BOTH frames hash-partitioned on row_id: every iteration
    # joins postings⨝weights→groupBy(row_id), then pw⨝z, then
    # postings⨝residuals — with the persisted partitioning matching
    # the join key, EnsureRequirements re-shuffles NONE of them, so an
    # iteration pays exactly ONE exchange (the gradient's groupBy(j)).
    pw = rows.crossJoin(
        F.broadcast(balanced_class_weights(rows, "label"))
    ).select(
        "row_id",
        "label",
        F.when(F.col("label") == 1, F.col("wpos"))
        .otherwise(F.col("wneg"))
        .alias("sw"),
    ).repartition("row_id").persist()
    post = postings.repartition("row_id").persist()
    den = pw.agg(
        F.sum(F.col("sw").cast("decimal(38,18)")).cast("double").alias("d")
    )

    # Zero-init the (j, w) frame DISTRIBUTEDLY (spark.range, not a
    # driver-built list — at 2^18 features the list would be a
    # driver-side loop); covering the full 0..n_features range keeps
    # never-observed features at w = 0 in both engines (the oracle's
    # generate_series does the same).
    if n_features is None:
        mx = post.agg(F.max("j")).collect()[0][0]
        if mx is None:
            pw.unpersist()
            post.unpersist()
            raise ValueError(
                "sparse_logistic_gd_fit: postings frame is empty — "
                "pass n_features explicitly or provide postings"
            )
        n_features = int(mx)
    w = sess.range(0, int(n_features) + 1).select(
        F.col("id").cast("int").alias("j"), F.lit(0.0).alias("w")
    )
    traces = []
    for t in range(1, iters + 1):
        z = (
            weight_state_join(post, w, n_features)
            .groupBy("row_id")
            .agg(
                F.sum((F.col("w") * F.col("x")).cast("decimal(38,18)"))
                .cast("double")
                .alias("z")
            )
        )
        resid = pw.join(z, "row_id").select(
            "row_id",
            (
                F.col("sw")
                * (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z")))
                    - F.col("label")
                )
            ).alias("resid"),
        )
        grad = (
            post.join(resid, "row_id")
            .groupBy("j")
            .agg(
                F.sum((F.col("resid") * F.col("x")).cast("decimal(38,18)"))
                .cast("double")
                .alias("g")
            )
        )
        # The gradient frame is bounded by the same |features| as the
        # weight state — gate its broadcast identically.
        if n_features <= SPARSE_BROADCAST_MAX_FEATURES:
            grad = F.broadcast(grad)
        w = (
            w.join(grad, "j", "left")
            .crossJoin(F.broadcast(den))
            .select(
                "j",
                F.round(
                    F.col("w")
                    - F.lit(lr) * (F.coalesce(F.col("g"), F.lit(0.0)) / F.col("d")),
                    ROUND_DIGITS,
                ).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
        traces.append(w.select(F.lit(t).alias("iter"), "j", "w"))
    # the trace reads only the eager checkpoints
    pw.unpersist()
    post.unpersist()
    out = traces[0]
    for tr in traces[1:]:
        out = out.unionByName(tr)
    return out


def quantile_gd_fit(
    pairs: DataFrame,
    features: list[str],
    label: str = "label",
    tau: float = 0.9,
    iters: int = 6,
    lr: float = 0.5,
) -> DataFrame:
    """Linear QUANTILE regression by full-batch subgradient descent on
    the pinball loss L_tau(r) = max(tau*r, (tau-1)*r), r = y - w·x:
    grad_j = mean((1[y < w·x] - tau) * x_j). Same trace contract as
    logistic_gd_fit: (iter, coef, weight), w0 = intercept, every
    iteration replayed by the oracle (oracles/logreg.quantile_gd_sql).

    Determinism: w·x is a fixed expression tree over round-to-9
    weights, so the indicator 1[y < w·x] compares bit-identical
    doubles on both engines; the gradient numerator accumulates as
    DECIMAL(38,18) and the count denominator is exact.
    """
    names = ["w0"] + [f"w{j + 1}" for j in range(len(features))]
    pw = pairs.select(label, *features).persist()
    w = pairs.sparkSession.createDataFrame(
        [tuple(0.0 for _ in names)], ", ".join(f"{n} double" for n in names)
    )
    traces = []
    for t in range(1, iters + 1):
        joined = pw.crossJoin(F.broadcast(w))
        z = F.col("w0")
        for j, feat in enumerate(features):
            z = z + F.col(f"w{j + 1}") * F.col(feat)
        ind = F.when(F.col(label) < z, F.lit(1.0)).otherwise(F.lit(0.0))
        resid = ind - F.lit(tau)
        den = F.count(F.lit(1)).cast("double")
        updates = []
        for j, n in enumerate(names):
            term = resid if j == 0 else resid * F.col(features[j - 1])
            num = F.sum(term.cast("decimal(38,18)")).cast("double")
            updates.append(
                F.round(
                    F.min(n) - F.lit(lr) * (num / den), ROUND_DIGITS
                ).alias(n)
            )
        w = joined.agg(*updates).localCheckpoint(eager=True)
        traces.append(
            w.select(
                F.lit(t).alias("iter"),
                F.expr(
                    "stack({}, {})".format(
                        len(names),
                        ", ".join(f"'{n}', {n}" for n in names),
                    )
                ).alias("coef", "weight"),
            )
        )
    # the trace reads only the eager checkpoints
    pw.unpersist()
    out = traces[0]
    for tr in traces[1:]:
        out = out.unionByName(tr)
    return out
