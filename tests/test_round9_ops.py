"""Property tests for the round-9 operators — invariants the exact
oracle equivalence (tests/test_all_oracles.py, driver) can't express:
the depth-d boosting recursion's reductions, stochasticity being real,
and the unsplittable-node leaf semantics.
"""

from __future__ import annotations

import pytest

from .conftest import SF_SMOKE


def _pairs(spark):
    from fuzzy_item_matching_spark.queries.training import _lr_pairs

    return _lr_pairs(spark, SF_SMOKE)


FEATS = ["x1", "x2", "x3"]


def test_gboost_deep_depth1_reduces_to_gboost_fit(spark):
    """depth=1 with no stochastics must reproduce the hand-unrolled
    gboost_fit model exactly — same splits, gains, and leaves."""
    from fuzzy_item_matching_spark.operators.boosting import gboost_fit
    from fuzzy_item_matching_spark.operators.gboost_deep import (
        gboost_deep_fit,
    )

    deep = gboost_deep_fit(_pairs(spark), FEATS, rounds=2, depth=1).collect()
    flat = gboost_fit(_pairs(spark), FEATS, rounds=2).collect()
    assert len(deep) == len(flat) == 2
    for d, f in zip(deep, flat):
        assert (d.feature, d.thr, d.gain, d.w_le, d.w_gt) == (
            f.feature,
            f.thr,
            f.gain,
            f.w_le,
            f.w_gt,
        )


def test_gboost_deep_shape_and_gains(spark):
    """depth=3 emits one row per heap node 1..7 per round (finite
    splits everywhere — note the λ-regularized gain CAN be negative:
    each child adds its own +λ to the denominator, so a split of a
    small-H node can lose to the parent term; the argmax still picks
    the least-bad split and the fixed-shape tree routes through it),
    and the round-1 root split equals depth-1's round-1 split
    (identical argmax on identical g/h)."""
    import math

    from fuzzy_item_matching_spark.operators.boosting import gboost_fit
    from fuzzy_item_matching_spark.operators.gboost_deep import (
        gboost_deep_fit,
    )

    rows = gboost_deep_fit(_pairs(spark), FEATS, rounds=2, depth=3).collect()
    assert [(r.round, r.node) for r in rows] == [
        (t, n) for t in (1, 2) for n in range(1, 8)
    ]
    assert all(
        math.isfinite(r.gain) and math.isfinite(r.w_le) for r in rows
    )
    root1 = next(r for r in rows if r.round == 1 and r.node == 1)
    flat1 = gboost_fit(_pairs(spark), FEATS, rounds=1).collect()[0]
    assert (root1.feature, root1.thr, root1.gain) == (
        flat1.feature,
        flat1.thr,
        flat1.gain,
    )


def test_gboost_stochastic_subsample_changes_fit(spark):
    """The seeded row subsample must actually alter the fitted model
    versus the full-data fit (stochasticity is real, not a no-op),
    and two runs with the same seed must agree (determinism)."""
    from fuzzy_item_matching_spark.operators.gboost_deep import (
        gboost_deep_fit,
    )

    kw = dict(rounds=1, depth=1, row_key="id_a", seed=11)
    full = gboost_deep_fit(_pairs(spark), FEATS, subsample=1.0, **kw).collect()
    sub = gboost_deep_fit(_pairs(spark), FEATS, subsample=0.5, **kw).collect()
    sub2 = gboost_deep_fit(_pairs(spark), FEATS, subsample=0.5, **kw).collect()
    assert sub == sub2
    assert (full[0].w_le, full[0].w_gt) != (sub[0].w_le, sub[0].w_gt)


def test_gboost_colsample_restricts_features(spark):
    """With colsample=1/3 every level's split features must come from
    that (round, level)'s seeded subset — and the subset function is
    the single source of truth for both engines."""
    from fuzzy_item_matching_spark.operators.boosting import col_subset
    from fuzzy_item_matching_spark.operators.gboost_deep import gboost_deep_fit

    rows = gboost_deep_fit(
        _pairs(spark), FEATS, rounds=2, depth=2, colsample=1.0 / 3.0, seed=5
    ).collect()
    for r in rows:
        level = r.node.bit_length() - 1
        subset = col_subset(FEATS, r.round, level, 1.0 / 3.0, 5)
        assert len(subset) == 1
        assert r.feature in subset or r.gain == 0.0


def test_gboost_min_child_weight_floor(spark):
    """An impossible hessian floor makes every node unsplittable: the
    tree degenerates to equal-leaf nodes (w_le == w_gt everywhere)
    and the root falls back to (first feature, its min)."""
    from fuzzy_item_matching_spark.operators.gboost_deep import (
        gboost_deep_fit,
    )

    pairs = _pairs(spark)
    rows = gboost_deep_fit(
        pairs, FEATS, rounds=1, depth=2, min_child_weight=1e9
    ).collect()
    assert all(r.w_le == r.w_gt for r in rows)
    mn = float(pairs.agg({"x1": "min"}).first()[0])
    root = next(r for r in rows if r.node == 1)
    assert root.feature == "x1" and root.thr == mn and root.gain == 0.0
    # the root's fallback leaf is the global -soft(G,α)/(H+λ): with
    # y mostly 1 at f=0, G = Σ(0.5 - y) < 0 → weight > 0
    assert root.w_le != 0.0


def test_tpe_proposals_concentrate_in_good_region(spark):
    """The TPE property the verdict asked to pin: every proposed
    trial's param lies within the proposal kernel half-width of some
    good-region (top-γ) trial observed at its round — i.e. proposals
    come from the good set's Parzen mixture, not the whole box — and
    the full trace has the exact round/trial bookkeeping."""
    import math

    from fuzzy_item_matching_spark.queries.training import (
        _TPE_GAMMA,
        _TPE_HI,
        _TPE_INIT,
        _TPE_K,
        _TPE_LO,
        _TPE_ROUNDS,
        train_tpe_search,
    )

    rows = sorted(
        train_tpe_search(spark, SF_SMOKE).collect(),
        key=lambda r: r.trial_id,
    )
    assert [r.trial_id for r in rows] == list(
        range(_TPE_INIT + _TPE_ROUNDS * _TPE_K)
    )
    h_prop = (_TPE_HI - _TPE_LO) / 8.0
    n_obs = _TPE_INIT
    for rnd in range(1, _TPE_ROUNDS + 1):
        observed = [r for r in rows if r.trial_id < n_obs]
        good_n = max(1, math.ceil(_TPE_GAMMA * len(observed)))
        good = sorted(observed, key=lambda r: (-r.score, r.trial_id))[:good_n]
        proposed = [r for r in rows if r.round == rnd]
        assert len(proposed) == _TPE_K
        for p in proposed:
            assert any(
                abs(p.param - g.param) <= h_prop + 1e-12 for g in good
            ), f"round {rnd} proposal {p.param} outside every good kernel"
        n_obs += _TPE_K


def test_gboost_deep_empty_frame_raises(spark):
    from fuzzy_item_matching_spark.operators.gboost_deep import (
        gboost_deep_fit,
    )

    empty = _pairs(spark).filter("id_a < 0")
    with pytest.raises(ValueError, match="empty training frame"):
        gboost_deep_fit(empty, FEATS, rounds=1, depth=2)


def test_doremi_weight_flows_to_max_loss_domain(spark):
    """DoReMi invariant: across iterations, the maximum-loss domain's
    weight is non-decreasing and the minimum-loss domain's is
    non-increasing (multiplicative weights on the excess loss), and
    every iteration's weights sum to ~1."""
    from fuzzy_item_matching_spark.queries.textstats import (
        ts_doremi_mixture,
    )

    rows = ts_doremi_mixture(spark, SF_SMOKE).collect()
    by_iter: dict[int, dict[str, float]] = {}
    loss = {}
    for r in rows:
        by_iter.setdefault(r.iter, {})[r.lang] = r.alpha
        loss[r.lang] = r.loss
    hi = max(loss, key=loss.get)
    lo = min(loss, key=loss.get)
    iters = sorted(by_iter)
    for a, b in zip(iters, iters[1:]):
        assert by_iter[b][hi] >= by_iter[a][hi] - 1e-9
        assert by_iter[b][lo] <= by_iter[a][lo] + 1e-9
    for t in iters:
        assert abs(sum(by_iter[t].values()) - 1.0) < 1e-6


def test_ccnet_tertiles_balanced_and_ordered(spark):
    """CCNet buckets: tertile sizes differ by at most 1 and the
    perplexity ranges are disjoint and ordered head < middle < tail."""
    from fuzzy_item_matching_spark.queries.textstats import (
        ts_ccnet_buckets,
    )

    rows = {r.bucket: r for r in ts_ccnet_buckets(spark, SF_SMOKE).collect()}
    sizes = [rows[b].n_docs for b in ("head", "middle", "tail")]
    assert max(sizes) - min(sizes) <= 1
    assert rows["head"].max_nll <= rows["middle"].min_nll
    assert rows["middle"].max_nll <= rows["tail"].min_nll


def test_fs_match_curve_monotone(spark):
    """Operating-curve invariants: as the weight threshold drops,
    n_pred and tp are non-decreasing and recall is non-decreasing,
    ending at recall 1.0 (every blocked pair predicted)."""
    from fuzzy_item_matching_spark.queries.retrieval import (
        serve_fs_match_curve,
    )

    from .conftest import SF_CHECK

    # sf0.01: the sf0.001 part table yields a single agreement
    # pattern (one curve point), which exercises nothing
    rows = serve_fs_match_curve(spark, SF_CHECK).collect()
    assert len(rows) >= 2
    for a, b in zip(rows, rows[1:]):
        assert a.weight > b.weight
        assert b.n_pred >= a.n_pred and b.tp >= a.tp
        assert b.recall >= a.recall - 1e-9
    assert rows[-1].recall == 1.0


def test_gopher_repetition_bounds(spark):
    """All fractions live in [0, 1]; keep is the documented
    conjunction of the bigram thresholds."""
    from fuzzy_item_matching_spark.queries.textstats import (
        _GOPHER_DUP_BG_MAX,
        _GOPHER_TOP_BG_MAX,
        ts_gopher_repetition,
    )

    rows = ts_gopher_repetition(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        for v in (r.dup_bigram_frac, r.top_bigram_frac, r.dup_trigram_frac):
            assert 0.0 <= v <= 1.0
        want = int(
            r.dup_bigram_frac <= _GOPHER_DUP_BG_MAX
            and r.top_bigram_frac <= _GOPHER_TOP_BG_MAX
        )
        assert r.keep == want
