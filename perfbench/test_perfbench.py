"""Self-tests of the benchmark at tiny sizes.

    python3 -m pytest perfbench -q

Spark-backed tests share one local session and run every workload once
untraced and once traced on a few hundred items.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from perfbench import gen
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _digest(d: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(d.rglob("*.parquet")):
        h.update(f.relative_to(d).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _generate(seed: int, out: Path) -> str:
    gen.batch_inputs(seed, 120, str(out / "batch"))
    gen.stream_inputs(seed, 120, 3, 20, str(out / "stream"))
    return _digest(out)


def test_generator_is_deterministic(tmp_path):
    a = _generate(7, tmp_path / "a")
    assert _generate(7, tmp_path / "b") == a
    assert _generate(8, tmp_path / "c") != a


class _FlakyWorkload:
    """Op 2 of 3 fails its output check."""

    name = "flaky"
    items_per_op = 1

    def __init__(self):
        self.batch = 0

    def op(self, tr):
        self.batch += 1
        return self.batch

    def check(self, out):
        from perfbench.workloads import CheckFailed

        if out == 2:
            raise CheckFailed("injected")


def test_injected_failure_is_counted():
    from perfbench.run import measure

    res = measure(_FlakyWorkload(), Tracer(None, "flaky", False), 0, max_ops=3)
    assert res["attempted"] == 3
    assert res["failed"] == 1
    assert len(res["latencies"]) == 2


def test_tail_value_keeps_ten_samples_beyond():
    from perfbench.run import tail_value

    lat = [float(i) for i in range(1, 41)]
    value, pct = tail_value(lat)
    assert sum(x > value for x in lat) == 10
    assert pct == 75.0
    assert tail_value([3.0, 1.0]) == (3.0, 100.0)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    """One tiny local session shared by the Spark-backed tests."""
    from perfbench.run import bench_session, pin_environment, stop_spark
    from perfbench.trace import RssSampler

    work = tmp_path_factory.mktemp("perfbench")
    pin_environment(work)
    with RssSampler() as sampler:
        spark = bench_session(work)
        try:
            yield spark, work, sampler
        finally:
            stop_spark(spark)


def _run(session, name: str, trace: int) -> dict:
    from perfbench.run import run_workload
    from perfbench.workloads import Sizes

    spark, work, sampler = session
    sizes = Sizes(batch_left=150, stream_stored=300,
                  stream_batch=40, stream_batches=8)
    return run_workload(spark, name, seed=3, seconds=0.0, trace=bool(trace), sizes=sizes,
                        work=work / f"{name}-{trace}-{len(list(work.iterdir()))}",
                        sampler=sampler)


@pytest.fixture(scope="module")
def results(session):
    """Every workload, untraced then traced."""
    return {(name, trace): _run(session, name, trace)
            for name in WORKLOADS
            for trace in (0, 1)}


def test_traced_name_join_that_diverges_is_counted(session, monkeypatch):
    import perfbench.workloads as wls

    real = wls.name_candidates

    def diverging(tr, batch, left, right):
        pairs = real(tr, batch, left, right)
        return pairs.limit(0) if tr.enabled else pairs

    monkeypatch.setattr(wls, "name_candidates", diverging)
    r = _run(session, "resolve_batch", 1)
    assert r["traced_ops"] >= 1
    assert r["failed"] == r["traced_ops"]


@pytest.mark.parametrize("name", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_reported_with_its_unit(results, name, trace):
    r = results[name, trace]
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in r["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    assert r["failed"] == 0
    assert r["attempted"] >= 1
    if not trace:
        for m in spec:
            assert r["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("name", WORKLOADS)
def test_span_tree_is_well_formed(results, name):
    r = results[name, 1]
    tr, wall = r["tracer"], r["traced_wall_s"]
    spans = {s.id: s for s in tr.spans}
    eps = 1e-6
    for s in tr.spans:
        assert s.end >= s.start
        if s.parent is not None:
            p = spans[s.parent]
            assert p.start - eps <= s.start and s.end <= p.end + eps
        kids = sorted(tr.children(s), key=lambda c: c.start)
        for a, b in zip(kids, kids[1:]):
            assert a.end <= b.start + eps  # siblings do not overlap
        assert tr.self_time(s) >= -eps
    roots = [s for s in tr.spans if s.parent is None]
    assert {s.name for s in roots} == {"op"}
    # self times of every span, plus the time outside any span, make
    # up the traced wall time
    outside = wall - sum(s.duration for s in roots)
    assert outside >= -eps
    total = sum(tr.self_time(s) for s in tr.spans) + outside
    assert abs(total - wall) < 1e-6
    n = r["traced_ops"]
    m = {k: v["value"] for k, v in r["metrics"].items()}
    layers = sum(tr.self_time(s) for s in tr.spans if s.name not in ("op", "counters"))
    assert abs(layers / n + m["trace.counters_s"] + m["driver.other_s"] - wall / n) < 1e-6
