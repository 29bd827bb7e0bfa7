"""Catalog-matching benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload resolve_batch --seed 1 --seconds 16 --trace 0

Runs from the root of a checkout of the repository. It pins the run
environment, starts one SparkSession at local[N] (N <= cores), generates
the workload's inputs from the seed as parquet, and drives the engine
through its public functions in a closed loop (one client) for
``--seconds``. Every op's output is checked; the last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half
the time untraced, then as many ops again with a span around every
layer call, and reports per-layer metrics plus the tracing overhead;
span records go to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".perfbench_work"
DRIVER_MEM_MB = 1024
# Two task threads, fewer than the host's cores: tasks in flight are
# then not all stalled at once when the host steals a CPU, and the
# JVM's own threads and the Python workers keep a core of their own.
MAX_CPUS = 2
# C1-only JIT: with the default tiered C2, op latency keeps falling for
# minutes as hot code is recompiled, so a short run measures how far the
# JIT had got; C1 has compiled nearly all of it by the end of the warm-up.
# Serial GC: G1 sizes the heap from GC pause times, so peak memory
# followed the host's load; the serial collector sizes it from occupancy.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"


def pin_environment(work: Path) -> dict:
    """Set the env the engine and its JVM/Python workers read, before the
    JVM starts. Returns what was set, for the output record."""
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = min(DRIVER_MEM_MB, phys_mb // 4)
    tmp = work / "tmp"
    for d in ("tmp", "local", "scratch", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        # Python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_SCRATCH": str(work / "scratch"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(tmp),
        # the spark-submit launcher JVM, started before the Spark driver JVM
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    env["physical_mb"] = str(phys_mb)
    return env


def tail_value(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples above it; the maximum when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def measure(wl, tr, seconds: float, max_ops: int | None = None) -> dict:
    """Closed loop: run ops within ``seconds`` of wall time. The next op
    starts only if, at the median op time so far, it ends in time; at
    least one op runs, at most ``max_ops``. An op that raises, or whose
    output fails its check, counts as failed."""
    from perfbench.trace import tree_cpu_s

    lat, cpu, failed, attempted, took = [], [], 0, 0, []
    t_start = time.perf_counter()
    while True:
        if getattr(wl, "exhausted", False):
            break
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("op", wl.batch):
                c0 = tree_cpu_s(os.getpid())
                out = wl.op(tr)
                dt = time.perf_counter() - t0
                dc = tree_cpu_s(os.getpid()) - c0
            wl.check(out)
            lat.append(dt)
            cpu.append(dc)
        except Exception:  # one failed op must not end the run
            failed += 1
            traceback.print_exc(file=sys.stderr)
        took.append(time.perf_counter() - t0)
        if max_ops is not None and attempted >= max_ops:
            break
        elapsed = time.perf_counter() - t_start
        if max_ops is None and elapsed + statistics.median(took) > seconds:
            break
    return {"latencies": lat, "cpu_s": cpu, "attempted": attempted, "failed": failed,
            "wall_s": time.perf_counter() - t_start}


def end_to_end(wl, res: dict, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    """The end-to-end metrics, and the wall-clock figures for ``info``.

    Op cost is the CPU time of the whole process tree (driver, JVM,
    Python workers) per op, not its wall time: the host steals CPU from
    this VM in bursts, which stretches wall time by tens of percent from
    one run to the next but is not charged to the processes. CPU time
    still grows when the host is busy, by less."""
    recall, precision = wl.quality()
    wall, cpu = res["latencies"] or [0.0], res["cpu_s"] or [0.0]  # every op failed
    p50 = statistics.median(cpu)
    tail, pct = tail_value(cpu)
    metrics = {
        "setup_s": (setup_s, "s"),
        "items_per_cpu_s": (wl.items_per_op / p50 if res["cpu_s"] else 0.0, "items/s"),
        "cpu_p50_ms": (1000 * p50, "ms"),
        "cpu_tail_ms": (1000 * tail, "ms"),
        "recall": (recall, "fraction"),
        "precision": (precision, "fraction"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    wall_p50 = statistics.median(wall)
    info = {"tail_percentile": round(pct, 2), "samples": len(res["cpu_s"]),
            "wall": {"items_per_s": wl.items_per_op / wall_p50 if res["latencies"] else 0.0,
                     "latency_p50_ms": 1000 * wall_p50,
                     "latency_tail_ms": 1000 * tail_value(wall)[0]},
            "latencies_ms": [round(1000 * x, 1) for x in res["latencies"]],
            "cpu_ms": [round(1000 * x, 1) for x in res["cpu_s"]]}
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, info


def per_layer(wl, tr, traced: dict, untraced_op_s: float,
              register_s: float | None) -> dict:
    """Per-op averages of the traced ops' spans, by layer."""
    n_ops = max(1, traced["attempted"])  # a stream can run out of batches
    traced_wall = traced["wall_s"]
    by: dict[str, list] = {}
    for s in tr.spans:
        by.setdefault(s.name, []).append(s)

    def tot(name, key=None):
        spans = by.get(name, [])
        if key is None:
            return sum(tr.self_time(s) for s in spans) / n_ops
        if key == "exec":
            return sum(tr.self_time(s) - s.counts.get("plan_s", 0.0) for s in spans) / n_ops
        if key in ("jobs", "stages", "tasks"):
            return sum(getattr(x, key) for s in spans for x in tr.subtree(s)) / n_ops
        return sum(s.counts.get(key, 0) for s in spans) / n_ops

    def ratio(a, b):
        return a / b if b else 0.0

    counters_s = tot("counters")
    layer_self = sum(tr.self_time(s) for s in tr.spans if s.name not in ("op", "counters"))
    m = {
        "tables.read_s": (tot("tables"), "s"),
        "tables.rows": (tot("tables", "rows"), "count"),
        "features.exec_s": (tot("features", "exec"), "s"),
        "features.terms": (tot("features", "rows"), "count"),
        "features.terms_per_item": (ratio(tot("features", "rows"), wl.items_per_op)
                                    if "features" in by else 0.0, "count"),
        "similarity.exec_s": (tot("similarity", "exec"), "s"),
        "similarity.pairs_out": (tot("similarity", "rows"), "count"),
        "similarity.postings_partials": (tot("counters", "postings_partials"), "count"),
        "similarity.yield": (ratio(tot("similarity", "rows"),
                                   tot("counters", "postings_partials")), "fraction"),
        "lsh.plan_s": (tot("lsh", "plan_s"), "s"),
        "lsh.exec_s": (tot("lsh", "exec"), "s"),
        "lsh.pairs_out": (tot("lsh", "rows"), "count"),
        "lsh.bucket_pairs": (tot("counters", "bucket_pairs"), "count"),
        "lsh.yield": (ratio(tot("lsh", "rows"), tot("counters", "bucket_pairs")), "fraction"),
        "merge.exec_s": (tot("merge"), "s"),
        "merge.rows_in": (tot("merge", "rows_in"), "count"),
        "merge.rows_written": (tot("merge", "rows_written"), "count"),
        "merge.bytes_written": (tot("merge", "bytes_written"), "bytes"),
        "label.exec_s": (tot("label", "exec"), "s"),
        "label.pairs": (tot("label", "rows"), "count"),
        "boosting.fit_s": (tot("boosting"), "s"),
        "boosting.jobs": (tot("boosting", "jobs"), "count"),
        "registry.register_s": (register_s if register_s is not None
                                else tot("registry.register"), "s"),
        "registry.load_s": (tot("registry.load"), "s"),
        "score.exec_s": (tot("score", "exec"), "s"),
        "score.rows": (tot("score", "rows"), "count"),
        # connected_components runs its rounds inside the call itself
        "components.exec_s": (tot("components"), "s"),
        "components.jobs": (tot("components", "jobs"), "count"),
        "spark.jobs": (tot("op", "jobs") - tot("counters", "jobs"), "count"),
        "spark.stages": (tot("op", "stages") - tot("counters", "stages"), "count"),
        "spark.tasks": (tot("op", "tasks") - tot("counters", "tasks"), "count"),
        "driver.other_s": ((traced_wall - layer_self) / n_ops - counters_s, "s"),
        "trace.counters_s": (counters_s, "s"),
        "trace.op_s": ((traced_wall / n_ops) - counters_s, "s"),
        "trace.untraced_op_s": (untraced_op_s, "s"),
        "trace.overhead": (ratio(traced_wall / n_ops - counters_s, untraced_op_s) - 1,
                           "fraction"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child."""
    from perfbench.trace import tree_pids

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # a wedged JVM is killed below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 10
    while time.time() < deadline:
        left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def bench_session(work: Path):
    """The benchmark's SparkSession: the engine's own ``get_spark`` with
    run-local directories and no console progress bar. The heap is only
    capped (``SPARK_GRAFT_DRIVER_MEM``), so the heap the engine grows
    shows in ``peak_rss_mb``; the JIT and GC are pinned by ``JVM_OPTS``."""
    from fuzzy_item_matching_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData {JVM_OPTS}"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).count()
    return spark


def cpu_steal_jiffies() -> int:
    """Time stolen from this VM by the host, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool,
                 sizes, work: Path, sampler, session_s: float = 0.0) -> dict:
    """Set up, warm up and measure one workload on a running session."""
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, seed, str(work), sizes)
    t = time.perf_counter()
    wl.generate()
    inputs_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    quiet = Tracer(spark, name, False)
    t = time.perf_counter()
    wl.warmup(quiet)
    warm_s = time.perf_counter() - t
    setup_s = session_s + inputs_s + prepare_s + warm_s
    info = {"setup_parts_s": {"session": session_s, "inputs": inputs_s,
                              "prepare": prepare_s, "warmup": warm_s}}
    out = {}
    steal = cpu_steal_jiffies()
    res = measure(wl, quiet, seconds / 2 if trace else seconds)
    if trace:
        tr = Tracer(spark, name, True)
        traced = measure(wl, tr, 0, max_ops=max(1, res["attempted"]))
        tr.collect_job_stats()
        if len(wl.name_pair_sets) > 1:
            print("perfbench: traced name pairs differ from fuzzy_match_pairs'",
                  file=sys.stderr)
            traced["failed"] = traced["attempted"]
        out["metrics"] = per_layer(wl, tr, traced, res["wall_s"] / max(1, res["attempted"]),
                                   getattr(wl, "register_s", None))
        out |= {"tracer": tr, "traced_wall_s": traced["wall_s"],
                "traced_ops": traced["attempted"]}
        res["attempted"] += traced["attempted"]
        res["failed"] += traced["failed"]
    info["cpu_steal_s"] = (cpu_steal_jiffies() - steal) / os.sysconf("SC_CLK_TCK")
    e2e, extra = end_to_end(wl, res, setup_s, sampler.peak)
    info.update(extra)
    if trace:
        info["untraced"] = {k: v["value"] for k, v in e2e.items()}
        info["note"] = ("per-layer times are estimates: forcing each layer's output "
                        "loses the plan fusion across layers (see trace.overhead)")
    else:
        out["metrics"] = e2e
    return out | {"info": info, "attempted": res["attempted"], "failed": res["failed"]}


def run(args) -> dict:
    """One benchmark invocation: pinned env, fresh session, one workload."""
    from perfbench.trace import RssSampler
    from perfbench.workloads import Sizes

    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    env = pin_environment(work)
    spark = None
    try:
        with RssSampler() as sampler:
            try:
                t0 = time.perf_counter()
                spark = bench_session(work)
                session_s = time.perf_counter() - t0
                result = run_workload(spark, args.workload, args.seed, args.seconds,
                                      bool(args.trace), Sizes(), work, sampler, session_s)
            finally:
                if spark is not None:
                    stop_spark(spark)
        result["info"]["env"] = env | {"jvm_opts": JVM_OPTS}
        if args.trace:
            trace_file = WORK_ROOT / "traces" / f"{args.workload}-{args.seed}.json"
            trace_file.parent.mkdir(parents=True, exist_ok=True)
            trace_file.write_text(json.dumps(result.pop("tracer").to_records(), indent=1))
            result["info"]["trace_file"] = str(trace_file.relative_to(ROOT))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()  # only when no traces are kept
        except OSError:
            pass
    return result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["resolve_batch", "resolve_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import fuzzy_item_matching_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps({"info": result["info"]}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
