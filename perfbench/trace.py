"""Spans, per-span Spark job counts and process-tree memory.

A traced run wraps each call into an engine layer in ``Tracer.span``.
A span records its name, start, end, parent, workload and batch id,
and runs its Spark actions under its own job group, so the jobs,
stages and tasks it launched can be read back from ``statusTracker()``
(which works with the UI disabled). Spans stay in memory until the run
ends. An untraced run uses the same calls with ``enabled=False``: no
span is recorded and no output is forced.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    workload: str
    batch: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._group_prefix = f"perfbench-{os.getpid()}-"

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.workload, batch, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(self._group_prefix + str(s.id), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group_prefix + str(parent.id), parent.name)
            else:
                sc.setJobGroup(self._group_prefix + "other", "outside spans")

    def force(self, df):
        """Persist and count ``df`` inside a traced span, so the span's
        time is the time to produce that layer's output. Untraced runs
        return ``df`` unchanged (lazy) and the count is None."""
        if not self.enabled:
            return df, None
        df = df.persist()
        return df, df.count()

    def collect_job_stats(self) -> None:
        """Fill jobs/stages/tasks of every span from the status tracker
        (own jobs only; children's jobs ran under their own group)."""
        st = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            for jid in st.getJobIdsForGroup(self._group_prefix + str(s.id)):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        s.stages += 1
                        s.tasks += stage.numTasks

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        return s.duration - sum(c.duration for c in self.children(s))

    def subtree(self, s: Span) -> list[Span]:
        out = [s]
        for c in self.children(s):
            out.extend(self.subtree(c))
        return out

    def to_records(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent,
             "workload": s.workload, "batch": s.batch,
             "start": s.start, "end": s.end, "self_s": self.self_time(s),
             "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks,
             "counts": s.counts}
            for s in self.spans
        ]


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU time (user + system) of the process tree, including children
    that have exited and been reaped inside the tree. Time the host
    steals from the VM is not in it."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the process tree, each shared page counted
    once. Python processes count their proportional set size (Pss):
    plain RSS would count the pages forked Python workers share with
    their parent once per worker. The JVM shares no pages with the
    tree, so its RSS is read from ``status``, which is cheap; Pss of a
    JVM walks its whole page table and stalls its page faults."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    total += _status_kb(pid, "VmRSS:") * 1024
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process has exited
            continue
    return total


RSS_INTERVAL_S = 0.5


class RssSampler:
    """Background thread sampling the summed resident memory of this
    process tree (driver, JVM, Python workers) every RSS_INTERVAL_S."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
