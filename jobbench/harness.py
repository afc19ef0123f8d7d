"""Measurement primitives for the job-level benchmark.

The pure helpers (tree-CPU delta, span self time, bytes-written diff,
percentile choice) are unit-tested in
``test_harness.py``; the ``/proc`` readers and the span recorder wrap
them for live runs. Nothing here imports pyspark at module level, so the
self-tests run without a JVM.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

# -- pure helpers ------------------------------------------------------


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU-seconds the process tree burned between two snapshots.

    The plain sum difference is exact while dead workers are reaped
    inside the tree: their counters move into the parent's children
    counters. A worker orphaned mid-window takes its CPU out of the
    tree and can pull the difference negative, so it is floored at 0."""
    return max(0.0, sum(after.values()) - sum(before.values()))


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of [start, end] its children cover.

    Children are clipped to the parent and overlapping children count
    once (the union of their intervals)."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in children if min(e, end) > max(s, start)
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new or changed size between two listings
    (path -> size). Deleted files write nothing and count 0."""
    return sum(size for path, size in after.items() if before.get(path) != size)


def _rank(n: int, p: float) -> int:
    """Nearest rank of percentile ``p`` in ``n`` samples, ceil(n * p / 100),
    in exact tenths of a percent so 99.9 of 10000 is rank 9990."""
    return max(1, -(-n * round(p * 10) // 1000))


def tail_percentile(n_samples: int) -> float | None:
    """The highest percentile of the ladder that has at least ten samples
    beyond it, or None when the sample is too small for any of them."""
    best = None
    for p in (50.0, 90.0, 95.0, 99.0, 99.9):
        if n_samples - _rank(n_samples, p) >= 10:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample value itself, no interpolation)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    return sorted(values)[_rank(len(values), p) - 1]


# -- /proc readers -----------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_pids(root: int) -> list[int]:
    ppid_of: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid_of[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    mine = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in ppid_of.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return sorted(mine)


def tree_cpu(root: int | None = None) -> dict[int, float]:
    """Per-pid utime+stime+cutime+cstime of the tree under ``root``
    (the benchmark process, its JVM and every Python worker)."""
    out: dict[int, float] = {}
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        out[pid] = sum(int(rest[i]) for i in (11, 12, 13, 14)) / _HZ
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it. Forked Python workers share most of
    the daemon's pages, so summing plain RSS would count them per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident memory of the process tree, shared pages counted once."""
    return sum(_pss_bytes(pid) for pid in _tree_pids(root or os.getpid()))


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU-seconds of the whole host since boot; busy is
    everything but idle and iowait, steal included."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return (sum(vals[:8]) - idle) / _HZ, steal / _HZ


def dir_listing(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root`` (empty if absent)."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                out[p] = os.stat(p).st_size
            except OSError:
                continue
    return out


class RssSampler:
    """Peak RSS of the process tree, sampled on a background thread."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


class HostNoise:
    """CPU burned outside the process tree (steal included) over a window."""

    def __enter__(self) -> "HostNoise":
        self._t0 = time.perf_counter()
        self._busy0, self._steal0 = host_cpu()
        self._tree0 = tree_cpu()
        return self

    def __exit__(self, *exc) -> None:
        wall = max(time.perf_counter() - self._t0, 1e-9)
        busy, steal = host_cpu()
        tree = cpu_delta(self._tree0, tree_cpu())
        self.ext_cores = max(0.0, (busy - self._busy0) - tree) / wall
        self.steal_cores = (steal - self._steal0) / wall


# -- spans -------------------------------------------------------------


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Each span runs its Spark jobs under its
    own job group, so ``statusTracker`` attributes jobs and tasks to it;
    CPU is the process-tree delta over the span. Spans are written out
    once, by ``dump``, when the traced run ends."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping itself

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def self_time(self, span: Span) -> float:
        return self_time(
            span.start, span.end, [(c.start, c.end) for c in self.children(span)]
        )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = []
        for s in self.spans:
            rows.append(
                {
                    "name": s.name,
                    "span_id": s.span_id,
                    "parent": s.parent,
                    "run_id": s.run_id,
                    "start": s.start,
                    "end": s.end,
                    "self_s": self.self_time(s),
                    **s.attrs,
                }
            )
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer = tracer
        parent = tracer._stack[-1].span_id if tracer._stack else None
        self.span = Span(name, len(tracer.spans), parent, tracer.run_id, 0.0, attrs=attrs)

    def __enter__(self) -> Span:
        t0 = time.perf_counter()
        t = self.tracer
        self._group = f"{t.run_id}/{self.span.span_id}"
        t.spark.sparkContext.setJobGroup(self._group, self.span.name)
        t.spans.append(self.span)
        t._stack.append(self.span)
        self._cpu0 = tree_cpu()
        self.span.start = time.perf_counter()
        t.overhead_s += self.span.start - t0
        return self.span

    def __exit__(self, *exc) -> None:
        t = self.tracer
        s = self.span
        s.end = time.perf_counter()
        cpu = cpu_delta(self._cpu0, tree_cpu())
        t._stack.pop()
        sc = t.spark.sparkContext
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group)
        tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                tasks += st.numTasks if st else 0
        own_jobs = len(jobs)
        kids = t.children(s)
        s.attrs.update(
            wall_s=s.end - s.start,
            cpu_s=cpu,
            spark_jobs=own_jobs + sum(k.attrs.get("spark_jobs", 0) for k in kids),
            spark_tasks=tasks + sum(k.attrs.get("spark_tasks", 0) for k in kids),
        )
        if t._stack:
            sc.setJobGroup(f"{t.run_id}/{t._stack[-1].span_id}", t._stack[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
        t.overhead_s += time.perf_counter() - s.end


# -- executed-plan SQL metrics ----------------------------------------

_PY_NODE_MARKERS = ("Python", "InPandas", "InArrow")


def run_plan(df) -> tuple[int, dict]:
    """Execute ``df``'s OWN query plan (no new plan for the action) and
    read its SQL metrics: returns (rows, metrics) where metrics sums
    ``shuffleBytesWritten`` over exchanges, ``pythonTotalTime``/
    ``pythonInitTime``/``pythonBootTime`` over Python nodes (seconds),
    and counts file scans."""
    jvm = df.sparkSession.sparkContext._jvm
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out = {
        "shuffle_bytes": 0,
        "python_time_s": 0.0,
        "python_init_s": 0.0,
        "python_boot_s": 0.0,
        "file_scans": 0,
    }

    def metric_s(m) -> float:
        v = m.value()
        kind = m.metricType()
        return v / 1e9 if kind == "nsTiming" else v / 1e3

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.finalPhysicalPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        metrics = conv.asJava(node.metrics())
        if "shuffleBytesWritten" in metrics:
            out["shuffle_bytes"] += metrics["shuffleBytesWritten"].value()
        if any(k in cls for k in _PY_NODE_MARKERS):
            for key, name in (
                ("python_time_s", "pythonTotalTime"),
                ("python_init_s", "pythonInitTime"),
                ("python_boot_s", "pythonBootTime"),
            ):
                if name in metrics:
                    out[key] += metric_s(metrics[name])
        if cls.startswith("FileSourceScan"):
            out["file_scans"] += 1
        for c in conv.asJava(node.children()):
            walk(c)

    walk(qe.executedPlan())
    return rows, out
