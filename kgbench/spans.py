"""Process counters and the traced run's spans.

``ProcTree`` reads CPU time and resident memory of this process and all its
descendants (the JVM and the Python workers) from ``/proc``; executor CPU
time would miss the Python workers. ``RssSampler`` keeps the tree's peak
resident memory in a background thread.

``Tracer`` records spans in memory. Each span runs under its own Spark job
group, so the event log (enabled only in the traced run) attributes every
job, task, shuffle byte and output byte to exactly one span. A span's self
time is its duration minus the part its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def _stats(self) -> dict[int, list[str]]:
        """``/proc/<pid>/stat`` fields (after the command name) of the tree."""
        stats = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    raw = fh.read()
            except OSError:  # the process ended while we listed
                continue
            stats[int(name)] = raw[raw.rfind(")") + 2:].split()
        children = defaultdict(list)
        for pid, fields in stats.items():
            children[int(fields[1])].append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    def pids(self) -> list[int]:
        """Live descendants (the root excluded)."""
        return [p for p in self._stats() if p != self.root]

    def cpu_s(self) -> float:
        """utime + stime of live members plus what they reaped."""
        return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
                   for f in self._stats().values()) / _TICK

    def rss_mb(self) -> float:
        return sum(int(f[21]) for f in self._stats().values()) * _PAGE / 2**20


class RssSampler:
    """Peak process-tree RSS, sampled every ``interval`` seconds."""

    def __init__(self, tree: ProcTree, interval: float = 0.2):
        self.tree = tree
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())


SPANS = ("stage1.extract_statements", "fused.extract_tuples",
         "stage3.link_entities", "stage4.write", "stage4.lineage",
         "stage4.read", "runner.self")
COUNTERS = ("wall_s", "cpu_s", "jobs", "tasks", "failed_tasks", "shuffle_mb",
            "out_mb", "busy_ratio")


class Span:
    __slots__ = ("name", "group", "op", "parent", "t0", "t1", "cpu0", "cpu1",
                 "child_wall", "child_cpu")

    def __init__(self, name, group, op, parent):
        self.name, self.group, self.op, self.parent = name, group, op, parent
        self.child_wall = self.child_cpu = 0.0

    @property
    def self_wall(self) -> float:
        return self.t1 - self.t0 - self.child_wall

    @property
    def self_cpu(self) -> float:
        return self.cpu1 - self.cpu0 - self.child_cpu


class Tracer:
    """In-memory spans, one Spark job group each. ``overhead_s`` is the time
    measured ops spend in the tracer's own bookkeeping (``/proc`` reads,
    job-group calls)."""

    def __init__(self, spark, tree: ProcTree):
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = None
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        s = Span(name, f"kgbench:{len(self.spans)}:{name}", self.op, parent)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.cpu0 = self.tree.cpu_s()
        s.t0 = time.perf_counter()
        cost = s.t0 - t
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.cpu1 = self.tree.cpu_s()
            self.stack.pop()
            if parent is not None:
                parent.child_wall += s.t1 - s.t0
                parent.child_cpu += s.cpu1 - s.cpu0
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if s.op is not None:
                self.overhead_s += cost + time.perf_counter() - s.t1

    @contextlib.contextmanager
    def op_span(self, op: int):
        """The root span of one measured op; spans opened inside belong to
        op ``op``."""
        self.op = op
        try:
            with self.span("runner"):
                yield
        finally:
            self.op = None

    def wrap(self, owner, attr: str, name_of, static: bool = False):
        """Replace ``owner.attr`` for the rest of the process by a version
        that runs in a span named ``name_of(*args, **kwargs)``."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return original(*args, **kwargs)

        setattr(owner, attr, staticmethod(traced) if static else traced)


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, failed_tasks, shuffle_mb, out_mb, run_s
    (summed executor run time of its tasks)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                g = out[group]
                g["tasks"] += 1
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    g["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                g["run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 2**20
                g["out_mb"] += (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0) / 2**20
    return out


def span_counters(tracer: Tracer, events: dict, cores: int,
                  n_ops: int) -> dict[str, float]:
    """``<span>.<counter>`` per op, summed over the span's instances in each
    op and averaged over the traced ops. ``runner.self`` is the op root's
    self time and self counters."""
    totals = {(n, c): 0.0 for n in SPANS for c in COUNTERS}
    run_s = dict.fromkeys(SPANS, 0.0)
    for s in tracer.spans:
        name = "runner.self" if s.name == "runner" else s.name
        if name not in run_s or s.op is None:
            continue
        ev = events.get(s.group, {})
        totals[name, "wall_s"] += s.self_wall
        totals[name, "cpu_s"] += s.self_cpu
        for c in ("jobs", "tasks", "failed_tasks", "shuffle_mb", "out_mb"):
            totals[name, c] += ev.get(c, 0.0)
        run_s[name] += ev.get("run_s", 0.0)
    out = {}
    n = max(1, n_ops)
    for (name, c), v in totals.items():
        out[f"{name}.{c}"] = v / n
    for name in SPANS:
        wall = totals[name, "wall_s"]
        out[f"{name}.busy_ratio"] = run_s[name] / (wall * cores) if wall else 0.0
    return out
