"""Measurement from outside the program: spans around layer calls, the
streaming progress log, Spark's status tracker, and /proc sampling.

Nothing here reaches into the program's internals; spans wrap calls to its
public functions, and the counts come from Spark's public progress and
status APIs.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans (name, start, end, parent, workload, unit) kept in memory.

    Disabled, ``span`` costs one attribute test. Each thread nests its own
    spans; a span opened on another thread (the streaming callback) names
    its parent explicitly.
    """

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, unit=None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "workload": self.workload, "unit": unit}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield idx
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part of it its children cover, summed
        per layer (the name's first dotted component)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class ProgressLog(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` as a dict. ``recentProgress`` keeps
    only the last 100, so the benchmark registers its own listener."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def by_batch(self) -> dict[int, dict]:
        with self._lock:
            return {int(p["batchId"]): p for p in self.events}


def drain_listener_bus(spark) -> None:
    """Wait until Spark has delivered every posted event to its listeners
    (progress events and job/stage status arrive asynchronously)."""
    sc = getattr(spark, "sparkContext", spark)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:9]]
    return v[7], sum(v)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings: a noisy-host marker for the run record."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _proc_tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    st = fh.read()
            except OSError:
                continue
            parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
    tree, frontier = [root], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        tree += nxt
        frontier = nxt
    return tree


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the JVM this process launched and wait until every descendant
    (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)  # noqa: SLF001
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while len(_proc_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the live process tree, children it reaped
    included."""
    total = 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read()
        except OSError:
            continue
        v = f[f.rindex(")") + 2:].split()
        total += sum(int(x) for x in v[11:15])
    return total / TICK


class RssSampler:
    """Peak RSS of this process and its descendants (the driver JVM and
    the Python workers), sampled from /proc on a background thread.

    The peak is taken over a three-sample running median: a process the
    JVM forks shows the JVM's whole RSS for an instant before it execs,
    which one raw sample would count twice."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.samples.append(tree_rss_bytes(os.getpid()))

    @property
    def peak(self) -> int:
        xs = self.samples
        return max(sorted(xs[i:i + 3])[len(xs[i:i + 3]) // 2]
                   for i in range(max(1, len(xs) - 2)))


class JobCounter:
    """Spark jobs, tasks and failed tasks per unit of work, from the status
    tracker. Each unit's jobs carry a job tag; tasks are read after the
    listener bus drains, so the counts are complete and repeat exactly."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.tags: list[str] = []

    @contextmanager
    def unit(self, tag: str):
        if not self.enabled:
            yield
            return
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)
            self.tags.append(tag)

    def counts(self) -> list[tuple[int, int, int]]:
        """(jobs, tasks, failed tasks) per tagged unit, in order."""
        drain_listener_bus(self.sc)
        tracker = self.sc._jsc.sc().statusTracker()  # noqa: SLF001 — by tag
        out = []
        for tag in self.tags:
            jobs = list(tracker.getJobIdsForTag(tag))
            tasks = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info.isEmpty():
                    continue
                for sid in info.get().stageIds():
                    st = tracker.getStageInfo(sid)
                    if not st.isEmpty():
                        tasks += st.get().numCompletedTasks()
                        failed += st.get().numFailedTasks()
            out.append((len(jobs), tasks, failed))
        return out


def pct(values, q: float) -> float:
    """Percentile ``q`` (0..100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")
