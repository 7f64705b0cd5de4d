"""Measurement instruments: spans, a process-tree sampler and a reader for
Spark's event log.

Nothing here imports pyspark, so the instruments cost the same whether or
not a run is traced.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end.

    Spans nest through a stack, so the benchmark must open them from one
    thread. Times are epoch seconds, the clock Spark's event log uses."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._stack.pop()

    def seconds(self, name: str) -> float:
        """Duration of the last span called `name`."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def with_self_time(self) -> list[dict]:
        """Spans plus `self_s`: duration minus the time child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered = union_seconds(children.get(i, []), s["start"], s["end"])
            out.append({**s, "id": i,
                        "self_s": s["end"] - s["start"] - covered})
        return out


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class ProcessTree:
    """Samples the RSS and CPU time of this process and all descendants
    (the driver's Python, the JVM and Spark's Python workers) from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss_bytes = 0
        self._cpu_ticks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self):
        stats = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:      # the process ended while we listed
                continue
            # fields[0] is field 3 of proc(5): state, ppid, ...
            stats[int(name)] = (int(fields[1]), int(fields[11]) +
                                int(fields[12]), int(fields[21]))
        tree, frontier = set(), [os.getpid()]
        while frontier:
            pid = frontier.pop()
            tree.add(pid)
            frontier += [c for c, (ppid, _, _) in stats.items()
                         if ppid == pid and c not in tree]
        rss = sum(stats[p][2] for p in tree if p in stats) * self._page
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
        for p in tree:
            if p in stats:
                self._cpu_ticks[p] = stats[p][1]

    @property
    def cpu_seconds(self) -> float:
        """CPU seconds of every process seen in the tree, up to its last
        sample."""
        return sum(self._cpu_ticks.values()) / self._tick


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole host from /proc/stat: the
    steal share shows time the hypervisor gave this machine's CPUs away."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class EventLog:
    """Jobs, stages and tasks read from one application's Spark event log
    (JSON lines; the benchmark turns compression and rolling off)."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.stages_run: set[int] = set()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000,
                        "end": None, "stages": set(ev["Stage IDs"])}
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = \
                        ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    self.stages_run.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "input": m.get("Input Metrics", {})
                        .get("Bytes Read", 0)})

    @staticmethod
    def find(log_dir: str, app_id: str) -> str:
        names = [n for n in os.listdir(log_dir)
                 if app_id in n and not n.endswith(".inprogress")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log for {app_id} in "
                               f"{log_dir}, found {names}")
        return os.path.join(log_dir, names[0])

    def jobs_between(self, lo: float, hi: float) -> list[dict]:
        return [j for j in self.jobs.values() if lo <= j["submit"] <= hi]

    def tasks_of(self, jobs: list[dict]) -> list[dict]:
        stages = set().union(*(j["stages"] for j in jobs)) if jobs else set()
        return [t for t in self.tasks if t["stage"] in stages]

    def phase(self, lo: float, hi: float) -> dict:
        """Totals over the jobs submitted in [lo, hi] (epoch seconds)."""
        jobs = self.jobs_between(lo, hi)
        tasks = self.tasks_of(jobs)
        stages = set().union(*(j["stages"] for j in jobs)) if jobs else set()
        busy = union_seconds([(j["submit"], j["end"] or hi) for j in jobs],
                             lo, hi)
        return {
            "jobs": len(jobs),
            "stages": len(stages & self.stages_run),
            "tasks": len(tasks),
            "driver_gap_s": (hi - lo) - busy,
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
            "task_skew": heaviest_stage_skew(tasks),
        }


def heaviest_stage_skew(tasks: list[dict]) -> float:
    """Max over median task run time in the stage with the most executor
    time: the straggler signal where it costs the most."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med else 0.0
