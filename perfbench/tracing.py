"""Tracing for the benchmark: spans, Spark event-log counters, memory.

Spans wrap the benchmark's own calls into the program's public
functions. They are kept in memory and written out when the run ends.
Spark counters come from Spark's uncompressed event log and are
attributed to spans by time window: a job belongs to the span during
which it was submitted, and a task to its stage's job.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span recorder. Spans are dicts with name, start, end
    (epoch seconds), parent (span id or None), run_id and id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = {"id": len(self.spans), "name": name, "start": time.time(),
             "end": None, "parent": self._stack[-1] if self._stack else None,
             "run_id": self.run_id}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


class EventLogSwitch:
    """Detaches and re-attaches Spark's event-log listener, so untraced
    operations in a traced run are not logged (and do not pay for it)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        opt = self._sc.eventLogger()
        if not opt.isDefined():
            raise RuntimeError("the session has no event log")
        self._listener = opt.get()
        self.attached = True

    def detach(self) -> None:
        if self.attached:
            self._sc.listenerBus().waitUntilEmpty()
            self._sc.removeSparkListener(self._listener)
            self.attached = False

    def attach(self) -> None:
        if not self.attached:
            self._sc.listenerBus().addToEventLogQueue(self._listener)
            self.attached = True


def read_event_log(path: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, per-stage task totals) from an uncompressed event log.

    jobs: [{"id", "submit" (epoch s), "stages": [ids]}]
    stages: {stage_id: {"tasks", "run_s", "cpu_s", "gc_s",
                        "shuffle_write_b", "spill_b"}}"""
    jobs: list[dict] = []
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs.append({"id": e["Job ID"],
                             "submit": e["Submission Time"] / 1000.0,
                             "stages": list(e["Stage IDs"])})
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                st = stages[e["Stage ID"]]
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                st["spill_b"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
    return jobs, stages


COUNTERS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_b",
            "spill_b")


def attribute(jobs: list[dict], stages: dict[int, dict],
              windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Sum Spark counters per window key. A job goes to the first window
    whose [start, end] holds its submission time; jobs in no window go
    to the key "other"."""
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    seen_stages: set[int] = set()
    for j in jobs:
        key = next((k for k, a, b in windows if a <= j["submit"] <= b),
                   "other")
        acc = out[key]
        acc["jobs"] += 1
        for sid in j["stages"]:
            # a stage shared by two jobs (reused shuffle) counts once
            if sid in seen_stages or sid not in stages:
                continue
            seen_stages.add(sid)
            for c in COUNTERS[1:]:
                acc[c] += stages[sid][c]
    return out


def _tree(root: int) -> list[int]:
    """root and all its descendants, from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by root's process tree: the driver, the JVM and the Python workers.
    A guest's CPU time leaves out time the host stole from it."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / TICK


class RssSampler:
    """Samples the resident memory of this process tree (the driver, the
    JVM and the Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
