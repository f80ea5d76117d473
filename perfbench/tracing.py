"""In-memory tracing for the benchmark's own calls into the program.

- ``Tracer``: spans (name, layer, start, end, parent, request id), kept in
  memory and written out once at the end; per-layer self time is a span's
  duration minus the part its child spans cover.
- ``SparkCounter``: Spark jobs / stages / tasks attributed to one call
  through a per-thread job group and ``SparkContext.statusTracker()``.
- ``MemSampler``: peak memory (PSS) of the driver JVM and its Python
  workers (every descendant process of this one).
- ``HostNoise``: hypervisor steal jiffies, load average and a CPU
  calibration loop, diagnostics that let an outlier run be attributed.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

LAYERS = ("session", "analysis", "index.build", "index.codec",
          "index.segments", "search.request", "search.executor",
          "search.wand", "search.spans", "search.fetchphase")


class Tracer:
    """Span recorder. Disabled tracers cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str, rid: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "name": name, "layer": layer,
                                   "start": t0, "end": t1, "parent": parent,
                                   "rid": rid})

    def self_seconds(self) -> dict[str, float]:
        """Per-layer self time: span durations minus their children's."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) \
                    + s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) \
                + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkCounter:
    """Jobs, stages and tasks run by the calling thread inside ``count``."""

    def __init__(self, sc):
        self.sc = sc
        self._ids = itertools.count(1)

    @contextmanager
    def count(self, out: dict):
        group = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    stages += 1
                    sinfo = st.getStageInfo(sid)
                    tasks += sinfo.numTasks if sinfo else 0
            out.update(jobs=len(jobs), stages=stages, tasks=tasks)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (the Python workers forked from
    one daemon share most of theirs) are split between their users, so
    the sum over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Samples the summed PSS of this process's descendants (the driver
    JVM and the Python workers it forks) every ``period`` seconds."""

    # one sample reads smaps_rollup of a 2 GB pre-touched JVM heap, ~40 ms
    # of kernel time on a 4-core host; a faster period steals CPU from the
    # loop it measures
    def __init__(self, period: float = 1.0):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _cpu_calib_ms() -> float:
    """A fixed single-thread loop; its time tracks the host's CPU speed."""
    t0 = time.perf_counter()
    sum(range(3_000_000))
    return 1000 * (time.perf_counter() - t0)


class HostNoise:
    """Steal jiffies over the run, the load average at its start, and a
    CPU calibration loop timed at start and end."""

    def __init__(self):
        with open("/proc/loadavg") as f:
            self.loadavg = [float(x) for x in f.read().split()[:3]]
        self._steal0 = steal_jiffies()
        self._calib0 = _cpu_calib_ms()

    def report(self) -> dict:
        return {"steal_jiffies": steal_jiffies() - self._steal0,
                "loadavg_at_start": self.loadavg,
                "cpu_calib_ms": [round(self._calib0, 2),
                                 round(_cpu_calib_ms(), 2)]}
