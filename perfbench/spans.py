"""Spans, Spark job counts and memory sampling for the traced run.

Spans are recorded from the benchmark's own code around its calls into
each layer, kept in memory and written as JSON at exit. A span's layer
is the part of its name before the first dot (`plans.build` is in
`plans`), and a layer's self time is the time its spans cover minus
the part covered by their child spans.

Counts come from public Spark surfaces only: a job group set with
`SparkContext.setJobGroup` around each call, read back through
`statusTracker()`, and `StreamingQuery.recentProgress`, whose
micro-batch phases are rebuilt here as spans.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

# Order in which MicroBatchExecution runs a trigger's phases, with the
# layer each phase belongs to: offsets are fetched and logged, the batch
# is read, planned and written, and the offsets are committed.
PHASES = (
    ("latestOffset", "sources"),
    ("walCommit", "pipeline"),
    ("getBatch", "sources"),
    ("queryPlanning", "pipeline"),
    ("addBatch", None),  # the sink's layer, or pipeline for a memory sink
    ("commitOffsets", "pipeline"),
)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "run_id": self.run_id, **attrs,
        })
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0,
                       self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def add_progress(self, progress: list[dict], parent, sink_layer: str) -> None:
        """One `microbatch` span per data micro-batch, with one child
        per `durationMs` phase laid end to end from the trigger start."""
        for p in progress:
            if not p.get("numInputRows"):
                continue
            d = p["durationMs"]
            t0 = _epoch(p["timestamp"])
            mb = self.add("pipeline.microbatch", t0,
                          t0 + d["triggerExecution"] / 1000.0, parent,
                          batch_id=p["batchId"], rows=p["numInputRows"])
            t = t0
            for phase, layer in PHASES:
                ms = d.get(phase, 0)
                self.add(f"{layer or sink_layer}.{phase}", t, t + ms / 1000.0, mb)
                t += ms / 1000.0

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"]
            own -= _covered(s["start"], s["end"], children.get(s["id"], []))
            out[layer] = out.get(layer, 0.0) + max(own, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


class JobCounter:
    """Spark jobs, stages and tasks launched under a job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    @contextmanager
    def group(self, group_id: str):
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group_id: str) -> dict[str, int]:
        jobs = stages = tasks = 0
        for jid in self.tracker.getJobIdsForGroup(group_id):
            jobs += 1
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus the Spark JVM, sampled
    from /proc every `interval` seconds on a daemon thread."""

    def __init__(self, jvm_pid: int | None, interval: float = 0.25) -> None:
        self.pids = [os.getpid()] + ([jvm_pid] if jvm_pid else [])
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
