"""Spans and Spark counters for the traced run.

Spans are recorded around the benchmark's own calls into each package
layer, kept in memory and written out once when the run ends. Spark's
counters come from its live status store (jobs per job group, stage
task metrics) and from each query's ``QueryExecution``; they are read
after a sweep or drain ends, outside its timed interval.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time

_FINAL_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange)\b")


class Tracer:
    """In-memory span recorder (epoch seconds); a disabled tracer records
    nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def record(self, name, start, end, parent=None, op=None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "start": start, "end": end,
                "parent": parent, "op": op,
            })
        return sid

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        """Time the body as a child of the innermost open span of this
        thread; yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self.record(name, time.time(), None,
                          stack[-1] if stack else None, op)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so
    the status store holds the metrics of all finished stages."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def group_counters(spark, group: str) -> dict:
    """Jobs, stages and task metrics of every job launched under the
    job group ``group``. Stages skipped through shuffle reuse are not
    counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    c = dict.fromkeys(
        ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
    c["jobs"] = len(jobs)
    for s in stage_ids:
        sd = store.lastStageAttempt(s)
        if sd.status().toString() != "COMPLETE":
            continue
        c["stages"] += 1
        c["tasks"] += sd.numTasks()
        c["executor_run_s"] += sd.executorRunTime() / 1e3
        c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        c["gc_s"] += sd.jvmGcTime() / 1e3
        c["input_mb"] += sd.inputBytes() / 2**20
        c["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
    return c


def plan_counters(df) -> dict:
    """Optimizer + physical-planning time of the query's action and the
    number of exchanges in its final (post-AQE) physical plan."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    optimize_ms = sum(
        phases.apply(p).durationMs()
        for p in ("optimization", "planning")
        if phases.contains(p)
    )
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    return {"optimize_s": optimize_ms / 1e3,
            "exchanges": len(_FINAL_EXCHANGE.findall(plan))}


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024
