"""In-memory spans and counters for the traced benchmark run.

A span is (name, start, end, parent span id, batch id). Spans are kept
in a list, written out once when the run ends, and reduced to per-name
totals and self times (a span's duration minus the time its child
spans cover). The untraced run uses ``NullTracer``, whose span is a
no-op, so both runs execute the same calls in the same order.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        yield


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "batch": batch,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (span count, total seconds, self seconds). Children of
        one span run one after another, so their durations add up."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], [0, 0.0, 0.0])
            agg[0] += 1
            agg[1] += d
            agg[2] += d - child_s[s["id"]]
        return {k: (v[0], v[1], v[2]) for k, v in out.items()}


class JobGroupCounter:
    """Exact Spark job/stage/task counts per job group, read from the
    status tracker once the listener bus has delivered every event."""

    def __init__(self, sc):
        self.sc = sc

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def end(self, group: str) -> tuple[int, int, int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None:  # None: a skipped stage that never ran
                    stages += 1
                    tasks += st.numTasks
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return len(jobs), stages, tasks


def state_probe(sc) -> tuple[int, float]:
    """(persistent RDD count, MB held by RDD storage) on the JVM side."""
    n = sc._jsc.getPersistentRDDs().size()
    mb = sum(
        (i.memSize() + i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo()
    ) / 1e6
    return n, mb


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(sc) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
