"""Spans around the benchmark's calls into each layer, and Spark counters.

Spans are kept in memory and written out once, when the run ends. A span
names the layer it enters (``session``, ``registry``, ``queries``,
``operators``, ``spark``, ``streaming``); spans of one workload op share
the op's trace id. Spark counters come from the status store, scoped to
the job group the benchmark sets around each call, and are read after the
call has returned.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: Spark status-store stage fields summed per job group
#: (``executor_cpu`` is reported by Spark in nanoseconds).
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "result_bytes": "resultSize",
}


class Tracer:
    """In-memory span log. ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace_id,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it
        that its direct children cover (children never overlap here)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - c
            )
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "self_time_s": self.self_times(), **extra},
                fh,
                indent=1,
                default=str,
            )


def group_counters(spark, group: str) -> dict[str, int]:
    """Jobs, stages and summed stage metrics of one Spark job group.

    Waits for the listener bus first, so every event of the group's jobs
    has reached the status store. Skipped stages (shuffle output reused)
    are not counted.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            data = store.lastStageAttempt(stage_id)
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, field in STAGE_FIELDS.items():
                out[key] += getattr(data, field)()
    return out


def add_counters(total: dict, part: dict) -> None:
    for key, value in part.items():
        total[key] = total.get(key, 0) + value
