"""Tracing for the benchmark's traced run: spans kept in memory, Spark
task metrics folded per job group from the event log, and streaming
progress from a `StreamingQueryListener`.

Nothing here changes the package: spans wrap calls made from the
benchmark's own files, the event log is switched on through a
benchmark-owned `SPARK_CONF_DIR`, and the listener is public API.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming.listener import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent, attributes) kept in memory and
    written out once, when the run ends.  ``enabled`` is switched per pass,
    so traced and untraced passes alternate inside one run."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's record; keys set on it inside the block are
        kept as attributes."""
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        record = {"id": next(self._ids), "parent": parent, "name": name, **attrs}
        self._stack.append(record["id"])
        record["start"] = time.perf_counter()
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(record)

    def total(self, name: str, self_time: bool = False) -> float:
        """Summed duration of spans called ``name``; with ``self_time``,
        minus the time their direct children cover."""
        spans = [s for s in self.spans if s["name"] == name]
        total = sum(s["end"] - s["start"] for s in spans)
        if self_time:
            ids = {s["id"] for s in spans}
            total -= sum(s["end"] - s["start"] for s in self.spans if s["parent"] in ids)
        return total

    def values(self, name: str, key: str) -> list:
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress event while ``tracer`` is on."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if not self.tracer.enabled:
            return
        p = event.progress
        ops = p.stateOperators or []
        self.batches.append(
            {
                "rows": p.numInputRows,
                "duration": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "dropped": sum(o.numRowsDroppedByWatermark for o in ops),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def metrics(self, passes: int) -> dict[str, float]:
        b = self.batches
        triggers = [x["duration"].get("triggerExecution", 0) for x in b]

        def per_pass(key):
            return sum(x["duration"].get(key, 0) for x in b) / passes

        return {
            "stream.batches": len(b) / passes,
            "stream.input_rows": sum(x["rows"] for x in b) / passes,
            "stream.trigger_ms_p50": statistics.median(triggers) if triggers else 0.0,
            "stream.add_batch_ms": per_pass("addBatch"),
            "stream.planning_ms": per_pass("queryPlanning"),
            "stream.wal_commit_ms": per_pass("walCommit"),
            "stream.state_rows": max((x["state_rows"] for x in b), default=0),
            "stream.state_memory_bytes": max((x["state_bytes"] for x in b), default=0),
            "stream.rows_dropped_by_watermark": sum(x["dropped"] for x in b) / passes,
            "stream.ms_per_batch": sum(triggers) / len(b) if b else 0.0,
        }


def fold_event_log(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Sum TaskEnd metrics of every job whose job group is in ``groups``."""
    # Spark 4 writes a rolling event-log directory per application.
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    jobs = tasks = 0
    run_ms = gc_ms = cpu_ns = sh_read = sh_write = spill = 0
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in groups:
                        jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if ev.get("Stage ID") not in stage_group:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    r = m.get("Shuffle Read Metrics") or {}
                    sh_read += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    sh_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    run_s = run_ms / 1000.0
    cpu_s = cpu_ns / 1e9
    return {
        "spark.jobs": jobs,
        "spark.tasks": tasks,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_per_run": cpu_s / run_s if run_s else 0.0,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.shuffle_read_bytes": sh_read,
        "spark.shuffle_write_bytes": sh_write,
        "spark.spill_bytes": spill,
    }
