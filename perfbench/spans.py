"""Spans around the benchmark's calls into the package, and the fold of
Spark's event log that charges every job, task, shuffle byte and spilled
byte to the call that caused it.

A span is opened from the benchmark's side around one public call (or
one HTTP request). While tracing is on, the span also names the Spark
job group, so every job the call launches carries the call's module
path in its properties. Structured Streaming runs its micro-batches on
its own thread under a job group equal to the query's ``runId``; the
workload registers that id with ``charge_stream`` so those jobs are
charged to the call that started the query.

With tracing off, ``span`` only yields: the end-to-end numbers are
measured without job groups or an event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

#: Counters folded from the event log, per call.
EVENT_COUNTERS = (
    "jobs",
    "tasks",
    "shuffle_bytes",
    "spill_bytes",
    "executor_cpu_s",
    "max_task_ms",
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.walls: dict[str, list[float]] = defaultdict(list)
        self._group_to_call: dict[str, str] = {}

    @contextmanager
    def span(self, call: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(call, call)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[call].append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def charge_stream(self, run_id: str, call: str) -> None:
        if self.enabled:
            self._group_to_call[str(run_id)] = call

    def median_wall(self, call: str) -> float:
        walls = self.walls.get(call)
        return statistics.median(walls) if walls else 0.0

    def fold_event_log(self, log_dir: str) -> dict[str, dict[str, float]]:
        """Sum the event log's job and task facts per call. Call after the
        SparkContext has stopped, so the log is complete."""
        (path,) = [
            p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")
        ]
        stage_call: dict[int, str] = {}
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(EVENT_COUNTERS, 0.0)
        )
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    call = self._group_to_call.get(group, group)
                    if call is None:
                        continue
                    out[call]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_call.setdefault(sid, call)
                elif kind == "SparkListenerTaskEnd":
                    call = stage_call.get(ev.get("Stage ID"))
                    if call is None:
                        continue
                    acc = out[call]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    acc["tasks"] += 1
                    acc["shuffle_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["max_task_ms"] = max(
                        acc["max_task_ms"],
                        info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    )
        return dict(out)


def dir_output(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written output directory, leaving out
    commit markers and checksum files."""
    files = n_bytes = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            n_bytes += os.path.getsize(os.path.join(root, name))
    return files, n_bytes
