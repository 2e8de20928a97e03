"""Spans recorded around calls into the library, and the Spark event-log
metrics of the stages each span ran.

A span has a name, a start and end (``time.perf_counter``), a parent and
the id of the job it belongs to. Entering a span sets the Spark job group
to the span's id, so every stage the span triggers carries that id in the
event log; leaving it restores the parent's group. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Event-log metric -> (per-layer name, scale to the reported unit).
TASK_METRICS = {
    "Executor Run Time": ("spark.executor_run_s", 1e-3),
    "Executor CPU Time": ("spark.executor_cpu_s", 1e-9),
    "JVM GC Time": ("spark.gc_s", 1e-3),
    "Result Size": ("spark.result_bytes", 1),
}
SQL_METRICS = {
    "scan time": ("spark.scan_time_s", 1e-3),
    "data sent to Python workers": ("spark.python_in_bytes", 1),
    "data returned from Python workers": ("spark.python_out_bytes", 1),
    "time to run Python workers": ("spark.python_time_s", 1e-3),
}
SPARK_LAYER = [
    "spark.scan_time_s", "spark.python_in_bytes", "spark.python_out_bytes", "spark.python_time_s",
    "spark.shuffle_write_bytes", "spark.shuffle_fetch_wait_s", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.tasks", "spark.failed_tasks", "spark.result_bytes",
]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.job_id: int | None = None

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"], False)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"perfbench-{len(self.spans)}", "name": name, "job": self.job_id,
               "parent": parent["id"] if parent else None, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    @contextmanager
    def job(self, job_id: int):
        self.job_id = job_id
        with self.span("job") as rec:
            yield rec

    def self_times(self) -> None:
        """Annotate every span with its duration and self time (duration
        minus the time its children cover; children never overlap, because
        one driver thread runs them one after another)."""
        child_total: dict[str, float] = defaultdict(float)
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            if s["parent"]:
                child_total[s["parent"]] += s["dur_s"]
        for s in self.spans:
            s["self_s"] = s["dur_s"] - child_total[s["id"]]


def event_log_metrics(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """{job group -> {per-layer spark metric -> total}} from the
    uncompressed event log of application ``app_id``."""
    files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))) or sorted(
        glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    )
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_LAYER, 0.0))
    for path in files:
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    m = out[group]
                    m["spark.tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        m["spark.failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for key, (name, scale) in TASK_METRICS.items():
                        m[name] += tm.get(key, 0) * scale
                    m["spark.shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    m["spark.shuffle_fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) * 1e-3
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        hit = SQL_METRICS.get(acc.get("Name"))
                        if hit and isinstance(acc.get("Update"), (int, float, str)):
                            m[hit[0]] += float(acc["Update"]) * hit[1]
    return dict(out)
