"""Spans around the calls into the package, and the Spark event-log parser
that turns them into per-layer metrics.

A span is a named interval of the driver's wall clock. While it is open,
every Spark job the driver starts carries the span's name as its job group
(``spark.jobGroup.id``), so the event log attributes each task to the
innermost open span. A span's metrics include those of the spans nested
inside it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: per-span metric names, in report order
SPAN_FIELDS = (
    "wall_s", "build_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s", "idle_core_s",
    "gc_s", "shuffle_write_mb", "spill_mb", "output_mb", "task_failures",
    "python_s", "python_boot_s",
)
#: SQL metric names of the Python-worker timers (pyspark's PythonSQLMetrics)
PYTHON_RUN_METRIC = "time to run Python workers"
PYTHON_BOOT_METRIC = "time to start Python workers"
_MB = 1024 * 1024


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    build_s: float = 0.0


@dataclass
class Tracer:
    """Records spans; with ``enabled=False`` every method is a pass-through."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def _set_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1].name if self._stack else None
        sp = Span(name, parent, time.perf_counter())
        self._stack.append(sp)
        self._set_group(name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)

    def call(self, fn, *args, **kwargs):
        """Call a public package function; its duration counts as build
        time of every open span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            for sp in self._stack:
                sp.build_s += dt


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the uncompressed rolling event logs under ``log_dir``
    (``eventlog_v2_<app>/events_<n>_<app>``, Spark's default layout)."""
    events = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        for p in sorted(parts, key=lambda s: int(os.path.basename(s).split("_")[1])):
            with open(p) as f:
                events += [json.loads(line) for line in f if line.strip()]
    return events


def task_metrics_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group (jobs, tasks, run/CPU/GC time, shuffle
    write, spill, output, failures, Python worker time)."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str | None) -> dict[str, float]:
        return out.setdefault(group or "", dict.fromkeys(
            ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_mb",
             "spill_mb", "output_mb", "task_failures", "python_s", "python_boot_s"), 0.0))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            acc(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            a = acc(stage_group.get(ev.get("Stage ID")))
            a["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                a["task_failures"] += 1
            m = ev.get("Task Metrics") or {}
            a["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
            a["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / _MB
            a["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
            for u in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = u.get("Name")
                if name == PYTHON_RUN_METRIC:
                    a["python_s"] += float(u.get("Update", 0)) / 1e3
                elif name == PYTHON_BOOT_METRIC:
                    a["python_boot_s"] += float(u.get("Update", 0)) / 1e3
    return out


def span_metrics(spans: list[Span], by_group: dict[str, dict[str, float]],
                 cores: int) -> dict[str, dict[str, float]]:
    """Per-span metrics; a span includes the job groups of its descendants."""
    children: dict[str, set[str]] = {}
    for sp in spans:
        children.setdefault(sp.name, set())
        if sp.parent:
            children.setdefault(sp.parent, set()).add(sp.name)

    def subtree(name: str) -> set[str]:
        names = {name}
        for c in children.get(name, ()):
            names |= subtree(c)
        return names

    result: dict[str, dict[str, float]] = {}
    for sp in spans:
        r = result.setdefault(sp.name, dict.fromkeys(SPAN_FIELDS, 0.0))
        r["wall_s"] += sp.end - sp.start
        r["build_s"] += sp.build_s
    for name, r in result.items():
        for g in subtree(name):
            for k, v in by_group.get(g, {}).items():
                r[k] += v
        r["idle_core_s"] = r["wall_s"] * cores - r["exec_run_s"]
    return result
