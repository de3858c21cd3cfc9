"""Per-layer tracing from outside the program.

A :class:`Tracer` wraps each of the benchmark's calls into a library
layer in a span: it tags the Spark jobs the call starts with a job
group named after the span, and times the call (including the action
that materializes its output) on the driver. Spans stay in memory
until the run ends.

Spark's event log (uncompressed JSON lines) then gives the executor
side of every span: task run time, CPU time, shuffle bytes written,
bytes spilled to disk, Python worker time and output bytes, summed over
the tasks of the span's job group. The log is parsed after the
SparkContext stops, when every event has been flushed.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# executor-side counters summed per job group (see _task_counters)
COUNTERS = ("run_s", "cpu_s", "shuffle_mb", "spill_mb", "python_s", "output_mb", "python_rows")


class Span:
    __slots__ = ("name", "op", "start", "end", "rows_in", "rows_out", "group")

    def __init__(self, name: str, op: int):
        self.name = name
        self.op = op
        self.start = self.end = 0.0
        self.rows_in = self.rows_out = 0
        self.group = f"{name}#{op}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``enabled=False`` makes :meth:`span` a plain
    pass-through, so the untraced path runs the same code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, self.op)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "start": s.start, "end": s.end,
             "rows_in": s.rows_in, "rows_out": s.rows_out}
            for s in self.spans
        ]


def _python_row_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row counters of Arrow Python UDF
    plan nodes, collected from a SQL plan-info tree."""
    if "Python" in plan.get("nodeName", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for ch in plan.get("children", []):
        _python_row_ids(ch, out)


def _task_counters(ev: dict, python_ids: set[int]) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    acc = {}
    for a in ev.get("Task Info", {}).get("Accumulables", []):
        acc.setdefault(a.get("Name"), []).append(a)
    py_ms = sum(int(a.get("Update", 0)) for a in acc.get("time to run Python workers", []))
    py_rows = sum(
        int(a.get("Update", 0))
        for a in acc.get("number of output rows", [])
        if a.get("ID") in python_ids
    )
    return {
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "shuffle_mb": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6,
        "spill_mb": tm.get("Disk Bytes Spilled", 0) / 1e6,
        "python_s": py_ms / 1e3,
        "output_mb": tm.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6,
        "python_rows": py_rows,
    }


def group_counters(event_dir: str) -> dict[str, dict[str, float]]:
    """Parse every event log under ``event_dir`` → {job group: summed
    executor counters}. Tasks attribute to the group of the first job
    that listed their stage."""
    stage_group: dict[int, str] = {}
    python_ids: set[int] = set()
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    files = sorted(glob.glob(os.path.join(event_dir, "*", "events_*"))) or sorted(
        f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _python_row_ids(ev.get("sparkPlanInfo", {}), python_ids)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    tc = _task_counters(ev, python_ids)
                    acc = out[group]
                    for k in COUNTERS:
                        acc[k] += tc[k]
    return dict(out)
