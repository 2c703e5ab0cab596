"""Spans around layer calls, and the Spark event log read offline.

A traced pass opens one span around each public call into a layer.  A
span owns the Spark jobs submitted, the stages submitted and the tasks
launched inside its wall interval.  Jobs the checkpoint layer starts from
its own sink threads carry none of the calling thread's job properties, so
time is the one rule that attributes every job.  Spans are kept in memory
and the event log is parsed after the session stops, so neither adds to a
timed pass beyond the clock reads.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Span names; each gives the per-layer metric ``<name>_s``.
TIMED_SPANS = (
    "engine.detect_skew",
    "engine.validate_table",
    "engine.dispatch",
    "checkpoint.run",
    "checkpoint.resume",
    "checks.column_stats",
    "checks.uniqueness",
    "checks.referential",
    "checks.drift",
    "checks.suite",
)

# Spark 4.1 SQL metrics of the plan nodes that run Python workers
# (ArrowEvalPython, MapInPandas, ...), by display name.
_PY_RUN = "time to run Python workers"
_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_PY_ROWS = "number of output rows"
_SQL_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps its events with
    end: float = 0.0

    def covers(self, t: float) -> bool:
        return self.start <= t <= self.end


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` does nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(name, time.time())
        self.spans.append(s)
        try:
            yield
        finally:
            s.end = time.time()


@dataclass
class Task:
    stage: tuple[int, int]  # (stage id, attempt)
    launch: float
    duration: float
    run_s: float
    cpu_s: float
    gc_s: float
    wait_s: float  # scheduler delay, as the Spark UI computes it
    scan_bytes: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    output_bytes: int
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list[float] = field(default_factory=list)  # submission times
    stages: list[float] = field(default_factory=list)  # submission times
    tasks: list[Task] = field(default_factory=list)


def _python_accumulators(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _task(ev: dict, py_accums: dict[int, tuple[str, str]]) -> Task:
    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
    launch, finish = info["Launch Time"], info["Finish Time"]
    duration_ms = finish - launch
    run_ms = tm.get("Executor Run Time", 0)
    fetch = info.get("Getting Result Time", 0)
    getting_ms = finish - fetch if fetch else 0
    wait_ms = max(
        0,
        duration_ms
        - run_ms
        - tm.get("Executor Deserialize Time", 0)
        - tm.get("Result Serialization Time", 0)
        - getting_ms,
    )
    shuffle_read = tm.get("Shuffle Read Metrics", {})
    python: dict[str, float] = {}
    for acc in info.get("Accumulables", []):
        meta = py_accums.get(acc["ID"])
        if meta is not None and acc.get("Update") is not None:
            name, kind = meta
            python[name] = python.get(name, 0.0) + float(acc["Update"]) * _SCALE.get(kind, 1.0)
    return Task(
        stage=(ev["Stage ID"], ev["Stage Attempt ID"]),
        launch=launch / 1000,
        duration=duration_ms / 1000,
        run_s=run_ms / 1000,
        cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
        gc_s=tm.get("JVM GC Time", 0) / 1000,
        wait_s=wait_ms / 1000,
        scan_bytes=tm.get("Input Metrics", {}).get("Bytes Read", 0),
        shuffle_write_bytes=tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        shuffle_read_bytes=shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        spill_bytes=tm.get("Disk Bytes Spilled", 0),
        output_bytes=tm.get("Output Metrics", {}).get("Bytes Written", 0),
        python=python,
    )


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    py_accums: dict[int, tuple[str, str]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind in _SQL_EVENTS:
                _python_accumulators(ev["sparkPlanInfo"], py_accums)
            elif kind == "SparkListenerJobStart":
                log.jobs.append(ev["Submission Time"] / 1000)
            elif kind == "SparkListenerStageCompleted":
                submitted = ev["Stage Info"].get("Submission Time")
                if submitted is not None:
                    log.stages.append(submitted / 1000)
            elif kind == "SparkListenerTaskEnd":
                log.tasks.append(_task(ev, py_accums))
    return log


def _task_skew(tasks: list[Task]) -> float:
    """Median over the Arrow-UDF stages of max / median task time."""
    by_stage: dict[tuple[int, int], list[float]] = {}
    for t in tasks:
        if t.python:
            by_stage.setdefault(t.stage, []).append(t.duration)
    ratios = [
        max(d) / statistics.median(d)
        for d in by_stage.values()
        if len(d) > 1 and statistics.median(d) > 0
    ]
    return statistics.median(ratios) if ratios else 0.0


def pass_layers(log: EventLog, spans: list[Span], whole: Span) -> dict[str, float]:
    """Per-layer metrics of one traced pass, whose root span is ``whole``."""
    inner = [s for s in spans if s is not whole and whole.covers(s.start)]
    out = {f"{name}_s": 0.0 for name in TIMED_SPANS}
    for s in inner:
        out[f"{s.name}_s"] += s.end - s.start
    checks = [s for s in inner if s.name.startswith("checks.")]
    out["checks.jobs"] = sum(1 for t in log.jobs if any(s.covers(t) for s in checks))

    tasks = [t for t in log.tasks if whole.covers(t.launch)]
    py = [t.python for t in tasks]
    out.update(
        {
            "arrow.run_s": sum(p.get(_PY_RUN, 0.0) for p in py),
            "arrow.boot_s": sum(p.get(k, 0.0) for p in py for k in _PY_BOOT),
            "arrow.bytes_sent": sum(p.get(_PY_SENT, 0.0) for p in py),
            "arrow.bytes_received": sum(p.get(_PY_RECEIVED, 0.0) for p in py),
            "arrow.rows_received": sum(p.get(_PY_ROWS, 0.0) for p in py),
            "engine.kernel_task_skew": _task_skew(tasks),
            "spark.jobs": sum(1 for t in log.jobs if whole.covers(t)),
            "spark.stages": sum(1 for t in log.stages if whole.covers(t)),
            "spark.tasks": len(tasks),
            "spark.executor_run_s": sum(t.run_s for t in tasks),
            "spark.executor_cpu_s": sum(t.cpu_s for t in tasks),
            "spark.gc_s": sum(t.gc_s for t in tasks),
            "spark.scan_bytes": sum(t.scan_bytes for t in tasks),
            "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "spark.shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
            "spark.spill_bytes": sum(t.spill_bytes for t in tasks),
            "spark.output_bytes": sum(t.output_bytes for t in tasks),
            "spark.task_wait_s": sum(t.wait_s for t in tasks),
        }
    )
    return out
