"""Tests of the benchmark itself: span attribution, and the smoke run.

Run from the repository root with ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import EventLog, Span, Task, pass_layers  # noqa: E402


def _task(stage: int, launch: float, duration: float, python: dict | None = None) -> Task:
    return Task(
        stage=(stage, 0),
        launch=launch,
        duration=duration,
        run_s=duration,
        cpu_s=duration / 2,
        gc_s=0.0,
        wait_s=0.01,
        scan_bytes=100,
        shuffle_write_bytes=10,
        shuffle_read_bytes=10,
        spill_bytes=0,
        output_bytes=0,
        python=python or {},
    )


def test_pass_layers_attributes_by_wall_interval():
    whole = Span("pass", 100.0, 110.0)
    suite = Span("checks.suite", 101.0, 103.0)
    validate = Span("engine.validate_table", 104.0, 109.0)
    py = {"time to run Python workers": 0.5, "data sent to Python workers": 1000.0}
    log = EventLog(
        jobs=[99.0, 101.5, 102.0, 105.0, 111.0],
        stages=[101.6, 105.1],
        tasks=[
            _task(1, 101.7, 0.5),
            _task(2, 105.2, 1.0, py),
            _task(2, 105.3, 3.0, py),
            _task(2, 105.4, 1.0, py),
            _task(9, 111.5, 9.0),  # after the pass: not its work
        ],
    )
    m = pass_layers(log, [whole, suite, validate], whole)
    assert m["spark.jobs"] == 3
    assert m["checks.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 4
    assert m["checks.suite_s"] == 2.0
    assert m["engine.validate_table_s"] == 5.0
    assert m["engine.dispatch_s"] == 0.0
    assert m["arrow.run_s"] == 1.5
    assert m["arrow.bytes_sent"] == 3000.0
    assert m["spark.scan_bytes"] == 400
    assert m["engine.kernel_task_skew"] == 3.0  # max 3.0 s over median 1.0 s


def test_smoke_every_workload_reports_every_metric():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        capture_output=True,
        text=True,
        timeout=1500,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
