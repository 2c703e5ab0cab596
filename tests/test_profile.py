"""The per-query job-count guard: ``tools/profile.py --check`` against the
committed layer record (``BENCH_layers_r20.json``) at sf0.01."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))
RECORD = "BENCH_layers_r20.json"
# Cheap queries (about 1 s each at sf0.01): an aggregate, a broadcast
# anti-join and a histogram.
QUERIES = ["dup_keys_events", "ri_orphans", "hist_lang_size"]


def test_profile_check_holds_recorded_job_counts():
    """No query runs more Spark jobs than the committed record holds."""
    with open(ROOT / RECORD) as fh:
        recorded = json.load(fh)["sf0.01"]
    assert all(recorded[q]["spark.jobs"] > 0 for q in QUERIES)
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=str(TESTDATA / "sf0.01"),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "tools/profile.py", "--check", RECORD, *QUERIES],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["queries"] == len(QUERIES)
    assert summary["over_job_ceiling"] == 0
