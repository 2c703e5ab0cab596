"""One-notch scale-up evidence (round-3 item 8): the 8M-row scaling
corpus × ~4 — verifies that (a) kernel throughput holds at 10× the
bench.py corpus measure, (b) the 60-sum SimHash wide-agg's one-time
Catalyst compile amortizes at scale (first run vs steady state), and
(c) nothing in the validate plan degrades super-linearly.

Usage: python BENCH/run_large.py [--rows 30000000] [--cpus 32]
Writes BENCH/LARGE.md and prints a JSON summary.  Needs a QUIET
machine (same protocol as run_scaling.py) and ~25 GB scratch.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import tempfile
from datetime import datetime, timezone
from pathlib import Path
from shutil import which as shutil_which

REPO = Path(__file__).resolve().parent.parent

_WORKER = r"""
import json, sys, time
sys.path.insert(0, "__REPO__")
from medea_spark.corpus import corpus_schema_graph, generate_corpus
from medea_spark.engine import validate_table
from medea_spark.engine.session import get_spark
from medea_spark.pipeline.dedup import simhash

cpus = int(sys.argv[1]); rows = int(sys.argv[2]); path = sys.argv[3]
spark = get_spark(app_name=f"medea-large-{rows}", cores=cpus,
                  shuffle_partitions=max(2 * cpus, 32))
spark.sparkContext.setLogLevel("ERROR")

t0 = time.monotonic()
generate_corpus(spark, rows, seed=42, num_partitions=cpus * 4, heft=8,
                unique_content=True).write.mode("overwrite").parquet(path)
gen_sec = time.monotonic() - t0
corpus = spark.read.parquet(path)
graph = corpus_schema_graph()

def validate_pass():
    run = validate_table(corpus, graph, num_partitions=max(2 * cpus, 32),
                         skewed_keys=["repo-mono"])
    return run.summary.collect()

summary = validate_pass()  # warm-up: Python workers + codegen
times = []
for _ in range(2):
    t0 = time.monotonic(); summary = validate_pass()
    times.append(time.monotonic() - t0)
n = sum(r["rows"] for r in summary)
v = sum(r["violation_count"] for r in summary)

# Wide-agg amortization: 60-sum SimHash over the corpus text.  First
# run pays the one-time Catalyst/codegen compile; the repeat is the
# steady state the compile amortizes into at scale / per long-lived JVM.
def simhash_pass():
    simhash(corpus, "path", "content").write.format("noop").mode("overwrite").save()

t0 = time.monotonic(); simhash_pass(); sim_first = time.monotonic() - t0
t0 = time.monotonic(); simhash_pass(); sim_steady = time.monotonic() - t0

print("RESULT " + json.dumps({
    "cpus": cpus, "rows": n, "violations": v, "gen_sec": round(gen_sec, 1),
    "validate_sec_best": round(min(times), 2),
    "validate_runs": [round(t, 2) for t in times],
    "files_per_sec": round(n / min(times), 1),
    "violations_per_sec": round(v / min(times), 1),
    "simhash_first_sec": round(sim_first, 2),
    "simhash_steady_sec": round(sim_steady, 2),
}))
"""


_SKEW_WORKER = r"""
import json, sys, time, urllib.request
sys.path.insert(0, "__REPO__")
from medea_spark.corpus import corpus_schema_graph, generate_corpus
from medea_spark.engine import PART_ID, SALT_ID, validate_table, with_partition_columns
from medea_spark.engine.session import get_spark

cpus = int(sys.argv[1]); rows = int(sys.argv[2]); path = sys.argv[3]

def clustered(df, n, skewed=None):
    # The salted (part_id, salt_id) exchange of a checkpointed run's
    # stage write, placed in front of the kernel so its tasks inherit
    # the exchange's balance (or, unsalted, its straggler).
    return with_partition_columns(df, n, skewed_keys=skewed).repartition(
        n, PART_ID, SALT_ID)
# The Spark UI is normally off; the skew bench needs its REST API for
# per-task runtime quantiles of the kernel stage.
spark = get_spark(app_name=f"medea-skew-{rows}", cores=cpus,
                  shuffle_partitions=max(2 * cpus, 32),
                  extra_conf={"spark.ui.enabled": "true"})
spark.sparkContext.setLogLevel("ERROR")
api = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{spark.sparkContext.applicationId}"

def _get(url):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())

def completed_stage_ids():
    return {(s["stageId"], s["attemptId"]) for s in _get(f"{api}/stages?status=complete")}

def kernel_stage_summary(before):
    stages = [s for s in _get(f"{api}/stages?status=complete")
              if (s["stageId"], s["attemptId"]) not in before
              and s["numCompleteTasks"] > 0]
    # Identify the kernel stage as the one with the LONGEST single task:
    # summing executorRunTime instead picks the wide-but-cheap scan/
    # exchange stage over a stage whose one straggler IS the story.
    best = None
    for s in stages:
        q = _get(f"{api}/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                 "?quantiles=0.5,0.99,1.0")
        ms = q["executorRunTime"]
        cand = {"tasks": s["numCompleteTasks"],
                "task_p50_s": round(ms[0] / 1000, 2),
                "task_p99_s": round(ms[1] / 1000, 2),
                "task_max_s": round(ms[2] / 1000, 2)}
        if best is None or cand["task_max_s"] > best["task_max_s"]:
            best = cand
    return best

t0 = time.monotonic()
# giant_share_pct=50: one monorepo holds ~half of all rows.  n_repos is
# raised to 1024 so the NORMAL repos hash smoothly across partitions —
# with the generator default of 64 repos into 64 partitions, normal-repo
# balls-in-bins collisions add a ~2-3x baseline skew that has nothing to
# do with the monorepo the bench is isolating.
generate_corpus(spark, rows, seed=42, num_partitions=cpus * 4, heft=8,
                unique_content=True, giant_share_pct=50, n_repos=1024
                ).write.mode("overwrite").parquet(path)
gen_sec = time.monotonic() - t0
corpus = spark.read.parquet(path)
graph = corpus_schema_graph()

# Warm the Arrow worker pool so neither variant is charged imports.
validate_table(clustered(corpus.limit(50_000), cpus), graph,
               num_partitions=cpus).summary.collect()

out = {"cpus": cpus, "gen_sec": round(gen_sec, 1)}
for name, skewed in (("salted", ["repo-mono"]), ("unsalted", None)):
    before = completed_stage_ids()
    t0 = time.monotonic()
    parts = max(2 * cpus, 32)
    run = validate_table(clustered(corpus, parts, skewed), graph,
                         num_partitions=parts, skewed_keys=skewed)
    summary = run.summary.collect()
    wall = time.monotonic() - t0
    s = kernel_stage_summary(before)
    s["wall_s"] = round(wall, 2)
    s["rows"] = sum(r["rows"] for r in summary)
    out[name] = s

print("RESULT " + json.dumps(out))
"""


def run_skew(args) -> None:
    scratch = tempfile.mkdtemp(prefix="medea_skew_")
    path = f"{scratch}/corpus.parquet"
    script = _SKEW_WORKER.replace("__REPO__", str(REPO))
    cmd = [sys.executable, "-c", script, str(args.cpus), str(args.rows), path]
    if shutil_which("taskset"):
        cmd = ["taskset", "-c", f"0-{args.cpus - 1}"] + cmd
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=str(REPO))
    except subprocess.CalledProcessError as exc:
        sys.stderr.write(exc.stdout or "")
        sys.stderr.write(exc.stderr or "")
        raise
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    res = None
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            res = json.loads(line[len("RESULT "):])
    if res is None:
        raise RuntimeError(f"no RESULT line:\n{out.stdout}\n{out.stderr}")
    print(json.dumps(res, indent=2))

    sa, un = res["salted"], res["unsalted"]
    md = f"""

## Skew stress: giant monorepo at ~50% of rows ({args.rows:,} rows)

Generated {datetime.now(timezone.utc).isoformat(timespec='seconds')} by
`python BENCH/run_large.py --skew --rows {args.rows} --cpus {args.cpus}`
(taskset-pinned local[{args.cpus}], unique-content corpus with
`giant_share_pct=50` — one repo holds half of all rows).  Both variants
run `validate_table` behind the same salted `(part_id, salt_id)`
exchange; per-task executorRunTime quantiles of the kernel stage come from the Spark REST
API.

| variant | wall | kernel tasks | task p50 | task p99 | task max | p99/p50 |
|---|---|---|---|---|---|---|
| salted (`skewed_keys=['repo-mono']`) | {sa['wall_s']:.1f} s | {sa['tasks']} | {sa['task_p50_s']:.2f} s | {sa['task_p99_s']:.2f} s | {sa['task_max_s']:.2f} s | {sa['task_p99_s'] / max(sa['task_p50_s'], 0.01):.1f}× |
| unsalted (`skewed_keys=None`) | {un['wall_s']:.1f} s | {un['tasks']} | {un['task_p50_s']:.2f} s | {un['task_p99_s']:.2f} s | {un['task_max_s']:.2f} s | {un['task_p99_s'] / max(un['task_p50_s'], 0.01):.1f}× |

Reading: without salting the monorepo's rows hash to ONE partition, so
the kernel stage ends on a single straggler task carrying ~half the
corpus (task max ≈ wall); deterministic path-hash salting spreads the
same rows over 4×num_partitions salt buckets and the straggler is
bounded (p99 within a small factor of the median).  AQE cannot fix
this — it rebalances joins, not map-stage UDF input — which is why the
engine salts explicitly and deterministically (checkpoint resume still
works).  Both variants pay the same salted exchange (~25 GB), which the DEFAULT validate path avoids entirely (content
bytes never shuffle; part_id is a computed column) — so these walls
measure the straggler effect, not the engine's headline throughput
(see the scale-up table above for that).
"""
    with open(REPO / "BENCH" / "LARGE.md", "a") as f:
        f.write(md)
    print(f"appended skew section to {REPO / 'BENCH' / 'LARGE.md'}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=30_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--skew", action="store_true",
                    help="skew-stress mode: 50%%-monorepo corpus, salted vs "
                         "unsalted task-time quantiles appended to LARGE.md")
    args = ap.parse_args()
    if args.skew:
        run_skew(args)
        return

    scratch = tempfile.mkdtemp(prefix="medea_large_")
    path = f"{scratch}/corpus.parquet"
    script = _WORKER.replace("__REPO__", str(REPO))
    cmd = [sys.executable, "-c", script, str(args.cpus), str(args.rows), path]
    if shutil_which("taskset"):
        cmd = ["taskset", "-c", f"0-{args.cpus - 1}"] + cmd
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=str(REPO))
    except subprocess.CalledProcessError as exc:
        # Surface the worker's Spark stack trace — a 30-minute run that
        # dies must not report only "non-zero exit status".
        sys.stderr.write(exc.stdout or "")
        sys.stderr.write(exc.stderr or "")
        raise
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    res = None
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            res = json.loads(line[len("RESULT "):])
    if res is None:
        raise RuntimeError(f"no RESULT line:\n{out.stdout}\n{out.stderr}")
    print(json.dumps(res, indent=2))

    md = f"""# BENCH/LARGE.md — one-notch scale-up ({args.rows:,} rows)

Generated {datetime.now(timezone.utc).isoformat(timespec='seconds')} by
`python BENCH/run_large.py --rows {args.rows} --cpus {args.cpus}`
(taskset-pinned local[{args.cpus}], fresh JVM, unique-content corpus —
memoization cannot help; heft=8 ≈ 0.7 KB/doc).

| measure | value |
|---|---|
| corpus rows | {res['rows']:,} |
| validate wall (best of {len(res['validate_runs'])}; all: {res['validate_runs']}) | {res['validate_sec_best']:.2f} s |
| validated files/sec | {res['files_per_sec']:,.0f} |
| violations/sec | {res['violations_per_sec']:,.0f} |
| simhash 60-sum agg, first run (includes one-time codegen compile) | {res['simhash_first_sec']:.2f} s |
| simhash 60-sum agg, steady state | {res['simhash_steady_sec']:.2f} s |

Reading: files/sec at {args.rows / 1e6:.0f}M rows vs the 8M-row scaling
corpus (BENCH/BASELINE.md) shows whether per-row cost holds at ~4× the
scaling input and ~100× the bench.py corpus measure; the simhash pair
shows the wide-agg Catalyst compile is a fixed per-JVM cost, not a
per-run tax (the steady-state run is the number that scales).
"""
    out_path = REPO / "BENCH" / "LARGE.md"
    # Preserve any skew-stress section a --skew run appended: the main
    # table and the skew evidence are refreshed independently.
    skew = ""
    if out_path.exists():
        prev = out_path.read_text()
        idx = prev.find("\n\n## Skew stress:")
        if idx >= 0:
            skew = prev[idx:]
    out_path.write_text(md.rstrip("\n") + skew if skew else md)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
