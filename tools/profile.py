"""Per-query profiler: where each driver query's time goes.

Runs ``__spark_entry__.queries()`` (all of them, or the named ones) with
the noop sink, as ``bench.py`` does, in one ``local[cpus]`` session with
the Spark event log on.  A query's first run is one span; its jobs,
stages and tasks are the ones that start inside the span's wall interval
(``perfbench/spans.py``), so the jobs that checkpoint sink threads start
without a job group count too.  One record per query:

* ``wall_s``: best of ``--repeats`` runs, and ``wall_first_s`` of the
  first; ``load1`` before the query;
* ``spark.*``: jobs, stages, tasks; scan, shuffle-write, shuffle-read and
  spill bytes; executor run, CPU and GC seconds (first run);
* ``arrow.*``: Python-worker run and boot seconds, bytes sent and
  received (first run);
* ``compiles`` and ``compile_s``: generated classes compiled during the
  first run (``CodegenMetrics`` compile count delta) and their Janino
  seconds.  A class that an earlier query compiled is not compiled
  again, so these depend on which queries ran before;
* ``plan.*``: the shape of the query's DataFrame, planned with AQE off so
  that whole-stage codegen shows: exchanges, broadcast-hash and
  sort-merge joins, codegen spans, cache references, scan read schemas
  and pushed filters.

Usage, from the repository root:

    python tools/profile.py [query ...] [--repeats K] [--out FILE] [--check FILE]

``--out FILE.json`` merges the records into FILE under the run's scale
factor (the input directory's name, e.g. ``sf0.1``), replacing the
queries run and keeping the others; ``--out FILE.md`` writes the plan
table instead (``PLANS.md``, from a run at sf0.01).  ``--check FILE``
exits 1 when a query runs more Spark jobs than FILE records for it at the
same scale factor, or FILE has no record of it.

Env: ``SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) and
``SPARK_GRAFT_CPUS`` (default: the CPUs this process may use).  Work
files, the event log and the queries' staged parquet
(``MEDEA_ORACLE_STAGE_ROOT``) stay under ``.profile_work/run-<pid>``,
deleted at exit, so a run never collides with ``tools/check_oracles.py``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The repository root replaces this script's directory on sys.path, where
# this file would shadow the stdlib ``profile`` module that pyspark imports.
sys.path[0] = ROOT

from perfbench.spans import Tracer, pass_layers, read_event_log  # noqa: E402

# Per-query layer metrics, named as perfbench's per-layer metrics.
LAYERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.scan_bytes",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "arrow.run_s",
    "arrow.boot_s",
    "arrow.bytes_sent",
    "arrow.bytes_received",
)

PLAN_NOTES = """\
Notes:
- Each plan is the query DataFrame's physical plan with AQE off, so
  whole-stage codegen shows and exchanges are the ones the static
  planner places; at run time AQE may coalesce them or turn a
  sort-merge join into a broadcast join.  Queries that stage parquet
  or collect while they are built (checkpoints, fitted centroids,
  stream replays) show only the plan of the DataFrame they return.
- Rows marked `(N cache refs)` read a persisted relation: the plan
  printer re-prints the cached child (its scan and exchanges) once
  per InMemoryTableScan reference, so those exchange and ReadSchema
  counts double-count; at run time the cached subtree computes once.
- `medea_validate_rows` is scan, Arrow kernel UDF, project.  Its one
  exchange is `ensure_kernel_parallelism` widening the small sf0.01
  scan round-robin to one task per core before the kernel; no
  key-hash shuffle moves the content.
- `ri_orphans` is a broadcast left-anti join: the fact table streams
  and only the dimension's key set is broadcast.
- Every parquet scan reads only the columns its query references,
  with filters pushed to the scan where the query has them.
- Spark jobs, tasks, bytes, Arrow time and compiles per query are in
  the `BENCH_layers_r*.json` records the same tool writes.
"""


def plan_shape(spark, df) -> dict:
    """Plan-string counts of ``df``'s physical plan, planned with AQE off."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    return {
        "plan.exchanges": p.count("Exchange"),
        "plan.bhj": p.count("BroadcastHashJoin"),
        "plan.smj": p.count("SortMergeJoin"),
        "plan.codegen_spans": len(set(re.findall(r"\*\((\d+)\) ", p))),
        "plan.cache_refs": p.count("InMemoryTableScan"),
        "plan.read_schemas": re.findall(r"ReadSchema: struct<([^>]*)>", p),
        "plan.pushed_filters": [f for f in re.findall(r"PushedFilters: \[([^\]]*)\]", p) if f],
    }


def start_spark(work: str, cpus: int):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["MEDEA_ORACLE_STAGE_ROOT"] = os.path.join(work, "stage")
    os.makedirs(os.environ["TMPDIR"])
    os.makedirs(os.path.join(work, "events"))
    from medea_spark.engine.session import get_spark

    spark = get_spark(
        app_name="medea-profile",
        cores=cpus,
        shuffle_partitions=max(2 * cpus, 32),
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def profile(names: list[str], sf_dir: str, cpus: int, repeats: int, work: str):
    """Run the queries; returns ({name: record}, [failed names])."""
    spark = start_spark(work, cpus)
    import __spark_entry__ as entrymod  # reads MEDEA_ORACLE_STAGE_ROOT
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Warm the JVM and the whole Python worker pool, as bench.py does.
    warm = F.pandas_udf(lambda s: s, T.LongType())
    spark.range(cpus * 4 * 1000, numPartitions=cpus * 4).select(F.sum(warm(F.col("id")))).collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    janino_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    qmap = entrymod.queries()
    tracer = Tracer()
    records, failed = {}, []
    for name in names or list(qmap):
        rec = {"cpus": cpus, "repeats": repeats, "load1": round(os.getloadavg()[0], 2)}
        try:
            walls = []
            for i in range(repeats):
                compiled, janino = compiles.getCount(), janino_ns()
                tracer.enabled = i == 0
                with tracer.span(name):
                    t0 = time.perf_counter()
                    df = qmap[name](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
                if i == 0:
                    rec["wall_first_s"] = round(walls[0], 3)
                    rec["compiles"] = compiles.getCount() - compiled
                    rec["compile_s"] = round((janino_ns() - janino) / 1e9, 3)
            tracer.enabled = False
            rec["wall_s"] = round(min(walls), 3)
            rec.update(plan_shape(spark, df))
        except Exception:  # noqa: BLE001 - one broken query must not hide the rest
            traceback.print_exc()
            failed.append(name)
            rec["error"] = traceback.format_exc().strip().splitlines()[-1]
        records[name] = rec
        print(json.dumps({name: rec.get("wall_s"), "load1": rec["load1"]}), flush=True)
    spark.stop()

    (log_path,) = glob.glob(os.path.join(work, "events", "*"))
    log = read_event_log(log_path)
    for span in tracer.spans:
        layers = pass_layers(log, [span], span)
        records[span.name].update(
            {k: round(layers[k], 3) if k.endswith("_s") else int(layers[k]) for k in LAYERS}
        )
    return records, failed


def plans_markdown(sf: str, records: dict) -> str:
    lines = [
        "# PLANS.md — physical-plan evidence (generated by `tools/profile.py --out PLANS.md`)",
        "",
        "Per driver-contract query: exchange count (each is a shuffle),",
        "join strategies, whole-stage-codegen span count, scan column",
        f"pruning (ReadSchema) and pushed filters, at {sf}.",
        "",
        "| query | exchanges | BHJ | SMJ | codegen spans | scan columns (pruned) | pushed filters |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in records.items():
        if "error" in r:
            lines.append(f"| {name} | ERROR: {r['error']} | | | | | |")
            continue
        scans = "<br>".join(s[:60] for s in r["plan.read_schemas"][:3]) or "—"
        pushed = "<br>".join(s[:60] for s in r["plan.pushed_filters"][:3]) or "—"
        cached = f" ({r['plan.cache_refs']} cache refs)" if r["plan.cache_refs"] else ""
        lines.append(
            f"| {name} | {r['plan.exchanges']}{cached} | {r['plan.bhj']} | {r['plan.smj']} "
            f"| {r['plan.codegen_spans']} | {scans} | {pushed} |"
        )
    return "\n".join(lines) + "\n\n" + PLAN_NOTES


def over_ceiling(sf: str, records: dict, path: str) -> list[str]:
    """Queries that ran more Spark jobs than ``path`` records at ``sf``."""
    with open(path) as fh:
        ceiling = json.load(fh).get(sf, {})
    over = []
    for name, r in records.items():
        limit = ceiling.get(name, {}).get("spark.jobs")
        if limit is None:
            over.append(f"{name}: no job count recorded at {sf} in {path}")
        elif r.get("spark.jobs", limit + 1) > limit:
            over.append(f"{name}: {r.get('spark.jobs', 'no')} jobs > {limit} recorded at {sf}")
    return over


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    ap.add_argument("--repeats", type=int, default=1, help="runs per query; wall_s is the best")
    ap.add_argument("--out", help="records JSON to merge into, or a .md plan table")
    ap.add_argument("--check", help="records JSON whose job counts are ceilings")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    sf = os.path.basename(sf_dir)
    work = os.path.join(ROOT, ".profile_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        records, failed = profile(args.queries, sf_dir, cpus, max(1, args.repeats), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.out and args.out.endswith(".md"):
        with open(args.out, "w") as fh:
            fh.write(plans_markdown(sf, records))
    elif args.out:
        table = {}
        if os.path.exists(args.out):
            with open(args.out) as fh:
                table = json.load(fh)
        table.setdefault(sf, {}).update(records)
        with open(args.out, "w") as fh:
            json.dump(table, fh, indent=1, sort_keys=True)
            fh.write("\n")
    over = over_ceiling(sf, records, args.check) if args.check else []
    for line in over:
        print(f"profile: {line}", file=sys.stderr)
    print(json.dumps({"sf": sf, "cpus": cpus, "queries": len(records), "failed": failed,
                      "over_job_ceiling": len(over)}))
    return 1 if failed or over else 0


if __name__ == "__main__":
    raise SystemExit(main())
