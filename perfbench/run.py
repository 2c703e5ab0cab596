"""Validation-engine benchmark: two workloads at ``local[nproc]``.

Usage, from the repository root:

    python3 perfbench/run.py --workload nightly_unique --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

Workloads (see ``workloads.py``):

* ``nightly_unique`` -- the checkpointed nightly job on unique documents,
  so the memo never hits; the only workload that writes.
* ``census_checks`` -- over the pooled, duplicate-heavy table, read only:
  validate, summary, violation census and dispatch, where the memo leaves
  the Arrow boundary to dominate; then stats, uniqueness, referential,
  drift and a check suite with no kernel, where scan, shuffle and hash
  aggregation do the work.  The two halves are timed apart by the
  ``engine.*`` and ``checks.*`` spans of a traced run.

A run starts one session, sets up (JVM and Python-worker warm-up, then
schema compile and input generation, repeated; ``setup_s`` adds the
median repeat to the one-time start), runs an untimed warm pass, then
timed passes until ``--seconds`` of pass time have passed and at least
two were made, and reports medians.  Every pass is checked against the
generator's ground truth, untimed, and then deletes its outputs.  With
``--trace 1`` half the timed passes are traced: spans around each layer
call, and the Spark event log read after the session stops.

The last stdout line is the result: ``metrics`` holds the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
The line before it reports every pass with its machine context, and
every end-to-end metric, including ``write_amp`` and ``failed_op_frac``
(which are 0 when nothing is wrong, so ``BENCHMARK.json`` leaves them
out).

Seeds 1-999 are for tuning and development.  Seed 7919 is held out for
checking a claimed gain and should not be used while a change is made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")

# Input rows per workload.  A pass takes 7-8 s at these sizes on 4 cores,
# and a whole run, set-up and warm pass included, stays under a minute.
# ``census_checks`` is dominated by per-job scheduling whatever its size;
# ``nightly_unique`` is large enough that per-row work (kernel, sha256,
# Arrow transfer, writes) is a large share of its pass.
FULL_ROWS = {"nightly_unique": 96_000, "census_checks": 40_000}
TINY_ROWS = {"nightly_unique": 1_500, "census_checks": 3_000}
SETUP_REPEATS = 3
WARM_PASSES = 1  # untimed passes before the timed ones
MIN_PASSES = 2  # timed passes per untraced run
MIN_TRACED = 2  # untraced and traced passes each, per traced run
RUN_LIMIT_S = 150  # start no pass that could end the run past this
KERNEL_SAMPLE = 2_000
HEAP = "1g"  # Spark JVM heap; in local mode it holds the executor too


def _median(values):
    return statistics.median(values) if values else 0.0


def warm_up(spark, cpus: int) -> None:
    """Start the JVM's first jobs and the whole Python worker pool."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ident = F.pandas_udf(lambda s: s, T.LongType())
    spark.range(cpus * 1000, numPartitions=cpus).select(F.sum(ident("id"))).collect()


def kernel_us_per_doc(spark, seed: int, graph) -> dict[str, float]:
    """In-process ``validate_document`` on the first rows of each input
    kind, with no memo: microseconds per document, median of 3 sweeps."""
    from medea_spark import validate_document
    from medea_spark.corpus import generate_corpus

    out = {}
    for key, kwargs in (("unique", {"heft": 8, "unique_content": True}), ("pool", {})):
        docs = [
            r[0]
            for r in generate_corpus(spark, KERNEL_SAMPLE, seed=seed, num_partitions=1, **kwargs)
            .select("content")
            .collect()
        ]
        sweeps = []
        for _ in range(3):
            t = time.perf_counter()
            for doc in docs:
                validate_document(graph, doc)
            sweeps.append(time.perf_counter() - t)
        out[f"kernel.us_per_doc_{key}"] = statistics.median(sweeps) / len(docs) * 1e6
    return out


def start_spark(work: str, cpus: int, traced: bool):
    """A ``local[cpus]`` session whose files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    os.makedirs(tmp)
    os.makedirs(events)
    # Python workers import medea_spark by path, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    from medea_spark.engine.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The heap starts at its full size: G1 grows a small initial heap
        # over many passes, which would move peak RSS from pass to pass.
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(traced).lower(),
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    spark = get_spark(app_name="perfbench", cores=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def bench(name: str, seed: int, seconds: float, traced: bool, rows: int) -> tuple[dict, dict]:
    """Run one workload; returns (report, result) as printed."""
    import probe
    from spans import Tracer, pass_layers, read_event_log
    from workloads import WORKLOADS

    began = time.monotonic()
    cpus = len(os.sched_getaffinity(0))
    me = os.getpid()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{me}")
    shutil.rmtree(work, ignore_errors=True)
    warm: list[dict] = []
    passes: list[dict] = []
    attempted = failed = 0
    tracer = Tracer()
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cpus, traced)
        try:
            start_s = time.perf_counter() - t0
            warm_up(spark, cpus)
            session_s = time.perf_counter() - t0
            wl = WORKLOADS[name](spark, work, seed, rows, cpus)
            compile_s, generate_s = [], []
            for _ in range(SETUP_REPEATS):
                t = time.perf_counter()
                wl.compile()
                c = time.perf_counter()
                wl.generate()
                compile_s.append(c - t)
                generate_s.append(time.perf_counter() - c)
            setup_s = session_s + _median([a + b for a, b in zip(compile_s, generate_s)])
            wl.ground_truth()

            def one_pass(i: int, traced_pass: bool = False) -> dict | None:
                """Run, measure and check one pass; None if it raised."""
                nonlocal attempted, failed
                out = os.path.join(work, f"pass-{i}")
                attempted += len(wl.ops)
                try:
                    tracer.enabled = traced_pass
                    jiffies = probe.cpu_jiffies()
                    with probe.TreeSampler(me) as tree, tracer.span("pass"):
                        t = time.perf_counter()
                        got = wl.run_pass(tracer, out)
                        wall = time.perf_counter() - t
                    context = probe.machine_context(jiffies, probe.cpu_jiffies())
                    tracer.enabled = False
                    bad, facts = wl.check(got)
                except Exception:
                    traceback.print_exc()
                    failed += len(wl.ops)
                    return None
                finally:
                    tracer.enabled = False
                    shutil.rmtree(out, ignore_errors=True)
                failed += len(bad)
                if bad:
                    print(f"perfbench: wrong output from {sorted(bad)}", file=sys.stderr)
                return {
                    "traced": traced_pass,
                    "wall_s": wall,
                    "cpu_s": tree.cpu_s,
                    "jit_cpu_s": tree.jit_cpu_s,
                    "peak_rss_mb": tree.peak_rss / 2**20,
                    **facts,
                    **context,
                }

            # Warm passes compile the plans' generated code, let the JIT
            # settle and fill the worker pool; they are checked but left
            # out of every figure.
            ok, i = True, 0
            while ok and len(warm) < WARM_PASSES:
                record = one_pass(i)
                i += 1
                ok = record is not None
                if ok:
                    warm.append(record)
            while ok:
                # A traced run orders its passes plain, traced, traced,
                # plain, ... so both kinds sit equally early in the run.
                record = one_pass(i, traced_pass=traced and len(passes) % 4 in (1, 2))
                i += 1
                if record is None:
                    break
                passes.append(record)
                n_traced = sum(p["traced"] for p in passes)
                n_plain = len(passes) - n_traced
                enough = sum(p["wall_s"] for p in passes) >= seconds and (
                    min(n_plain, n_traced) >= MIN_TRACED if traced else n_plain >= MIN_PASSES
                )
                longest = max(p["wall_s"] for p in passes + warm)
                if enough or time.monotonic() - began + 2 * longest > RUN_LIMIT_S:
                    break
            kernel = kernel_us_per_doc(spark, seed, wl.graph) if traced else {}
            n_rows = wl.n
        finally:
            probe.stop_spark(spark)
        if not passes:
            raise RuntimeError("no timed pass completed")

        plain = [p for p in passes if not p["traced"]]
        wall = _median([p["wall_s"] for p in plain])
        end_to_end = {
            "wall_s": (wall, "s"),
            "rows_per_s": (n_rows / wall, "rows/s"),
            "cpu_s": (_median([p["cpu_s"] for p in plain]), "s"),
            "peak_rss_mb": (_median([p["peak_rss_mb"] for p in plain]), "MB"),
            "write_amp": (_median([p["write_amp"] for p in plain]), "ratio"),
            "failed_op_frac": (failed / attempted, "ratio"),
            "setup_s": (setup_s, "s"),
        }
        layers: dict[str, tuple[float, str]] = {}
        if traced:
            (log_file,) = os.listdir(os.path.join(work, "events"))
            log = read_event_log(os.path.join(work, "events", log_file))
            whole = [s for s in tracer.spans if s.name == "pass"]
            per_pass = [pass_layers(log, tracer.spans, s) for s in whole]
            traced_passes = [p for p in passes if p["traced"]]
            for p, facts in zip(per_pass, traced_passes):
                for k in ("checkpoint.waves", "checkpoint.parts_done",
                          "checkpoint.wave_s_max", "checkpoint.bytes_written"):
                    p[k] = facts.get(k, 0)
            merged = {
                "compiler.compile_ms": _median(compile_s) * 1e3,
                "corpus.generate_s": _median(generate_s),
                **kernel,
                **{k: _median([p[k] for p in per_pass]) for k in per_pass[0]},
                "trace.overhead_frac": _median([p["wall_s"] for p in traced_passes]) / wall - 1,
            }
            units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
            layers = {k: (merged[k], units[k]) for k in units}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    def as_json(metrics):
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    report = {
        "workload": name,
        "seed": seed,
        "rows": n_rows,
        "cpus": cpus,
        "setup": {"start_s": start_s, "session_s": session_s, "compile_s": compile_s, "generate_s": generate_s},
        "warm_passes": warm,
        "passes": passes,
        "end_to_end": as_json(end_to_end),
        "run_s": time.monotonic() - began,
    }
    if traced:
        report["per_layer"] = as_json(layers)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": as_json(layers if traced else {m["name"]: end_to_end[m["name"]]
                                                  for m in _spec()["end_to_end"]}),
    }
    return report, result


def _spec() -> dict:
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


def smoke() -> int:
    """Every workload at tiny size, traced: every metric this benchmark
    names is reported with its unit, and no operation fails."""
    spec = _spec()
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    e2e_units |= {"write_amp": "ratio", "failed_op_frac": "ratio"}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        cmd = [sys.executable, __file__, "--workload", name, "--seed", "3",
               "--seconds", "0", "--trace", "1", "--tiny"]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            problems.append(f"{name}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            continue
        report, result = json.loads(lines[-2]), json.loads(lines[-1])
        got_e2e = {k: v["unit"] for k, v in report["end_to_end"].items()}
        got_layers = {k: v["unit"] for k, v in result["metrics"].items()}
        if got_e2e != e2e_units:
            problems.append(f"{name}: end-to-end metrics {got_e2e}")
        if got_layers != layer_units:
            problems.append(f"{name}: per-layer metrics {got_layers}")
        if report["end_to_end"]["failed_op_frac"]["value"] != 0 or not result["correct"]:
            problems.append(f"{name}: failed operations {result}")
    for p in problems:
        print(p, file=sys.stderr)
    print(f"smoke: {len(spec['workloads'])} workloads, {len(problems)} problems", file=sys.stderr)
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(FULL_ROWS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload tiny and traced, and check the metrics")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import medea_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: medea_spark is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    rows = (TINY_ROWS if args.tiny else FULL_ROWS)[args.workload]
    report, result = bench(args.workload, args.seed, args.seconds, bool(args.trace), rows)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
