"""The workloads: inputs made from a seed, one pass, and its checks.

Every input comes from ``medea_spark.corpus.generate_corpus``; it is
written to parquet during set-up and read back on every pass.  A pass
returns what the public calls returned; ``check`` then compares that,
untimed, with the generator's ground truth and names each call whose
output was wrong.
"""

from __future__ import annotations

import os
import uuid
from collections import Counter

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from medea_spark.checkpoint import CheckpointStore, run_validation_with_checkpoints
from medea_spark.checks import (
    accepted_values,
    column_stats,
    drift_decision,
    lang_size_histogram,
    matches,
    min_rows,
    not_null,
    referential_report,
    run_check_suite,
    unique,
    uniqueness_report,
)
from medea_spark.corpus import corpus_schema_graph, dim_repos, generate_corpus
from medea_spark.engine import (
    NO_SCHEMA_FOR_KEY,
    detect_skewed_keys,
    validate_table,
    validate_table_dispatched,
)

LANGS = ("json", "yaml", "toml", "xml", "cfg")
KEY = ["repo", "path", "commit"]
N_REPOS = 64  # generate_corpus and dim_repos defaults
ORPHAN_EVERY = 17


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _census(rows, key: str) -> Counter:
    """Counter of ``count`` by ``key`` over collected grouped rows."""
    out: Counter = Counter()
    for r in rows:
        out[r[key]] += r["count"]
    return out


class Workload:
    """One workload at a fixed size.  ``ops`` names the public calls one
    pass makes; they are the operations ``attempted`` counts."""

    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, work: str, seed: int, rows: int, cpus: int) -> None:
        self.spark = spark
        self.seed = seed
        self.rows = rows
        self.cpus = cpus
        self.input = os.path.join(work, "input.parquet")
        self.graph = None

    def compile(self) -> None:
        self.graph = corpus_schema_graph()

    def generate(self) -> None:
        raise NotImplementedError

    def ground_truth(self) -> None:
        """Totals and the violation census by class, from the generator's
        ``expected_*`` columns."""
        rows = (
            self.spark.read.parquet(self.input)
            .groupBy("expected_valid", "expected_constraint")
            .count()
            .collect()
        )
        self.n = sum(r["count"] for r in rows)
        self.n_valid = sum(r["count"] for r in rows if r["expected_valid"])
        self.census = _census([r for r in rows if not r["expected_valid"]], "expected_constraint")
        self.input_bytes = dir_bytes(self.input)

    def run_pass(self, tracer, out: str) -> dict:
        raise NotImplementedError

    def check(self, got: dict) -> tuple[set[str], dict[str, float]]:
        """Names of the calls whose output was wrong, and facts the pass
        reports beside its timings."""
        raise NotImplementedError


class NightlyUnique(Workload):
    """What ``jobs/validate_job.py`` does, on documents whose bytes are all
    unique: skew pre-pass, then a staged, waved, checkpointed run with
    parquet sinks, then the same run id again, which must skip every part."""

    name = "nightly_unique"
    ops = ("detect_skewed_keys", "run_validation_with_checkpoints", "resume")
    WAVES = 2

    @property
    def parts(self) -> int:
        return 8 * self.cpus

    def generate(self) -> None:
        generate_corpus(
            self.spark,
            self.rows,
            seed=self.seed,
            heft=8,
            unique_content=True,
            num_partitions=2 * self.cpus,
        ).write.mode("overwrite").parquet(self.input)

    def run_pass(self, tracer, out: str) -> dict:
        df = self.spark.read.parquet(self.input)
        with tracer.span("engine.detect_skew"):
            skewed = detect_skewed_keys(df, "repo", skew_fraction=0.05)
        store = CheckpointStore(self.spark, os.path.join(out, "checkpoints"))
        kwargs = dict(
            run_id=f"nightly-{uuid.uuid4().hex[:12]}",
            num_partitions=self.parts,
            n_waves=self.WAVES,
            skewed_keys=skewed,
            input_fingerprint=self.input,
            output_location=os.path.join(out, "sinks"),
            stage_location=os.path.join(out, "stage"),
        )
        with tracer.span("checkpoint.run"):
            first = run_validation_with_checkpoints(self.spark, df, self.graph, store, **kwargs)
        with tracer.span("checkpoint.resume"):
            again = run_validation_with_checkpoints(self.spark, df, self.graph, store, **kwargs)
        return {"skewed": skewed, "first": first, "again": again, "store": store, "out": out}

    def check(self, got: dict) -> tuple[set[str], dict[str, float]]:
        bad: set[str] = set()
        first, again = got["first"], got["again"]
        if got["skewed"] != ["repo-mono"]:
            bad.add("detect_skewed_keys")
        if (first.waves_run, first.parts_done, first.parts_skipped) != (self.WAVES, self.parts, 0):
            bad.add("run_validation_with_checkpoints")
        if (again.waves_run, again.parts_done, again.parts_skipped) != (0, 0, self.parts):
            bad.add("resume")

        sinks = os.path.join(got["out"], "sinks", f"run={first.run_id}")
        waves = [os.path.join(sinks, f"wave={w}") for w in range(self.WAVES)]
        verdicts = (
            self.spark.read.parquet(*[f"{w}/validated" for w in waves])
            .agg(
                F.count(F.lit(1)),
                F.sum((F.col("is_valid") != F.col("expected_valid")).cast("long")),
                F.sum((F.col("content_sha256") != F.col("expected_sha")).cast("long")),
            )
            .first()
        )
        census = _census(
            self.spark.read.parquet(*[f"{w}/violations" for w in waves])
            .groupBy("failed_constraint")
            .count()
            .collect(),
            "failed_constraint",
        )
        ckpt = (
            got["store"]
            .read()
            .filter(F.col("run_id") == first.run_id)
            .agg(F.count(F.lit(1)), F.sum("rows"), F.max("wall_ms"))
            .first()
        )
        if tuple(verdicts) != (self.n, 0, 0) or census != self.census:
            bad.add("run_validation_with_checkpoints")
        if (ckpt[0], ckpt[1]) != (self.parts, self.n):
            bad.add("run_validation_with_checkpoints")
        written = dir_bytes(got["out"])
        return bad, {
            "write_amp": written / self.input_bytes,
            "checkpoint.waves": first.waves_run,
            "checkpoint.parts_done": first.parts_done,
            "checkpoint.wave_s_max": (ckpt[2] or 0) / 1000,
            "checkpoint.bytes_written": written,
        }


class CensusChecks(Workload):
    """The pooled, duplicate-heavy table, read only.  First the kernel:
    validate with the per-batch memo, collect the summary and the
    violation census, then validate again dispatched by ``lang`` (which
    has no memo).  Then the relational checks, with no kernel: column
    stats, salted uniqueness, referential integrity, chi-square drift
    and a 5-rule suite."""

    name = "census_checks"
    ops = (
        "validate_table",
        "validate_table_dispatched",
        "column_stats",
        "uniqueness_report",
        "referential_report",
        "drift_decision",
        "run_check_suite",
    )
    STATS_COLS = ["repo", "path", "commit", "lang", "content", "expected_constraint"]

    def __init__(self, spark, work, seed, rows, cpus) -> None:
        super().__init__(spark, work, seed, rows, cpus)
        self.drift_input = os.path.join(work, "drift.parquet")

    def generate(self) -> None:
        generate_corpus(
            self.spark, self.rows, seed=self.seed, num_partitions=2 * self.cpus
        ).write.mode("overwrite").parquet(self.input)
        # The generator repeats exactly one key (row 101 reuses row 0's), so
        # re-append a hash-selected eighth of the rows: every appended row
        # is one more surplus row, which makes the uniqueness signal large.
        base = self.spark.read.parquet(self.input)
        base.filter(
            F.pmod(F.xxhash64("path", F.lit(self.seed)), F.lit(8)) == 0
        ).write.mode("append").parquet(self.input)
        generate_corpus(
            self.spark, self.rows // 4, seed=self.seed, drift=True, num_partitions=self.cpus
        ).write.mode("overwrite").parquet(self.drift_input)

    def ground_truth(self) -> None:
        super().ground_truth()
        # Every generated key is distinct except the one repeat; the
        # appended slice adds rows but no keys.
        self.distinct_keys = self.rows - 1
        withheld = {f"repo-{i:04d}" for i in range(N_REPOS) if i % ORPHAN_EVERY == 0}
        by_repo = self.spark.read.parquet(self.input).groupBy("repo").count().collect()
        self.orphans = {r["repo"]: r["count"] for r in by_repo if r["repo"] in withheld}
        self.drift_rows = self.rows // 4

    def run_pass(self, tracer, out: str) -> dict:
        df = self.spark.read.parquet(self.input)
        got: dict = {}
        with tracer.span("engine.validate_table"):
            got["run"] = run = validate_table(df, self.graph, num_partitions=8 * self.cpus)
            got["summary"] = run.summary.collect()
            got["census"] = run.violations.groupBy("failed_constraint").count().collect()
        with tracer.span("engine.dispatch"):
            # cfg stays unregistered, so its rows must fail NO_SCHEMA_FOR_KEY.
            judged = validate_table_dispatched(
                df, {lang: self.graph for lang in LANGS[:4]}, key_col="lang"
            )
            got["dispatched"] = (
                judged.groupBy(
                    (F.col("lang") == "cfg").alias("cfg"),
                    "is_valid",
                    "expected_valid",
                    "expected_constraint",
                    F.get(F.col("violations"), 0)["failed_constraint"].alias("first"),
                )
                .count()
                .collect()
            )
        with tracer.span("checks.column_stats"):
            got["stats"] = column_stats(df, self.STATS_COLS).collect()
        with tracer.span("checks.uniqueness"):
            got["uniqueness"] = uniqueness_report(df, KEY, salted=True).first()
        with tracer.span("checks.referential"):
            got["orphans"] = referential_report(df, dim_repos(self.spark), "repo").collect()
        with tracer.span("checks.drift"):
            sized = F.length("content").alias("size")
            current = self.spark.read.parquet(self.drift_input).select("lang", sized)
            got["drift"] = drift_decision(
                lang_size_histogram(current, "lang", "size"),
                lang_size_histogram(df.select("lang", sized), "lang", "size"),
                on=["lang", "size_bucket"],
            )
        with tracer.span("checks.suite"):
            got["suite"] = run_check_suite(
                df,
                [
                    not_null("content"),
                    accepted_values("lang", list(LANGS)),
                    matches("commit", "^[0-9a-f]{16}$"),
                    unique(KEY),
                    min_rows(self.n),
                ],
            ).collect()
        return got

    def check(self, got: dict) -> tuple[set[str], dict[str, float]]:
        bad: set[str] = set()
        verdicts = (
            got["run"]
            .validated.agg(
                F.count(F.lit(1)),
                F.sum((F.col("is_valid") != F.col("expected_valid")).cast("long")),
                F.sum((F.col("content_sha256") != F.col("expected_sha")).cast("long")),
            )
            .first()
        )
        if (
            tuple(verdicts) != (self.n, 0, 0)
            or sum(r["rows"] for r in got["summary"]) != self.n
            or _census(got["census"], "failed_constraint") != self.census
        ):
            bad.add("validate_table")
        rows = got["dispatched"]
        right = all(
            (not r["is_valid"] and r["first"] == NO_SCHEMA_FOR_KEY)
            if r["cfg"]
            else (r["is_valid"] == r["expected_valid"] and r["first"] == r["expected_constraint"])
            for r in rows
        )
        if not right or sum(r["count"] for r in rows) != self.n:
            bad.add("validate_table_dispatched")

        surplus = self.n - self.distinct_keys
        stats = {r["col_name"]: r for r in got["stats"]}
        nulls = {c: 0 for c in self.STATS_COLS} | {"expected_constraint": self.n_valid}
        if set(stats) != set(self.STATS_COLS) or any(
            stats[c]["n_rows"] != self.n or stats[c]["n_nulls"] != nulls[c] for c in stats
        ):
            bad.add("column_stats")
        u = got["uniqueness"]
        if (u["total_rows"], u["distinct_keys"], u["surplus_rows"]) != (
            self.n,
            self.distinct_keys,
            surplus,
        ):
            bad.add("uniqueness_report")
        if {r["repo"]: r["orphan_rows"] for r in got["orphans"]} != self.orphans:
            bad.add("referential_report")
        d = got["drift"]
        if not d["drifted"] or (d["n_current"], d["n_baseline"]) != (self.drift_rows, self.n):
            bad.add("drift_decision")
        expected = [(0, True), (0, True), (0, True), (surplus, surplus == 0), (self.n, True)]
        if [(r["metric"], r["passed"]) for r in got["suite"]] != expected:
            bad.add("run_check_suite")
        return bad, {"write_amp": 0.0}


WORKLOADS = {w.name: w for w in (NightlyUnique, CensusChecks)}
