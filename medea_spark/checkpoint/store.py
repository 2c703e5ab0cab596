"""Per-partition checkpointing with lineage + metrics (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Design: a checkpoint *table* keyed by ``(run_id, part_id)`` holding the
partition's summary metrics and lineage (input fingerprint, schema
fingerprint, wall time).  Because ``part_id`` is a pure hash of the
repo column (medea_spark.engine.partitioning — no rand()), a rerun of
the same input assigns identical partition ids, so resume is a plain
anti-join: pending = all part ids ∖ checkpointed part ids.

Partitions are processed in *waves* (wave_id = part_id % n_waves) —
each wave's results and checkpoint rows are committed together.  At
100 TB the wave count bounds both failure blast-radius and the driver
loop (e.g. 64 waves of ~1.6 TB); the loop is over waves, never over
rows.

Every run stages its input once, clustered by wave and spread by row
key: one exchange hashes ``(wave_id, repo, path, commit)`` over the
write tasks and ``partitionBy(wave_id)`` files each row under its
wave's directory.  A wave's directory therefore holds one file of about
equal size per write task, whatever the repo sizes, so its scan plans
equal splits and its kernel tasks get equal rows.  (Clustering by
part_id instead gives a monorepo's part the largest files of its wave,
and FilePartition packs files largest first — into one split.)

Storage: Iceberg (``writeTo(...).append()``) when a table catalog is
configured, parquet subdirectories otherwise (the sandbox path).
"""

from __future__ import annotations

import hashlib
import time
import uuid
import warnings
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medea_spark.compiler.analyzer import ANY_NODE, SchemaGraph
from medea_spark.engine.partitioning import PART_ID, with_partition_columns
from medea_spark.engine.validate import ValidationRun, validate_table

WAVE_ID = "wave_id"

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("valid_rows", T.LongType(), False),
        T.StructField("invalid_rows", T.LongType(), False),
        T.StructField("violation_count", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("schema_fingerprint", T.StringType(), False),
        T.StructField("input_fingerprint", T.StringType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop file system on the
    driver (no Spark job, no exception round-trip)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def stage_key(
    run_id: str, input_fingerprint: str, num_partitions: int, n_waves: int
) -> str:
    """The name of a run's stage directory, ``<stage_location>/run=<key>``.

    The staged rows depend on the input and on the layout: part ids
    come from ``num_partitions`` and the wave directories from
    ``n_waves``.  So all of them key the stage, and a run that changes
    any of them restages instead of reading rows filed under another
    layout."""
    key = f"{run_id}-p{num_partitions}w{n_waves}"
    if input_fingerprint:
        key += "-" + hashlib.sha256(input_fingerprint.encode()).hexdigest()[:8]
    return key


def _schema_fingerprint(graph: SchemaGraph) -> str:
    """Deterministic across driver processes: every set-like field is
    sorted before hashing (frozenset iteration order depends on
    PYTHONHASHSEED, so ``repr(dataclass)`` is NOT stable between two
    spark-submit invocations — exactly the cross-process resume case
    this fingerprint exists for)."""
    parts = []
    for name in sorted(graph):
        s = graph[name]
        parts.append(
            (
                s.name,
                tuple(s.types_as),
                s.min_array_len,
                s.max_array_len,
                s.array_kind,
                s.list_node,
                s.tuple_nodes,
                tuple(sorted((k, v) for k, v in s.props.items())),
                s.prop_order,
                s.additional_props,
                s.additional_prop_schema,
                s.string_vals,
                # Three entries derived from types_as, kept so every
                # fingerprint (and so every committed checkpoint) stays
                # valid: any-type flag, primitive types, custom names.
                ANY_NODE in s.types_as,
                tuple(sorted({n[1] for n in s.types_as if n[0] == 1})),
                tuple(n[2] for n in s.types_as if n[0] == 2),
                tuple(sorted(s.string_val_set)),
            )
        )
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


class CheckpointStore:
    """Parquet-backed checkpoint table with one reader (``read``) and
    one writer (``append_rows``).  Iceberg-ready: swap the two for
    ``spark.read.format('iceberg')`` / a catalog append — the schema and
    keying are identical."""

    def __init__(self, spark: SparkSession, location: str) -> None:
        self.spark = spark
        self.location = location.rstrip("/")
        self._ckpt_path = f"{self.location}/checkpoints"

    def read(self) -> DataFrame:
        if _exists(self.spark, self._ckpt_path):
            return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self._ckpt_path)
        # No commit yet.  The zero limit folds into an empty
        # LocalRelation, which every consumer reads with no job; the
        # bare list relation is a LogicalRDD whose every read runs one
        # Python-worker task per core.
        return self.spark.createDataFrame([], CHECKPOINT_SCHEMA).limit(0)

    def append_rows(self, rows: list[tuple]) -> None:
        """Commit checkpoint rows (``CHECKPOINT_SCHEMA`` minus
        ``committed_at``, which is stamped here) from the driver.

        Checkpoint rows are per-partition METADATA — a handful of rows
        per wave, already driver-resident — so this writes one parquet
        file with pyarrow instead of scheduling a Spark job per commit
        (task launch + commit protocol for a few-KB payload).  The
        Iceberg swap-in point is unchanged: a catalog commit is
        likewise a driver-side metadata write.  The Arrow schema is
        derived from CHECKPOINT_SCHEMA (int32 part_id/wave, tz-aware
        UTC ``committed_at``), so ``read()``'s explicit schema accepts
        every commit file."""
        import os
        import uuid as _uuid
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(CHECKPOINT_SCHEMA)
        now = datetime.now(timezone.utc)
        stamped = [(*row, now) for row in rows]
        cols = list(zip(*stamped)) or [()] * len(schema)
        table = pa.Table.from_arrays(
            [pa.array(col, field.type) for col, field in zip(cols, schema)],
            schema=schema,
        )
        os.makedirs(self._ckpt_path, exist_ok=True)
        pq.write_table(
            table, f"{self._ckpt_path}/commit-{_uuid.uuid4().hex}.parquet"
        )

    def done_part_ids(
        self,
        run_id: str,
        schema_fingerprint: str | None = None,
        input_fingerprint: str | None = None,
    ) -> DataFrame:
        """Partitions safe to skip on resume.  Lineage is validated, not
        just recorded: a checkpoint row only counts as done if it was
        committed under the *same* schema fingerprint (and input
        fingerprint, when the caller tracks one) — otherwise a rerun
        after a schema/input change would silently stitch together a
        mixed-lineage output."""
        cond = (F.col("run_id") == run_id) & (F.col("status") == "done")
        if schema_fingerprint is not None:
            cond = cond & (F.col("schema_fingerprint") == schema_fingerprint)
        if input_fingerprint:
            cond = cond & (F.col("input_fingerprint") == input_fingerprint)
        return self.read().filter(cond).select("part_id").distinct()


@dataclass
class ResumableResult:
    run_id: str
    waves_run: int
    parts_done: int
    parts_skipped: int


def run_validation_with_checkpoints(
    spark: SparkSession,
    df: DataFrame,
    graph: SchemaGraph,
    store: CheckpointStore,
    run_id: str | None = None,
    num_partitions: int = 32,
    n_waves: int = 4,
    skewed_keys: list[str] | None = None,
    input_fingerprint: str = "",
    output_location: str | None = None,
    stage_location: str | None = None,
) -> ResumableResult:
    """Validate ``df`` wave-by-wave, committing results + checkpoint rows
    per wave; re-invoking with the same ``run_id`` skips checkpointed
    partitions via anti-join and processes only the remainder.

    Every run stages its input once: one pass assigns part and wave ids
    and writes the rows under ``stage_location`` (default
    ``<store.location>/stage``) partitioned by wave_id, and every wave
    reads its slice of that stage with partition pruning at the source.
    The stage is keyed by ``stage_key`` and reused once committed, so a
    resumed run reads exactly the input its stage captured."""
    run_id = run_id or uuid.uuid4().hex[:12]
    fingerprint = _schema_fingerprint(graph)
    if stage_location is None:
        stage_location = f"{store.location}/stage"

    base = with_partition_columns(df, num_partitions, skewed_keys=skewed_keys)
    if not input_fingerprint:
        # Without a fingerprint the stage is keyed without the input and
        # done_part_ids skips the input-lineage filter — resuming the
        # same run_id after the input changed would silently reuse stale
        # staged rows AND skip checkpointed parts.
        warnings.warn(
            "checkpointed run without input_fingerprint: resuming this "
            "run_id after the input changes will reuse stale staged rows. "
            "Pass input_fingerprint (e.g. an Iceberg snapshot id) for "
            "safe stage+resume.",
            stacklevel=2,
        )
    key = stage_key(run_id, input_fingerprint, num_partitions, n_waves)
    stage_path = f"{stage_location.rstrip('/')}/run={key}"
    # Read back with the schema already known: no schema-inference job,
    # first run or resume.  The data columns are matched by name, so
    # listing part_id last keeps the column order the sinks have always
    # had; partitionBy puts wave_id after them.
    stage_schema = T.StructType(
        [f for f in base.schema.fields if f.name != PART_ID]
        + [T.StructField(PART_ID, T.IntegerType()), T.StructField(WAVE_ID, T.IntegerType())]
    )
    # Only a _SUCCESS-committed stage is reusable on resume — a crashed
    # stage write is rebuilt, never trusted.
    if not _exists(spark, f"{stage_path}/_SUCCESS"):
        # The content bytes shuffle exactly once for the whole run (not
        # once per wave).  The exchange is sized to the write slots:
        # more tasks than slots only add task launches and small files
        # (on 4 cores, 32 write tasks took 2.19 s for the 23.7 MB that 4
        # wrote in 1.30 s).  It hashes the row key as well as wave_id,
        # so every write task gets an equal share of every wave, however
        # large one repo is, and writes one file into each wave's
        # directory.
        write_tasks = min(num_partitions, spark.sparkContext.defaultParallelism)
        base.withColumn(WAVE_ID, F.pmod(F.col(PART_ID), F.lit(n_waves))).repartition(
            write_tasks, F.col(WAVE_ID), F.col("repo"), F.col("path"), F.col("commit")
        ).write.mode("overwrite").partitionBy(WAVE_ID).parquet(stage_path)
    base = spark.read.schema(stage_schema).parquet(stage_path)

    done = {
        r.part_id
        for r in store.done_part_ids(
            run_id,
            schema_fingerprint=fingerprint,
            input_fingerprint=input_fingerprint or None,
        ).collect()
    }
    plan = [
        (wave, parts)
        for wave in range(n_waves)
        if (parts := [p for p in range(num_partitions) if p % n_waves == wave and p not in done])
    ]

    def build(wave: int, wave_parts: list[int]) -> ValidationRun:
        # The wave_id filter prunes the scan to the wave's directory;
        # the part_id filter is a row filter that drops the parts a
        # partial resume already committed.  The wave plan has no
        # exchange before the kernel.
        wave_df = base.filter(
            (F.col(WAVE_ID) == wave) & F.col(PART_ID).isin(wave_parts)
        ).drop(WAVE_ID)
        return validate_table(
            wave_df, graph, num_partitions=num_partitions, skewed_keys=skewed_keys
        )

    # A wave's plan takes ~0.2 s of driver time (hundreds of py4j
    # calls) to build, so the next wave's plan is built on a planner
    # thread while the current wave's jobs run.
    with ThreadPoolExecutor(max_workers=1) as planner:
        next_plan = planner.submit(build, *plan[0]) if plan else None
        for i, (wave, wave_parts) in enumerate(plan):
            t0 = time.monotonic()
            result: ValidationRun = next_plan.result()
            if i + 1 < len(plan):
                next_plan = planner.submit(build, *plan[i + 1])
            out = f"{(output_location or store.location).rstrip('/')}/run={run_id}/wave={wave}"
            # One kernel pass per wave: the validated relation feeds three
            # consumers (validated sink, violations sink, summary commit) —
            # without a persist each consumer would re-run the UDF stage,
            # tripling the wave's kernel cost.  Wave size already bounds the
            # cache footprint (that is what waves are for).  The three
            # consumers are independent, so they run as CONCURRENT jobs
            # (driver threads): the later jobs' tasks back-fill executors
            # freed by the first job's tail instead of waiting for it, and
            # the cache's per-partition loading locks guarantee the kernel
            # still runs once per partition whichever job gets there first.
            result.validated.persist()
            try:
                with ThreadPoolExecutor(max_workers=3) as pool:
                    f_validated = pool.submit(
                        lambda: result.validated.drop("violations")
                        .write.mode("overwrite")
                        .parquet(f"{out}/validated")
                    )
                    f_violations = pool.submit(
                        lambda: result.violations.write.mode("overwrite").parquet(
                            f"{out}/violations"
                        )
                    )
                    f_summary = pool.submit(result.summary.collect)
                    f_validated.result()
                    f_violations.result()
                    summary_rows = f_summary.result()
            finally:
                result.validated.unpersist()
            wall_ms = int((time.monotonic() - t0) * 1000)
            seen = {r[PART_ID] for r in summary_rows}
            records = [
                (
                    run_id,
                    int(r[PART_ID]),
                    "done",
                    int(r["rows"]),
                    int(r["valid_rows"]),
                    int(r["invalid_rows"]),
                    int(r["violation_count"]),
                    wall_ms,
                    wave,
                    fingerprint,
                    input_fingerprint,
                )
                for r in summary_rows
            ] + [
                # Empty partitions still checkpoint (lineage completeness).
                (run_id, p, "done", 0, 0, 0, 0, wall_ms, wave, fingerprint, input_fingerprint)
                for p in wave_parts
                if p not in seen
            ]
            store.append_rows(records)

    return ResumableResult(
        run_id=run_id,
        waves_run=len(plan),
        parts_done=sum(len(parts) for _, parts in plan),
        parts_skipped=len(done),
    )
