"""The distributed validation pipeline (C4-C7 of SURVEY.md §2.C).

Dataflow (one exchange total):

    scan → part_id/salt_id columns (no exchange) → pandas-UDF kernel
         → per-partition summaries (map-side partial agg, no extra
           shuffle beyond the final tiny agg exchange)
         → violation explode (only invalid rows)

The kernel is the only non-relational piece: Catalyst cannot see inside
it, so we keep it pure per-row (embarrassingly parallel) and move data
across the JVM→Python boundary in Arrow batches
(``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds memory).

Reference parity: one ``validate`` call per document
(src/Data/Medea.hs:225-232) becomes one element of an Arrow batch.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medea_spark.compiler.analyzer import SchemaGraph
from medea_spark.engine.partitioning import PART_ID, SALT_ID, with_partition_columns
from medea_spark.kernel.batch import offending_value_batch, validate_batch

VIOLATION_STRUCT = T.StructType(
    [
        T.StructField("json_pointer", T.StringType(), False),
        T.StructField("failed_constraint", T.StringType(), False),
        T.StructField("schema_name", T.StringType(), False),
    ]
)

RESULT_STRUCT = T.StructType(
    [
        T.StructField("is_valid", T.BooleanType(), False),
        T.StructField("violations", T.ArrayType(VIOLATION_STRUCT, False), False),
    ]
)


def kernel_udf(fn):
    """Wrap a batch function returning ``validate_batch`` frames as the
    kernel pandas UDF.

    asNondeterministic despite the kernel being pure: it is an
    *evaluate-once* pledge to Catalyst.  Otherwise a plan that filters
    on _vr.is_valid and projects _vr.violations re-runs the whole
    kernel per reference (CollapseProject dedupes only within one
    Project) — measured 3x on the violation-census query shape."""
    return F.pandas_udf(fn, RESULT_STRUCT).asNondeterministic()


def make_validation_udf(graph: SchemaGraph, collect_all: bool = False):
    """Build the Arrow-vectorized validation kernel UDF: every row
    against ``graph``.

    The compiled graph is small (≪1 MB); closing over it ships it once
    per task via the pickled UDF — the per-executor cost a broadcast
    would have, without the extra plumbing."""

    def _validate_batch(batch: pd.Series) -> pd.DataFrame:
        return validate_batch(batch.tolist(), graph, collect_all)

    return kernel_udf(_validate_batch)


def attach_verdict(df: DataFrame, verdict: Column) -> DataFrame:
    """``df`` plus the ``is_valid`` / ``violations`` fields of a kernel
    UDF's ``verdict`` column."""
    return (
        df.withColumn("_vr", verdict)
        .withColumn("is_valid", F.col("_vr.is_valid"))
        .withColumn("violations", F.col("_vr.violations"))
        .drop("_vr")
    )


def _make_offending_value_udf():
    # Constructed per validate_table call (like make_validation_udf): a
    # module-level pandas_udf caches its JVM handle on first use and
    # breaks if the SparkSession is restarted within the same process.
    return F.pandas_udf(offending_value_batch, T.StringType())


@dataclass
class ValidationRun:
    """The three output relations of a validation pass."""

    validated: DataFrame  # input + is_valid + n_violations + content_sha256
    violations: DataFrame  # exploded (key cols, json_pointer, failed_constraint, schema_name)
    summary: DataFrame  # per part_id pass/fail counts


def validate_table(
    df: DataFrame,
    graph: SchemaGraph,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    num_partitions: int | None = None,
    skewed_keys: list[str] | None = None,
    observe: "Observation | None" = None,
    with_offending_values: bool = False,
) -> ValidationRun:
    """Validate every row's ``content_col`` against the compiled graph.

    The content bytes never shuffle (the 100 TB answer): the kernel is
    embarrassingly parallel and the source's scan splits are already
    size-balanced (``spark.sql.files.maxPartitionBytes``), so physically
    shuffling the content to co-locate by repo would cost more than the
    validation itself.  ``part_id`` is computed as a *column* (pure
    repo-hash); the per-partition summary then shuffles only the
    map-side-combined aggregate rows — kilobytes, not the table.  The
    kernel tasks follow the scan splits, so work is split by bytes, not
    by repo — but only as evenly as the input's files allow: Spark packs
    files into splits largest first, so a source that clusters a
    monorepo's rows into a few large files can still hand one task most
    of the rows.  A checkpointed run spreads every wave's rows evenly over
    equal files once, in its stage (``checkpoint.store``).
    """
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = with_partition_columns(
        df, num_partitions, key_col=key_cols[0], skewed_keys=skewed_keys
    )

    validated = attach_verdict(base, make_validation_udf(graph)(F.col(content_col)))
    return _validation_run(
        validated, content_col, key_cols, bool(skewed_keys), observe, with_offending_values
    )


def _validation_run(
    validated: DataFrame,
    content_col: str,
    key_cols: tuple[str, ...],
    salted: bool,
    observe: "Observation | None" = None,
    with_offending_values: bool = False,
) -> ValidationRun:
    """The three output relations from a table that already carries the
    verdict and the partition columns (``salted``: whether any key was
    salted, i.e. whether salt_id can be other than 0)."""
    # Per-row identity invariant vs the fixture corpus (BASELINE.json
    # input_hint): sha256 of the exact content bytes, computed JVM-side.
    validated = validated.withColumn(
        "content_sha256", F.sha2(F.col(content_col), 256)
    ).withColumn("n_violations", F.size("violations"))
    if observe is not None:
        # Lineage/metrics hook (C15): after any action on `validated`,
        # observe.get returns {rows, valid_rows, violation_count} free of
        # extra passes — the numbers recorded with checkpoint commits.
        validated = validated.observe(
            observe,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("is_valid").cast("long")).alias("valid_rows"),
            F.sum("n_violations").alias("violation_count"),
        )

    violation_cols = [
        F.col("v.json_pointer").alias("json_pointer"),
        F.col("v.failed_constraint").alias("failed_constraint"),
        F.col("v.schema_name").alias("schema_name"),
    ]
    if with_offending_values:
        # Dev-mode parity with the reference's error payloads
        # (NotOneOfOptions !Value etc., Medea.hs:181-204): re-resolve the
        # violation pointer against the document and embed the truncated
        # offending chunk.  Only invalid rows pay the second parse, and
        # only when the flag is on — the 100 TB default keeps violation
        # rows narrow.
        violations = (
            validated.filter(~F.col("is_valid"))
            .select(*key_cols, PART_ID, F.col(content_col), F.explode("violations").alias("v"))
            .select(
                *key_cols,
                PART_ID,
                *violation_cols,
                _make_offending_value_udf()(
                    F.col(content_col), F.col("v.json_pointer")
                ).alias("offending_value"),
            )
        )
    else:
        violations = (
            validated.filter(~F.col("is_valid"))
            .select(*key_cols, PART_ID, F.explode("violations").alias("v"))
            .select(*key_cols, PART_ID, *violation_cols)
        )

    # salt_id is never NULL, so the size of its set is its distinct
    # count; a countDistinct here would plan a second exchange (three
    # jobs per collect instead of two).  Unsalted, salt_id is the
    # literal 0 and every part (every group) has seen one bucket: the
    # literal keeps the set, and the ObjectHashAggregate it forces, out
    # of the plan.
    if salted:
        buckets_seen = F.size(F.collect_set(SALT_ID)).cast("long")
    else:
        buckets_seen = F.lit(1).cast("long")
    summary = validated.groupBy(PART_ID).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("is_valid").cast("long")).alias("valid_rows"),
        F.sum((~F.col("is_valid")).cast("long")).alias("invalid_rows"),
        F.sum("n_violations").alias("violation_count"),
        buckets_seen.alias("salt_buckets_seen"),
    )
    return ValidationRun(validated=validated, violations=violations, summary=summary)
