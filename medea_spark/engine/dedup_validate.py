"""Global dedup-then-validate: validate each distinct content once.

Real repo-file corpora at 10^12 scale are heavily duplicated across
repos and commits (licenses, lockfiles, vendored deps — frequently
30-60% of rows).  The kernel's per-batch memo (validate_batch) only
catches duplicates that share an Arrow batch; this operator
deduplicates *globally*:

    rows → (content_key = xxhash64(content)) →
    distinct(content_key, content)  [one shuffle of distinct contents]
    → kernel UDF over distincts only →
    rows ⋈ verdicts on content_key  [one shuffle join]

Trade-off: two exchanges keyed by the content hash versus kernel CPU
proportional to the duplicate mass.  Worth it when duplicate rate ×
per-doc cost exceeds shuffle cost — i.e. for big documents and/or high
duplication; the shuffle-free path (validate_table) wins on
near-unique corpora.  AQE picks the join strategy (broadcast when the
distinct side is small).

Hash-collision note: verdicts join on xxhash64(content) *and* a length
guard; a 64-bit collision with equal lengths mis-attributes one
verdict in ~10^-19 per pair — acceptable for data-quality telemetry;
use sha2-based keys when cryptographic certainty is required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medea_spark.compiler.analyzer import SchemaGraph
from medea_spark.engine.partitioning import with_partition_columns
from medea_spark.engine.validate import (
    ValidationRun,
    _validation_run,
    attach_verdict,
    make_validation_udf,
)


def validate_table_deduped(
    df: DataFrame,
    graph: SchemaGraph,
    content_col: str = "content",
    key_cols: tuple[str, ...] = ("repo", "path", "commit"),
    num_partitions: int | None = None,
    skewed_keys: list[str] | None = None,
) -> ValidationRun:
    """validate_table semantics, one kernel call per distinct content."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # NULL content must survive the equi-join (NULL != NULL would drop
    # its verdict, diverging from validate_table's NOT_JSON): xxhash64
    # of a null column is already non-null, and the length guard is
    # coalesced to a sentinel no real length can take.
    keyed = df.withColumn("_ck", F.xxhash64(F.col(content_col))).withColumn(
        "_clen", F.coalesce(F.length(F.col(content_col)), F.lit(-1))
    )
    distinct = keyed.select("_ck", "_clen", content_col).dropDuplicates(["_ck", "_clen"])
    verdicts = attach_verdict(
        distinct, make_validation_udf(graph)(F.col(content_col))
    ).select("_ck", "_clen", "is_valid", "violations")
    validated = keyed.join(verdicts, ["_ck", "_clen"], "left").drop("_ck", "_clen")
    validated = with_partition_columns(
        validated, num_partitions, key_col=key_cols[0], skewed_keys=skewed_keys
    )
    return _validation_run(validated, content_col, key_cols, bool(skewed_keys))
