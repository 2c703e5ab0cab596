"""Explicit repo-hash partitioning with deterministic skew salting.

North-rule requirement: "partitioning / shuffle / skew handled
explicitly".  At 10^12 files a handful of giant monorepos dominate row
counts; hash-partitioning by ``repo`` alone would leave a few straggler
partitions running the (CPU-bound) validation kernel long after the
rest finish.  AQE rebalances *joins* but not UDF-stage input balance,
so we salt ourselves.

Everything is deterministic (hash of data columns, never ``rand()``) so
a rerun/resume assigns every row to the same ``(part_id, salt_id)`` —
that is what makes per-partition checkpoints trustworthy.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

PART_ID = "part_id"
SALT_ID = "salt_id"


def detect_skewed_keys(
    df: DataFrame,
    key_col: str = "repo",
    skew_fraction: float = 0.05,
    max_keys: int = 64,
) -> list[str]:
    """Pre-pass: keys holding at least ``skew_fraction`` of all rows
    (the threshold is ``max(1, floor(total · skew_fraction))``), largest
    first, at most ``max_keys`` of them.

    One partial-aggregated groupBy over the key column only (column
    pruning keeps the scan narrow), read through a single top-k: every
    key at or above the threshold is among the ``max_keys`` largest
    counts, so the driver applies the threshold to those rows.  The
    total rides the same pass as an observed metric, not a second
    aggregate or a collect of its own.
    """
    total = Observation()
    top = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .observe(total, F.sum("cnt").alias("total"))
        .orderBy(F.desc("cnt"))
        .limit(max_keys)
        .collect()
    )
    threshold = max(1, math.floor((total.get["total"] or 0) * skew_fraction))
    return [r[key_col] for r in top if r["cnt"] >= threshold]


def with_partition_columns(
    df: DataFrame,
    num_partitions: int,
    key_col: str = "repo",
    skewed_keys: list[str] | None = None,
) -> DataFrame:
    """Add deterministic ``part_id`` (repo-hash bucket) and ``salt_id``
    (0 for normal repos; a ``path``-hash bucket for giant monorepos).

    A salted repo's rows take ``4 × num_partitions`` salt buckets: a repo
    big enough to be salted should spread over ALL partitions, and the
    exchange re-hashes our bucket ids, so bucket granularity must be
    finer than the partition count for balls-in-bins collisions to
    average out (the 30M-row skew bench measured a fixed 16 buckets
    into 64 partitions at a 5× straggler, and exactly num_partitions
    buckets still ~3× — max bin of B balls in B bins is ~3; at 4×
    granularity each hot-bucket share is a quarter as heavy and the
    max partition load converges toward fair share)."""
    part = F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_partitions)).cast("int")
    if skewed_keys:
        salt = (
            F.when(
                F.col(key_col).isin(list(skewed_keys)),
                F.pmod(F.xxhash64(F.col("path")), F.lit(4 * num_partitions)).cast("int"),
            )
            .otherwise(F.lit(0))
        )
    else:
        salt = F.lit(0)
    return df.withColumn(PART_ID, part).withColumn(SALT_ID, salt.cast("int"))
