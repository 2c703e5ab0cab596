"""Uniqueness / duplicate-key detection via salted hash aggregation
(SURVEY.md §2.C C10; north rule: "uniqueness over (repo,path,commit)
via salted hash-aggregation").

Catalyst already does partial (map-side) + final hash aggregation for a
plain ``groupBy(keys).count()``, and for an *algebraic* aggregate like
count the partial agg alone bounds hot-key reducer load — each mapper
sends at most one row per (key, mapper).  ``salted=False`` is therefore
the default.  The explicit *salted two-phase* variant exists for the
cases partial aggregation cannot cover: non-algebraic/high-cardinality
aggregates (collect-like, exact distinct structures) or deliberately
disabled partial aggregation, where phase 1 groups by (keys,
partition-local salt) so no reducer materializes a whole hot key.  The
salt is ``spark_partition_id`` — unlike the engine's data-hash salting
invariant (partitioning.py), a *data* hash of the key columns would be
constant within the hot key and split nothing; this salt never feeds
checkpointing, so run-to-run stability is not required.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _key_counts(df: DataFrame, keys: list[str], salted: bool) -> DataFrame:
    """One row per key group, NULL key parts included: (keys..., dup_count)."""
    if salted:
        phase1 = (
            df.select(*keys)
            .withColumn("_salt", F.pmod(F.spark_partition_id(), F.lit(32)))  # salt buckets
            .groupBy(*keys, "_salt")
            .agg(F.count(F.lit(1)).alias("_partial"))
        )
        return phase1.groupBy(*keys).agg(F.sum("_partial").alias("dup_count"))
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("dup_count"))


def duplicate_keys(df: DataFrame, keys: list[str], salted: bool = False) -> DataFrame:
    """Keys appearing more than once: (keys..., dup_count)."""
    return _key_counts(df, keys, salted).filter(F.col("dup_count") > 1)


def uniqueness_report(df: DataFrame, keys: list[str], salted: bool = False) -> DataFrame:
    """One-row summary: total rows, distinct keys, duplicate keys,
    surplus rows (rows that would be dropped by a dedup).

    All four numbers come from ONE pass over the per-key counts, so the
    input is scanned once.  ``distinct_keys`` keeps SQL
    ``count(distinct k1, k2, ...)`` semantics: a key with any NULL part
    is not counted.  ``duplicate_keys`` and ``surplus_rows`` do count a
    repeated NULL-part key, as ``duplicate_keys()`` reports it.  Empty
    input gives four zeros."""
    dup = F.col("dup_count") > 1
    complete = reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
    return _key_counts(df, keys, salted).agg(
        F.coalesce(F.sum("dup_count"), F.lit(0)).alias("total_rows"),
        F.count_if(complete).alias("distinct_keys"),
        F.count_if(dup).alias("duplicate_keys"),
        F.coalesce(F.sum(F.when(dup, F.col("dup_count") - 1)), F.lit(0)).alias("surplus_rows"),
    )
