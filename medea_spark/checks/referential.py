"""Referential integrity via broadcast anti-join (SURVEY.md §2.C C11;
north rule: "referential integrity of commit→repo via broadcast join").

The dimension side (the repo universe) is small relative to the fact
table, so we force a broadcast-hash anti-join: no shuffle of the fact
table at all — each task streams its rows past an in-memory hash set.
The dimension keys are not de-duplicated first: a left-anti join keeps
a fact row exactly when no dimension row matches, however many do, so
a ``distinct`` would only add a shuffle job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphan_rows(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
) -> DataFrame:
    """Fact rows whose key has no match in the dimension."""
    dim_key = dim_key or fact_key
    dim_keys = F.broadcast(dim.select(F.col(dim_key).alias(fact_key)))
    return fact.join(dim_keys, on=fact_key, how="left_anti")


def referential_report(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
) -> DataFrame:
    """Per-orphan-key violation counts: (key, orphan_rows), most orphan
    rows first, ties by key.

    The relation has one row per orphan key, so it is sorted in a
    single partition: a global ``orderBy`` would plan a range exchange
    whose bounds cost an extra sampling job."""
    return (
        orphan_rows(fact, dim, fact_key, dim_key)
        .groupBy(fact_key)
        .agg(F.count(F.lit(1)).alias("orphan_rows"))
        .coalesce(1)
        .sortWithinPartitions(F.desc("orphan_rows"), F.asc(fact_key))
    )
