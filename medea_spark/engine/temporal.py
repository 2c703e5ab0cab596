"""Temporal (as-of) schema-version validation.

Real ingest pipelines evolve their schemas: an event must validate
against the schema version that was ACTIVE at its event time, not
today's.  This is an as-of join between the fact table and a tiny
schema-history dimension — and because the dimension is tiny (tens of
versions) and sorted, the join collapses to a pure columnar expression:
the assigned version is a running comparison of the event timestamp
against a literal array of version boundaries (``aggregate`` over the
boundary literals — whole-stage codegen, zero join, zero shuffle, zero
row blowup).  The generic |facts| × |versions| expand-then-argmax
as-of join shape is never materialized.

Validation then runs the keyed kernel UDF of ``engine/dispatch.py``
over (content, version): each row resolves to its version's compiled
graph, and the Arrow batch goes to the shared kernel batch core
(:func:`~medea_spark.kernel.batch.validate_batch`).

All boundary arithmetic is in integral microseconds (``unix_micros`` /
DuckDB ``epoch_us``) — engine-portable, hash-exact.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from medea_spark.compiler.analyzer import SchemaGraph
from medea_spark.engine.dispatch import make_dispatch_validation_udf
from medea_spark.engine.validate import attach_verdict


@dataclass(frozen=True)
class SchemaVersion:
    """One row of the schema-history dimension."""

    version: int
    effective_from: datetime  # inclusive; naive = UTC (session timezone)
    graph: SchemaGraph


def _boundaries_us(versions: list[SchemaVersion]) -> list[int]:
    ordered = sorted(versions, key=lambda v: v.effective_from)
    if [v.version for v in ordered] != [v.version for v in versions]:
        raise ValueError(
            "schema versions must be supplied in effective_from order "
            "(a shuffled history is almost always a caller bug)"
        )
    # Naive datetimes are UTC by contract (the engine session pins
    # spark.sql.session.timeZone=UTC); .timestamp() on a naive value
    # would use the PROCESS timezone, so attach UTC explicitly.
    from datetime import timezone

    us = [
        int(
            (
                v.effective_from
                if v.effective_from.tzinfo is not None
                else v.effective_from.replace(tzinfo=timezone.utc)
            ).timestamp()
            * 1_000_000
        )
        for v in ordered
    ]
    if len(set(us)) != len(us):
        raise ValueError("duplicate effective_from timestamps in schema history")
    # Duplicate version ids would silently collapse in the graphs dict
    # (validate_table_versioned keys graphs by version) — the earlier
    # window would validate against the later graph with no error.
    if len({v.version for v in versions}) != len(versions):
        raise ValueError("duplicate version ids in schema history")
    return us


def assign_schema_version(
    ts_col: Column, versions: list[SchemaVersion]
) -> Column:
    """``int`` column: the version active at ``ts_col`` (latest
    ``effective_from <= ts``), or NULL for rows before the first
    version (the caller decides whether that is an error — see
    :func:`validate_table_versioned`, which reports them as
    violations rather than guessing a schema).

    One ``aggregate`` over a literal boundary array: counts boundaries
    ≤ ts, then indexes the version-id literal array — O(|versions|)
    per row in codegen, no join."""
    bounds = _boundaries_us(versions)
    ids = [v.version for v in sorted(versions, key=lambda v: v.effective_from)]
    ts_us = F.unix_micros(ts_col)
    idx = F.aggregate(
        F.lit(bounds),
        F.lit(0),
        lambda acc, b: acc + F.when(ts_us >= b, F.lit(1)).otherwise(F.lit(0)),
    )
    return F.when(idx == 0, F.lit(None).cast("int")).otherwise(
        F.element_at(F.lit(ids), idx).cast("int")
    )


NO_ACTIVE_SCHEMA = "NO_ACTIVE_SCHEMA"


def validate_table_versioned(
    df: DataFrame,
    versions: list[SchemaVersion],
    ts_col: str = "ts",
    content_col: str = "content",
) -> DataFrame:
    """Input rows plus ``schema_version`` (int, NULL = none active),
    ``is_valid``, ``violations`` — each row judged by the schema active
    at its own event time.  Plan shape: scan → codegen version
    assignment → one Arrow kernel stage.  No shuffle, no join.  Rows
    with a NULL version (no schema active at their event time) fail
    with the dedicated NO_ACTIVE_SCHEMA constraint — deterministic and
    queryable, never a silent guess."""
    udf = make_dispatch_validation_udf(
        {v.version: v.graph for v in versions}, NO_ACTIVE_SCHEMA
    )
    out = df.withColumn(
        "schema_version", assign_schema_version(F.col(ts_col), versions)
    )
    return attach_verdict(out, udf(F.col(content_col), F.col("schema_version")))
