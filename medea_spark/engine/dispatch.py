"""Per-row schema dispatch by a data column.

Real corpora are heterogeneous: one table carries several file
families (by language, source, event type, path prefix), each with its
own schema.  Validating them should not need one job per family —
this module validates ALL families in ONE pass: a data column names
the schema, the UDF resolves each row's key to its family's compiled
graph, and the shared batch core (:func:`validate_batch`, also behind
the single-schema and version-keyed UDFs) validates the batch, with
one content memo per graph.

Plan shape is identical to the flagship path: scan → one Arrow kernel
stage — no shuffle, no join, no per-family filter-and-union fan-out
(which would scan the table once per family).

Rows whose key has no registered schema fail with the dedicated
``NO_SCHEMA_FOR_KEY`` constraint — deterministic and queryable, never
a silent guess — unless a ``default_key`` names the fallback family.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medea_spark.compiler.analyzer import SchemaGraph
from medea_spark.engine.validate import attach_verdict, kernel_udf
from medea_spark.kernel.batch import validate_batch

NO_SCHEMA_FOR_KEY = "NO_SCHEMA_FOR_KEY"


def make_dispatch_validation_udf(
    graphs: dict[str, SchemaGraph], default_key: str | None = None
):
    """Arrow-vectorized kernel UDF over (content, key): each row
    validates against its key's compiled graph.  NULL/unregistered keys
    resolve to ``default_key``'s graph when given, else fail
    NO_SCHEMA_FOR_KEY."""
    if default_key is not None and default_key not in graphs:
        raise ValueError(f"default_key {default_key!r} is not a registered schema key")
    missing = NO_SCHEMA_FOR_KEY if default_key is None else graphs[default_key]

    def _validate_batch(contents: pd.Series, keys: pd.Series) -> pd.DataFrame:
        get = graphs.get
        return validate_batch(
            contents.tolist(), [get(k, missing) for k in keys.tolist()]
        )

    return kernel_udf(_validate_batch)


def validate_table_dispatched(
    df: DataFrame,
    schemas: dict[str, SchemaGraph],
    key_col: str,
    content_col: str = "content",
    default_key: str | None = None,
) -> DataFrame:
    """Input rows plus ``is_valid`` / ``violations`` — each row judged
    by the schema its ``key_col`` value names.  One kernel stage for
    every family; no shuffle, no join."""
    if not schemas:
        raise ValueError("empty schema registry")
    udf = make_dispatch_validation_udf(schemas, default_key)
    return attach_verdict(df, udf(F.col(content_col), F.col(key_col)))
