"""Per-row schema dispatch by a data column.

Real corpora are heterogeneous: one table carries several file
families (by language, source, event type, path prefix), each with its
own schema.  Validating them should not need one job per family —
this module validates ALL families in ONE pass: a data column names
the schema, the keyed UDF resolves each row's key to its family's
compiled graph, and the shared batch core (:func:`validate_batch`, also
behind the single-schema UDF) validates the batch, with one content
memo per graph.  The same keyed UDF serves the version-keyed temporal
path (``engine/temporal.py``), and, being stateless, it drops into a
streaming plan unchanged: ``validate_table_dispatched`` accepts a
streaming frame.

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


def make_dispatch_validation_udf(graphs: dict, fallback: SchemaGraph | str):
    """THE keyed kernel UDF, over (content, key): each row validates
    against its key's compiled graph.  A NULL or unregistered key
    resolves to ``fallback``: a graph to validate against, or the name
    of the missing-schema constraint the row fails (NULL keys of a
    numeric column arrive as NaN, which no key matches)."""

    def _validate_batch(contents: pd.Series, keys: pd.Series) -> pd.DataFrame:
        get = graphs.get
        return validate_batch(
            contents.tolist(), [get(k, fallback) for k in keys.tolist()]
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
    every family; no shuffle, no join.  ``df`` may be a streaming
    frame."""
    if not schemas:
        raise ValueError("empty schema registry")
    if default_key is None:
        fallback = NO_SCHEMA_FOR_KEY
    elif default_key in schemas:
        fallback = schemas[default_key]
    else:
        raise ValueError(f"default_key {default_key!r} is not a registered schema key")
    udf = make_dispatch_validation_udf(schemas, fallback)
    return attach_verdict(df, udf(F.col(content_col), F.col(key_col)))
