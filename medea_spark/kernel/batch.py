"""The kernel batch core: one Arrow batch of contents in, one verdict
frame out.  Every kernel UDF (single-schema, key-dispatched,
version-keyed) resolves its rows to graphs and hands the batch here.

It lives in the Spark-free kernel package, not beside the UDFs in
``medea_spark.engine``: the UDF closures reference it by module, so
every Python worker imports this module, and importing the engine
package would pull the whole ``pyspark.sql`` DataFrame stack into each
worker.
"""

from __future__ import annotations

import json

import pandas as pd

from medea_spark.compiler.analyzer import SchemaGraph
from medea_spark.kernel.validator import (
    NOT_JSON,
    offending_value_json,
    validate_document,
)


def _missing(constraint: str) -> list[dict]:
    return [{"json_pointer": "", "failed_constraint": constraint, "schema_name": ""}]


def _judge(graph: SchemaGraph, contents: list, collect_all: bool):
    """Verdicts of ``contents`` against one graph.  Memoised per batch on
    the content bytes: validation is a pure function of (graph, content),
    and real repo-file corpora are duplicate-heavy (vendored licenses,
    lockfiles, generated code), so identical documents validate once.
    Zero-copy dict lookup; negligible cost when all contents are unique."""
    valids: list[bool] = []
    violations: list[list[dict]] = []
    not_json = _missing(NOT_JSON)
    memo: dict = {}
    get = memo.get
    for content in contents:
        if content is None:
            valids.append(False)
            violations.append(not_json)
            continue
        hit = get(content)
        if hit is None:
            ok, viols = validate_document(graph, content, collect_all)
            hit = memo[content] = (
                ok,
                [
                    {"json_pointer": p, "failed_constraint": c, "schema_name": s}
                    for p, c, s in viols
                ],
            )
        valids.append(hit[0])
        violations.append(hit[1])
    return valids, violations


def validate_batch(
    contents: list, resolved: "SchemaGraph | list", collect_all: bool = False
) -> pd.DataFrame:
    """THE batch core of every kernel UDF: one Arrow batch of contents →
    a frame of ``is_valid`` / ``violations`` (``RESULT_STRUCT`` rows).

    ``resolved`` is either one compiled graph for every row, or a
    per-row list whose entries are a compiled graph or the name of the
    missing-schema constraint that row fails.  A constraint name wins
    over NULL content; NULL content under a graph fails ``NOT_JSON``.
    Rows are grouped by graph *identity*, and each group keeps its own
    content memo: keys that share a graph share hits, and different
    graphs never share a verdict.  Spark-free — callable on plain lists.
    """
    if not isinstance(resolved, list):
        valids, violations = _judge(resolved, contents, collect_all)
        return pd.DataFrame({"is_valid": valids, "violations": violations})
    n = len(resolved)
    valids = [False] * n
    violations: list = [None] * n
    groups: dict[int, tuple] = {}
    for i, target in enumerate(resolved):
        group = groups.get(id(target))
        if group is None:
            group = groups[id(target)] = (target, [])
        group[1].append(i)
    for target, pos in groups.values():
        if isinstance(target, str):
            missing = _missing(target)
            for i in pos:
                violations[i] = missing
            continue
        oks, viols = _judge(target, [contents[i] for i in pos], collect_all)
        for i, ok, v in zip(pos, oks, viols):
            valids[i] = ok
            violations[i] = v
    return pd.DataFrame({"is_valid": valids, "violations": violations})


_NOT_PARSED = object()


def offending_value_batch(contents, pointers):
    """The dev-mode ``offending_value`` UDF body: for each violation row,
    the JSON chunk at its pointer (the first 256 characters of content
    that does not parse; NULL content stays NULL).

    No annotations: the engine passes an explicit returnType, and this
    module's PEP 563 stringified hints would break pandas_udf inference."""
    parsed: dict = {}  # batch-local parse cache (duplicate-heavy corpora)
    out = []
    for content, pointer in zip(contents.tolist(), pointers.tolist()):
        if content is None:
            out.append(None)
            continue
        if content in parsed:
            value = parsed[content]
        else:
            try:
                value = parsed[content] = json.loads(content)
            except (ValueError, TypeError, RecursionError):
                value = parsed[content] = _NOT_PARSED
        if value is _NOT_PARSED:
            out.append(content[:256])
        else:
            out.append(offending_value_json(value, pointer))
    return pd.Series(out, dtype="object")
