"""The kernel batch core without Spark: the single-schema, dispatch and
version-keyed UDFs all resolve rows to graphs and hand the batch to
``validate_batch``.  Each case runs inside one batch and is checked
against a per-row ``validate_document`` call."""

from __future__ import annotations

import pandas as pd

import medea_spark.kernel.batch as core
from medea_spark.compiler import compile_schema_text
from medea_spark.engine import (
    NO_ACTIVE_SCHEMA,
    NO_SCHEMA_FOR_KEY,
    make_dispatch_validation_udf,
    make_validation_udf,
    make_versioned_validation_udf,
)
from medea_spark.kernel.validator import NOT_JSON, validate_document

NUMBER = compile_schema_text("$schema $start\n    $type\n        $number\n")
STRING = compile_schema_text("$schema $start\n    $type\n        $string\n")


def _rows(frame: pd.DataFrame) -> list[tuple[bool, list[str]]]:
    return [
        (ok, [v["failed_constraint"] for v in viols])
        for ok, viols in zip(frame["is_valid"], frame["violations"])
    ]


def _expected(graph, content) -> tuple[bool, list[str]]:
    if content is None:
        return False, [NOT_JSON]
    ok, viols = validate_document(graph, content)
    return ok, [c for _, c, _ in viols]


def _counting_kernel(monkeypatch) -> list:
    """Record every (graph, content) the batch core sends to the kernel."""
    calls: list = []

    def counted(graph, content, collect_all=False):
        calls.append((id(graph), content))
        return validate_document(graph, content, collect_all)

    monkeypatch.setattr(core, "validate_document", counted)
    return calls


def test_dispatch_batch_matches_per_row_kernel(monkeypatch):
    calls = _counting_kernel(monkeypatch)
    # "n1" and "n2" share one graph; "s" has a different one
    graphs = {"n1": NUMBER, "n2": NUMBER, "s": STRING}
    rows = [
        ("n1", "5"),
        ("n2", "5"),  # same content, key sharing n1's graph: a memo hit
        ("s", "5"),  # same content, different graph: must not reuse n1's verdict
        ("n1", '"x"'),
        ("s", '"x"'),
        ("zzz", "5"),  # unregistered key
        (None, "5"),  # NULL key
        ("n1", None),  # NULL content under a resolvable key
        ("zzz", None),  # an unresolved key wins over NULL content
        ("n2", "not json"),
    ]
    keys = pd.Series([k for k, _ in rows], dtype="object")
    contents = pd.Series([c for _, c in rows], dtype="object")

    got = _rows(make_dispatch_validation_udf(graphs).func(contents, keys))
    want = [
        (False, [NO_SCHEMA_FOR_KEY]) if k not in graphs else _expected(graphs[k], c)
        for k, c in rows
    ]
    assert got == want
    assert got[0] == (True, []) and got[2][0] is False  # verdicts differ by graph
    # the memo is per graph: "5" validates once for NUMBER and once for STRING
    assert calls.count((id(NUMBER), "5")) == 1
    assert calls.count((id(STRING), "5")) == 1

    # default_key: unregistered and NULL keys fall back to its graph
    fallback = _rows(
        make_dispatch_validation_udf(graphs, default_key="s").func(contents, keys)
    )
    assert fallback[5] == fallback[6] == _expected(STRING, "5")
    assert fallback[8] == (False, [NOT_JSON])
    assert [r for i, r in enumerate(fallback) if i not in (5, 6, 8)] == [
        r for i, r in enumerate(want) if i not in (5, 6, 8)
    ]


def test_versioned_batch_null_version():
    graphs = {1: NUMBER, 2: STRING}
    # a nullable int column reaches pandas as float64 with NaN for NULL
    versions = pd.Series([1.0, 2.0, None, 1.0, 2.0], dtype="float64")
    contents = pd.Series(["5", "5", "5", None, '"x"'], dtype="object")
    got = _rows(make_versioned_validation_udf(graphs).func(contents, versions))
    assert got == [
        _expected(NUMBER, "5"),
        _expected(STRING, "5"),
        (False, [NO_ACTIVE_SCHEMA]),
        (False, [NOT_JSON]),
        _expected(STRING, '"x"'),
    ]


def test_single_schema_batch_memo(monkeypatch):
    calls = _counting_kernel(monkeypatch)
    contents = pd.Series(['{"a": 1}', '{"a": 1}', None, "[]"], dtype="object")
    got = _rows(make_validation_udf(STRING).func(contents))
    assert got == [_expected(STRING, c) for c in contents.tolist()]
    assert calls == [(id(STRING), '{"a": 1}'), (id(STRING), "[]")]
