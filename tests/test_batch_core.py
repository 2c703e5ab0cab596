"""The kernel batch core without Spark: the single-schema and keyed
UDFs resolve rows to graphs and hand the batch to ``validate_batch``.
The keyed UDF serves both dispatch (a missing-schema constraint or a
default graph for unmatched keys) and version-keyed validation
(``NO_ACTIVE_SCHEMA`` for NULL versions).  Each case runs inside one
batch and is checked against a per-row ``validate_document`` call."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pandas as pd

import medea_spark.kernel.batch as core
from medea_spark.compiler import compile_schema_text
from medea_spark.engine import (
    NO_ACTIVE_SCHEMA,
    NO_SCHEMA_FOR_KEY,
    make_dispatch_validation_udf,
    make_validation_udf,
)
from medea_spark.kernel.validator import NOT_JSON, validate_document

NUMBER = compile_schema_text("$schema $start\n    $type\n        $number\n")
STRING = compile_schema_text("$schema $start\n    $type\n        $string\n")
REPO = Path(core.__file__).resolve().parents[2]


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

    got = _rows(
        make_dispatch_validation_udf(graphs, NO_SCHEMA_FOR_KEY).func(contents, keys)
    )
    want = [
        (False, [NO_SCHEMA_FOR_KEY]) if k not in graphs else _expected(graphs[k], c)
        for k, c in rows
    ]
    assert got == want
    assert got[0] == (True, []) and got[2][0] is False  # verdicts differ by graph
    # the memo is per graph: "5" validates once for NUMBER and once for STRING
    assert calls.count((id(NUMBER), "5")) == 1
    assert calls.count((id(STRING), "5")) == 1

    # a graph fallback: unregistered and NULL keys validate against it
    fallback = _rows(make_dispatch_validation_udf(graphs, STRING).func(contents, keys))
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
    got = _rows(
        make_dispatch_validation_udf(graphs, NO_ACTIVE_SCHEMA).func(contents, versions)
    )
    assert got == [
        _expected(NUMBER, "5"),
        _expected(STRING, "5"),
        (False, [NO_ACTIVE_SCHEMA]),
        (False, [NOT_JSON]),
        _expected(STRING, '"x"'),
    ]
    # a graph fallback judges the NULL-version row instead
    with_graph = make_dispatch_validation_udf(graphs, NUMBER).func(contents, versions)
    assert _rows(with_graph)[2] == _expected(NUMBER, "5")


def test_single_schema_batch_memo(monkeypatch):
    calls = _counting_kernel(monkeypatch)
    contents = pd.Series(['{"a": 1}', '{"a": 1}', None, "[]"], dtype="object")
    got = _rows(make_validation_udf(STRING).func(contents))
    assert got == [_expected(STRING, c) for c in contents.tolist()]
    assert calls == [(id(STRING), '{"a": 1}'), (id(STRING), "[]")]


_UNPICKLE = """
import pickle, sys
pickle.loads(sys.stdin.buffer.read())
print(" ".join(sorted(m for m in sys.modules if m.startswith("medea_spark"))))
"""


def _worker_pythonpath() -> str:
    """What a local Python worker searches: pyspark's own zips under
    ``$SPARK_HOME/python/lib`` (when present), then the repo root."""
    spark_home = os.environ.get("SPARK_HOME")
    zips = sorted(Path(spark_home, "python", "lib").glob("*.zip")) if spark_home else []
    return os.pathsep.join([*map(str, zips), str(REPO)])


def test_kernel_udf_closures_import_only_the_kernel():
    """A worker imports whatever module a UDF closure names; the engine
    package would drag the pyspark.sql DataFrame stack into every worker,
    and the kernel package installs the worker-side zipimport fix."""
    from pyspark import cloudpickle

    from medea_spark.engine.validate import _make_offending_value_udf

    udfs = {
        "single": make_validation_udf(NUMBER),
        "dispatch": make_dispatch_validation_udf({"n": NUMBER}, NO_SCHEMA_FOR_KEY),
        "versioned": make_dispatch_validation_udf({1: NUMBER}, NO_ACTIVE_SCHEMA),
        "offending_value": _make_offending_value_udf(),
    }
    for name, udf in udfs.items():
        out = subprocess.run(
            [sys.executable, "-c", _UNPICKLE],
            input=cloudpickle.dumps(udf.func),
            capture_output=True,
            env={**os.environ, "PYTHONPATH": _worker_pythonpath()},
            check=True,
        )
        loaded = out.stdout.decode().split()
        assert "medea_spark.kernel" in loaded, name
        assert not [m for m in loaded if m.startswith("medea_spark.engine")], (name, loaded)
