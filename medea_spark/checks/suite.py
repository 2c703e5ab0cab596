"""Declarative data-quality check suites (single-pass).

A rule list compiles into ONE aggregate over the table — every
count-style expectation (null checks, range checks, regex checks,
accepted values, uniqueness, row floor) becomes a conditional-count
expression in the same ``agg``, so a 40-rule suite over 100 TB costs
one job with map-side partial aggregation, not 40 jobs.  Caveat: TWO
or more EXACT ``unique()`` rules on different keys make Spark rewrite
the aggregate through an Expand, multiplying the aggregated row
stream (not the scan) by the number of distinct groups — prefer
``unique(approx=True)`` (HLL, never expands) or ``unique_sampled``
(deterministic hash slice, ~2^-shift of the stream per rule) when a
suite carries several uniqueness rules.  The
result is one tiny row, reshaped driver-side into the uniform
``(rule_id, kind, column, metric, threshold, passed)`` relation a
quality dashboard or a CI gate consumes.

Tolerances are absolute row counts (``max_violations``) — a rule
passes when its violation metric is ≤ the tolerance (for ``min_rows``
the metric is the row count and the rule passes when it is ≥ the
threshold).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class Rule:
    rule_id: str
    kind: str
    column: str  # "" for table-level rules
    metric_expr: Column = field(compare=False)
    threshold: int = 0
    at_least: bool = False  # pass when metric >= threshold (min_rows)


def _cnt(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long")


def not_null(column: str, rule_id: str | None = None, max_violations: int = 0) -> Rule:
    return Rule(
        rule_id or f"not_null:{column}",
        "not_null",
        column,
        _cnt(F.col(column).isNull()),
        max_violations,
    )


def in_range(
    column: str,
    lo: float,
    hi: float,
    rule_id: str | None = None,
    max_violations: int = 0,
) -> Rule:
    c = F.col(column)
    return Rule(
        rule_id or f"in_range:{column}",
        "in_range",
        column,
        _cnt(c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi)))),
        max_violations,
    )


def matches(
    column: str, regex: str, rule_id: str | None = None, max_violations: int = 0
) -> Rule:
    c = F.col(column)
    return Rule(
        rule_id or f"matches:{column}",
        "matches",
        column,
        _cnt(c.isNotNull() & ~c.rlike(regex)),
        max_violations,
    )


def accepted_values(
    column: str,
    values: list,
    rule_id: str | None = None,
    max_violations: int = 0,
) -> Rule:
    c = F.col(column)
    return Rule(
        rule_id or f"accepted_values:{column}",
        "accepted_values",
        column,
        _cnt(c.isNotNull() & ~c.isin(list(values))),
        max_violations,
    )


def unique(
    columns: list[str],
    rule_id: str | None = None,
    max_violations: int = 0,
    approx: bool = False,
    rsd: float = 0.05,
) -> Rule:
    """Surplus rows beyond one per distinct key (0 = fully unique).

    **NULL-key semantics**: the key is a struct, and a struct with NULL
    fields is itself non-NULL, so rows whose key columns are all NULL
    form ONE distinct group (they count toward uniqueness like any
    other key) — unlike plain SQL ``count(distinct col)``, which skips
    NULLs entirely.  Oracles mirroring this rule must coalesce NULL
    keys to a sentinel (or use a row-value distinct) to agree.

    **Cost**: the exact path is countDistinct in the shared aggregate —
    still one pass, but K ≥ 2 exact unique() rules on different keys
    trigger Spark's multi-distinct Expand rewrite, pushing (K+1)× the
    row stream through the aggregate (one job, not one-scan-cost).
    ``approx=True`` switches to HLL++
    (``approx_count_distinct``, relative error ``rsd``): a fixed-size
    sketch that rides the aggregate with NO Expand — the right choice
    for 40-rule suites at 100 TB where ±rsd on the surplus is
    acceptable.  HLL estimates are engine-specific (not reproducible
    in DuckDB), so approx rules are gated by unit tests, not the
    oracle differential; ``unique_sampled`` below is the
    deterministic, engine-portable approximation."""
    key = F.struct(*[F.col(c) for c in columns])
    distinct = (
        F.approx_count_distinct(key, rsd) if approx else F.countDistinct(key)
    )
    metric = F.greatest(F.lit(0), F.count(F.lit(1)) - distinct).cast("long")
    return Rule(
        rule_id or f"unique{'_approx' if approx else ''}:{','.join(columns)}",
        "unique_approx" if approx else "unique",
        ",".join(columns),
        metric,
        max_violations,
    )


def unique_sampled(
    columns: list[str],
    shift: int = 3,
    rule_id: str | None = None,
    max_violations: int = 0,
) -> Rule:
    """Deterministic sampled uniqueness: estimate the distinct-key
    count from the keys falling in a 2^-shift hash slice and scale up —
    ``est = 2^shift * countDistinct(key | md5_60(key) < 2^60/2^shift)``,
    metric = max(0, count - est).

    Unlike HLL this is exactly reproducible in any engine with md5
    (the 60-bit hash and the arithmetic are integer-exact), so it IS
    covered by the DuckDB oracle differential; and unlike exact
    countDistinct the Expand branch carries only ~2^-shift of the
    rows, so K sampled rules cost ~K/2^shift extra row-stream instead
    of K×.  Estimator error ~ 1/sqrt(distinct/2^shift); use small
    shift for low-cardinality keys.  NULL key columns are folded to a
    sentinel before hashing (same one-group semantics as unique())."""
    key_str = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in columns],
    )
    h = F.conv(F.substring(F.md5(key_str), 1, 15), 16, 10).cast("bigint")
    cut = F.lit((1 << 60) >> shift)
    est = F.countDistinct(F.when(h < cut, key_str)) * F.lit(1 << shift)
    metric = F.greatest(F.lit(0), F.count(F.lit(1)) - est).cast("long")
    return Rule(
        rule_id or f"unique_sampled:{','.join(columns)}",
        "unique_sampled",
        ",".join(columns),
        metric,
        max_violations,
    )


def min_rows(n: int, rule_id: str | None = None) -> Rule:
    return Rule(
        rule_id or f"min_rows:{n}",
        "min_rows",
        "",
        F.count(F.lit(1)).cast("long"),
        n,
        at_least=True,
    )


RESULT_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("metric", T.LongType(), False),
        T.StructField("threshold", T.LongType(), False),
        T.StructField("passed", T.BooleanType(), False),
    ]
)


def run_check_suite(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate every rule in ONE aggregate pass; returns the uniform
    results relation (one row per rule, in rule order)."""
    if not rules:
        raise ValueError("empty rule list")
    ids = [r.rule_id for r in rules]
    if len(set(ids)) != len(ids):
        raise ValueError(f"duplicate rule_ids: {ids}")
    row = df.agg(
        *[r.metric_expr.alias(f"m{i}") for i, r in enumerate(rules)]
    ).collect()[0]
    spark = SparkSession.getActiveSession() or df.sparkSession
    records = []
    for i, r in enumerate(rules):
        metric = int(row[f"m{i}"] or 0)
        passed = metric >= r.threshold if r.at_least else metric <= r.threshold
        records.append((r.rule_id, r.kind, r.column, metric, int(r.threshold), passed))
    # A pandas frame (Arrow on) plans a LocalRelation that every consumer
    # reads without a job; a list of tuples would plan a LogicalRDD whose
    # every read runs Python-worker tasks.
    return spark.createDataFrame(
        pd.DataFrame.from_records(records, columns=RESULT_SCHEMA.names), RESULT_SCHEMA
    )
