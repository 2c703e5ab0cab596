"""Distribution-drift detection via chi-square on histograms
(SURVEY.md §2.C C12; north rule: "distribution-drift checks on
lang/size histograms via chi-square against a baseline snapshot").

The histograms are one hash-aggregate each (tiny outputs); the
chi-square statistic is a full-outer join of the two histograms plus a
sum — all relational.  The p-value is computed on the driver from the
statistic with a pure-Python regularized incomplete gamma (no scipy in
the runtime image).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lang_size_histogram(
    df: DataFrame, lang_col: str = "lang", size_col: str | None = None
) -> DataFrame:
    """(lang [, size_bucket], cnt) histogram; size buckets are
    power-of-two (floor(log2(size))) — width_bucket-style, constant
    bucket count regardless of scale."""
    if size_col is None:
        return df.groupBy(F.col(lang_col).alias("lang")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
    bucket = F.when(F.col(size_col) <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(F.col(size_col)))
    )
    return df.groupBy(
        F.col(lang_col).alias("lang"), bucket.cast("int").alias("size_bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def _cells(current: DataFrame, baseline: DataFrame, on: list[str]) -> DataFrame:
    """The shared cell universe of two histograms: (o, b, n_cur,
    n_base), a cell absent on one side counting 0 there (full-outer
    join), with each side's total on every cell.

    The totals are whole-frame window sums over the joined cells (as in
    ``ks_statistic``): a separate totals aggregate joined back would
    evaluate the histogram chain twice.  The window has one partition,
    but it holds only the histogram's cells."""
    cur = current.groupBy(*on).agg(F.sum("cnt").alias("o"))
    base = baseline.groupBy(*on).agg(F.sum("cnt").alias("b"))
    whole = Window.partitionBy()
    return (
        cur.join(base, on=on, how="full_outer")
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            F.coalesce(F.col("b"), F.lit(0)).alias("b"),
        )
        .select(
            "o",
            "b",
            F.sum("o").over(whole).alias("n_cur"),
            F.sum("b").over(whole).alias("n_base"),
        )
    )


def chi_square_statistic(
    current: DataFrame, baseline: DataFrame, on: list[str] | None = None
) -> DataFrame:
    """One-row (statistic, dof, n_current, n_baseline).

    Expected counts are the baseline proportions scaled to the current
    total; cells absent on one side get count 0 (full-outer join).
    Cells with zero baseline get a 0.5 pseudo-count so novel categories
    register as drift instead of dividing by zero.
    """
    with_e = _cells(current, baseline, on or ["lang"]).withColumn(
        "e",
        F.when(
            F.col("b") > 0, F.col("b") * F.col("n_cur") / F.col("n_base")
        ).otherwise(F.lit(0.5)),
    )
    return with_e.agg(
        F.sum(((F.col("o") - F.col("e")) ** 2) / F.col("e")).alias("statistic"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dof"),
        F.first("n_cur").alias("n_current"),
        F.first("n_base").alias("n_baseline"),
    )


def _gamma_p(a: float, x: float) -> float:
    """Regularized lower incomplete gamma P(a, x) — series for x < a+1,
    Lentz continued fraction otherwise (standard numerics, no scipy)."""
    if x <= 0:
        return 0.0
    lg = math.lgamma(a)
    if x < a + 1.0:
        term = 1.0 / a
        total = term
        n = a
        for _ in range(500):
            n += 1.0
            term *= x / n
            total += term
            if abs(term) < abs(total) * 1e-14:
                break
        return total * math.exp(-x + a * math.log(x) - lg)
    # continued fraction for Q(a, x)
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    q = math.exp(-x + a * math.log(x) - lg) * h
    return 1.0 - q


def chi_square_p_value(statistic: float, dof: int) -> float:
    """Survival function of the chi-square distribution."""
    if dof <= 0:
        return 1.0
    return max(0.0, min(1.0, 1.0 - _gamma_p(dof / 2.0, statistic / 2.0)))


def drift_decision(
    current: DataFrame,
    baseline: DataFrame,
    on: list[str] | None = None,
    alpha: float = 0.01,
) -> dict:
    """Driver-side decision: {statistic, dof, p_value, drifted}."""
    row = chi_square_statistic(current, baseline, on).collect()[0]
    stat = float(row["statistic"] or 0.0)
    dof = int(row["dof"])
    p = chi_square_p_value(stat, dof)
    return {
        "statistic": stat,
        "dof": dof,
        "p_value": p,
        "drifted": p < alpha,
        "n_current": int(row["n_current"] or 0),
        "n_baseline": int(row["n_baseline"] or 0),
    }


def psi_statistic(
    current: DataFrame,
    baseline: DataFrame,
    on: list[str] | None = None,
    epsilon: float = 1e-6,
) -> DataFrame:
    """One-row Population Stability Index: Σ (p_cur - p_base) ·
    ln(p_cur / p_base) over the shared cell universe (full-outer join,
    like the chi-square path).  The credit-scoring drift metric with
    the usual reading: < 0.1 stable, 0.1-0.25 moderate shift, > 0.25
    drifted.  Zero cells take an ``epsilon`` proportion floor so novel
    or vanished categories contribute large-but-finite terms.  Pure
    relational + ``ln`` — IEEE-portable, engine-differential-testable.
    """
    # An empty side yields a NULL psi (matching ks_statistic), not an
    # ANSI DIVIDE_BY_ZERO job failure.  The gate must sit outside the
    # floor: greatest() skips NULLs, so greatest(NULL, eps) is eps.
    with_p = _cells(current, baseline, on or ["lang"]).select(
        F.when(
            F.col("n_cur") != 0,
            F.greatest(F.col("o") / F.col("n_cur"), F.lit(epsilon)),
        ).alias("p"),
        F.when(
            F.col("n_base") != 0,
            F.greatest(F.col("b") / F.col("n_base"), F.lit(epsilon)),
        ).alias("q"),
    )
    return with_p.agg(
        # round(6): the handful-of-cells sum is reproducible far beyond
        # 1e-6, but summation ORDER differs across engines/partitionings
        # and could flip the last ulp of an unrounded value
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 6
        ).alias("psi"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )


def ks_statistic(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    bins: int | None = None,
    accuracy: int = 10000,
    by: list[str] | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance for a NUMERIC column:
    ``(ks_stat, n_current, n_baseline, n_values)`` where ``ks_stat =
    max |F_cur(x) - F_base(x)|`` over the observed value universe —
    the drift test for continuous columns where chi-square / PSI would
    need an arbitrary binning.  NULLs are excluded.  One row total, or
    one row per group when ``by`` names segment columns (drift BY
    segment — "did latency drift, and for which endpoint?").

    Plan shape: one hash aggregate per side collapses rows to
    ([group,] distinct value, count) — map-side combined, so row
    volume never reaches the ordering step — then a full-outer join
    and ONE ordered window over the merged distinct values computes
    both ECDFs cumulatively.  Ungrouped, the window is unpartitioned
    (a single task) but runs over DISTINCT values, not rows: fine
    whenever the column's cardinality is task-sized (measurements,
    sizes, scores); with ``by`` the windows partition on the group
    columns and distribute.  For genuinely high-cardinality columns
    at 100 TB pass ``bins`` — values are first quantized to ``bins``
    equi-probable buckets of the CURRENT side (GK
    ``percentile_approx`` edges, computed globally; per-row bucket
    assignment is an Arrow-batched vectorized binary search, O(log
    bins) per row), an approximation of the statistic with error ≤
    1/bins that keeps the window input constant-size.  The exact
    (unbinned) path is what the DuckDB oracle replays — identical
    cumulative sums, IEEE division, round(6)."""
    by = list(by or [])

    def side(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(*by, F.col(col).cast("double").alias("x"))
            .filter(F.col("x").isNotNull())
            .groupBy(*by, "x")
            .agg(F.count(F.lit(1)).alias(name))
        )

    cur, base = current, baseline
    if bins is not None:
        if bins < 2:
            raise ValueError("bins must be >= 2")
        import numpy as np
        import pandas as pd

        probs = [i / bins for i in range(1, bins)]
        edges_row = (
            current.select(F.col(col).cast("double").alias("x"))
            .agg(
                F.expr(
                    f"percentile_approx(x, array({', '.join(map(repr, probs))}), {accuracy})"
                ).alias("edges")
            )
            .collect()[0]["edges"]
        )
        # tiny driver-side aggregate read (bins-1 floats); the per-row
        # bucket assignment is an Arrow-batched vectorized binary search.
        # A columnar F.aggregate over the edge array is the WRONG shape:
        # higher-order-function lambdas run interpreted, O(bins) per row
        # (measured 2.5x slower than the exact path at 30M rows x 1000
        # bins); np.searchsorted is O(log bins) per row in C.
        edge_arr = np.array(sorted(e for e in (edges_row or []) if e is not None))

        # no type hints: stringified hints under `from __future__ import
        # annotations` break pandas_udf inference (CLAUDE.md trap)
        def _bucketize(s):
            return pd.Series(
                np.searchsorted(edge_arr, s.values, side="right").astype("float64")
            )

        bucketize = F.pandas_udf(_bucketize, "double")

        def quantize(df: DataFrame) -> DataFrame:
            return (
                df.select(*by, F.col(col).cast("double").alias("raw"))
                .filter(F.col("raw").isNotNull())
                .select(*by, bucketize("raw").alias(col))
            )

        cur, base = quantize(current), quantize(baseline)
    a, b = side(cur, "ca"), side(base, "cb")
    # name-list join: Spark coalesces the join keys on full outer, so a
    # group/value present on only one side still carries its identity
    j = a.join(b, [*by, "x"], "full_outer").select(
        *by,
        "x",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    # totals as whole-frame window sums in the SAME window stage as the
    # cumulative ECDFs — a separate totals aggregate would re-evaluate
    # the whole scan→agg→join chain (a second full pass at 100 TB)
    cum = (
        Window.partitionBy(*by)
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = (
        Window.partitionBy(*by)
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # nullif guards the ANSI divide: a group present on only one side
    # (a novel/vanished segment) gets ks_stat NULL with the zero count
    # visible, instead of a divide-by-zero error
    ecdf = j.select(
        *by,
        (F.sum("ca").over(cum) / F.nullif(F.sum("ca").over(wall), F.lit(0))).alias(
            "fa"
        ),
        (F.sum("cb").over(cum) / F.nullif(F.sum("cb").over(wall), F.lit(0))).alias(
            "fb"
        ),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    out = ecdf.groupBy(*by).agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks_stat"),
        F.first("n_a").alias("n_current"),
        F.first("n_b").alias("n_baseline"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )
    return out.orderBy(*by) if by else out


def wasserstein_distance(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
) -> DataFrame:
    """One-row two-sample 1-Wasserstein (earth mover's) distance for a
    NUMERIC column: ``(w1_distance, n_current, n_baseline, n_values)``
    where ``w1 = ∫ |F_cur(x) - F_base(x)| dx`` over the merged support
    — the magnitude-aware companion to :func:`ks_statistic` (KS says
    *whether* the ECDFs separate; W1 says *how far the mass moved*, in
    the column's own units).  NULLs are excluded.

    Plan shape is identical to the KS exact path: one map-side-combined
    hash aggregate per side collapses rows to (distinct value, count),
    a full-outer join merges the supports, and ONE unpartitioned
    ordered window over the DISTINCT values computes both ECDFs plus
    the gap to the next value (``lead``); the distance is then
    ``sum(|fa - fb| * gap)`` — a single agg row.  Same cardinality
    caveat as KS: the window input is the distinct-value universe, not
    the row count, so this is task-sized for measurement-like columns;
    pre-quantize (e.g. via ``F.round``) for genuinely continuous
    high-cardinality columns at 100 TB.  The DuckDB oracle replays the
    identical cumulative sums, lead gaps, IEEE arithmetic, round(6)."""
    def side(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.col(col).cast("double").alias("x"))
            .filter(F.col("x").isNotNull())
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias(name))
        )

    j = (
        side(current, "ca")
        .join(side(baseline, "cb"), "x", "full_outer")
        .select(
            "x",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    # totals via whole-frame window sums — same single window stage,
    # no second evaluation of the scan→agg→join chain (see ks_statistic)
    cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nxt = Window.orderBy("x")
    # nullif-guard the whole-frame totals (matching ks_statistic): a
    # one-sided input yields NULL ECDF terms, not ANSI DIVIDE_BY_ZERO.
    ecdf = j.select(
        (F.sum("ca").over(cum) / F.nullif(F.sum("ca").over(wall), F.lit(0))).alias("fa"),
        (F.sum("cb").over(cum) / F.nullif(F.sum("cb").over(wall), F.lit(0))).alias("fb"),
        (F.lead("x").over(nxt) - F.col("x")).alias("gap"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    return ecdf.agg(
        F.round(
            F.sum(F.abs(F.col("fa") - F.col("fb")) * F.coalesce("gap", F.lit(0.0))), 6
        ).alias("w1_distance"),
        F.first("n_a").alias("n_current"),
        F.first("n_b").alias("n_baseline"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )


#: Benford's law first-digit probabilities, log10(1 + 1/d)
BENFORD_P = {d: math.log10(1 + 1 / d) for d in range(1, 10)}


def benford_report(df: DataFrame, col: str) -> DataFrame:
    """First-digit distribution of a positive numeric column against
    Benford's law: (digit, observed, expected, chi2_term) for digits
    1-9 — the classic fabricated-figures / unit-mixing screen for
    financial columns.  The leading digit comes from pure IEEE math
    (``floor(x / 10^floor(log10(x)))``), never from string formatting
    (engine float-to-string rules differ); non-positive and NULL
    values are excluded.  One hash aggregate; absent digits appear
    with observed=0 so the chi-square terms are complete."""
    x = F.col(col)
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    # ONE conditional-aggregation pass: per-digit counts and the grand
    # total ride the same single-row aggregate (the previous
    # groupBy-then-total shape executed the full scan+agg subtree twice
    # — once under the digit join, once under the total), then a 9-row
    # explode reshapes.  n is count(*) of the filtered rows — identical
    # to the old sum of the per-digit group counts — nullif'd to
    # preserve the empty-input NULL metrics.
    one = (
        df.filter(x.isNotNull() & (x > 0))
        .select(digit.alias("digit"))
        .agg(
            F.nullif(F.count(F.lit(1)), F.lit(0)).alias("n"),
            *[
                F.sum((F.col("digit") == d).cast("long")).alias(f"o{d}")
                for d in range(1, 10)
            ],
        )
    )
    n = F.col("n")
    rows = []
    for d in range(1, 10):
        p = F.lit(BENFORD_P[d])
        obs = F.coalesce(F.col(f"o{d}"), F.lit(0))
        rows.append(
            F.struct(
                # bigint, matching the previous createDataFrame digit column
                F.lit(d).cast("long").alias("digit"),
                obs.alias("observed"),
                F.round(p * n, 6).alias("expected"),
                F.round(F.pow(obs - p * n, 2) / (p * n), 6).alias("chi2_term"),
            )
        )
    return (
        one.select(F.explode(F.array(*rows)).alias("b"))
        .select("b.digit", "b.observed", "b.expected", "b.chi2_term")
        .orderBy("digit")
    )
