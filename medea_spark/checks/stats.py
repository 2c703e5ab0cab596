"""Per-column statistics (SURVEY.md §2.C C8/C9/C13/C14).

All single-pass, whole-stage-codegen aggregates: one ``agg`` computes
count / null count / min / max / approx-distinct for every requested
column simultaneously, then an ``unpivot``-style projection reshapes
the one-row result into the long (column, metric...) relation — no
per-column jobs, no driver loop over data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_stats(
    df: DataFrame, cols: list[str] | None = None, rsd: float = 0.05, exact_distinct: bool = False
) -> DataFrame:
    """Long-format per-column stats: (column, n_rows, n_nulls, null_rate,
    min_value, max_value, distinct_count).

    ``distinct_count`` uses HLL++ (``approx_count_distinct``) by default
    — the 100 TB answer; ``exact_distinct=True`` switches to exact
    count-distinct for oracle comparisons at test scale.  The exact path
    plans one aggregate per column, each re-executing ``df``: pass a
    scan or a persisted frame, never an expensive uncached pipeline.
    """
    cols = cols or df.columns
    aggs = []
    for c in cols:
        aggs.append(F.count(F.lit(1)).alias(f"{c}__n"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"{c}__max"))
        if not exact_distinct:
            aggs.append(F.approx_count_distinct(F.col(c), rsd).alias(f"{c}__distinct"))
    one = df.agg(*aggs)
    if exact_distinct:
        # ≥2 exact count-distincts on DIFFERENT keys in one aggregate
        # plan an Expand (row stream × (k+1)) feeding a sort aggregate —
        # measured 4× the cost of the plain stats pass.  One
        # single-distinct aggregate per column plans Expand-free
        # (partial distinct → exchange → count), and the one-row
        # results cross-join for free; each branch's scan is pruned to
        # its own column, so total bytes read match the fused plan.
        for c in cols:
            one = one.crossJoin(
                df.agg(F.countDistinct(F.col(c)).alias(f"{c}__distinct"))
            )
    stack_args = ", ".join(
        f"'{c}', `{c}__n`, `{c}__nulls`, `{c}__min`, `{c}__max`, `{c}__distinct`"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) as "
        "(col_name, n_rows, n_nulls, min_value, max_value, distinct_count)"
    ).withColumn(
        "null_rate",
        F.round(F.col("n_nulls") / F.greatest(F.col("n_rows"), F.lit(1)), 6),
    ).select(
        "col_name", "n_rows", "n_nulls", "null_rate", "min_value", "max_value", "distinct_count"
    )


def column_quantiles(
    df: DataFrame,
    cols: list[str],
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    approx: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Long-format per-column quantiles: (col_name, prob, value) — one
    aggregate pass for every (column, probability) pair.

    ``approx=True`` (default, the 100 TB answer) uses
    ``approx_percentile`` — a bounded-memory, mergeable Greenwald-Khanna
    sketch whose rank error is ≤ 1/``accuracy``.  The exact path
    (``approx=False``) buffers every value of each column in the
    aggregation — fine at test scale and bit-identical to DuckDB's
    ``quantile_cont`` (linear interpolation on the sorted values, same
    IEEE arithmetic — the oracle differential), but NOT for 100 TB.
    NULLs are ignored by both engines; an all-NULL column yields NULL
    quantiles."""
    if not cols:
        raise ValueError("column_quantiles needs at least one column")
    plist = list(probs)
    fn = "percentile_approx" if approx else "percentile"
    extra = f", {accuracy}" if approx else ""
    one = df.agg(
        *[
            F.expr(
                f"{fn}(`{c}`, array({', '.join(map(repr, plist))}){extra})"
            ).alias(f"{c}__q")
            for c in cols
        ]
    )
    stack_args = ", ".join(
        f"'{c}', {repr(p)}D, cast(`{c}__q`[{i}] as double)"
        for c in cols
        for i, p in enumerate(plist)
    )
    return one.selectExpr(
        f"stack({len(cols) * len(plist)}, {stack_args}) as (col_name, prob, value)"
    )


def top_k(df: DataFrame, group_cols: list[str], k: int = 10) -> DataFrame:
    """Top-k groups by count, with deterministic tie-breaking.  A
    global sort of an aggregated (small) relation — Catalyst runs it
    as TakeOrderedAndProject, no full sort at scale."""
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), *[F.asc(c) for c in group_cols])
        .limit(k)
    )


def diff_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set-op diffing for fixture/golden comparisons (C14): rows only in
    ``a`` (side='a_only') and only in ``b`` (side='b_only'), multiset
    semantics (exceptAll)."""
    a_only = a.exceptAll(b).withColumn("side", F.lit("a_only"))
    b_only = b.exceptAll(a).withColumn("side", F.lit("b_only"))
    return a_only.unionByName(b_only)


def categorical_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (nats) of each categorical column — the data-
    diversity / mode-collapse read on a training corpus: near-zero
    entropy means one value dominates; ``normalized_entropy`` (÷ ln k)
    is 1.0 for a uniform column regardless of cardinality.

    Long format: (col_name, n_values, n_distinct, entropy,
    normalized_entropy).  NULL counts as its own category (a column
    that is 99% NULL IS low-diversity).  Per column: one hash-agg to
    value counts (map-side combined), then one tiny aggregate over the
    count relation using H = ln(n) − Σ c·ln(c) / n — no per-value
    driver loop; the per-column plans union into one job.
    """
    if not cols:
        raise ValueError("categorical_entropy needs at least one column")
    parts = []
    for c in cols:
        counts = df.groupBy(F.col(c)).agg(F.count(F.lit(1)).alias("cnt"))
        one = counts.agg(
            F.sum("cnt").alias("n_values"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("cnt") * F.log(F.col("cnt"))).alias("_clnc"),
        )
        h = F.log(F.col("n_values")) - F.col("_clnc") / F.col("n_values")
        parts.append(
            one.select(
                F.lit(c).alias("col_name"),
                "n_values",
                "n_distinct",
                F.round(h, 6).alias("entropy"),
                F.round(
                    F.when(F.col("n_distinct") > 1, h / F.log(F.col("n_distinct")))
                    .otherwise(F.lit(0.0)),
                    6,
                ).alias("normalized_entropy"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pairwise_corr(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation for every column pair, ONE aggregate pass.

    Long format: (col_a, col_b, n, corr) for each pair a < b (input
    order).  Pairwise deletion: a row contributes to a pair only when
    BOTH values are non-NULL.  corr is NULL when n = 0 or either
    variance is 0 — "no evidence", not 0.

    The raw-moment formula (n·Σxy − Σx·Σy over the root of the
    variance terms) is computed identically in the DuckDB oracle, so
    results compare bit-stably after rounding; all 6·C(k,2) terms ride
    a single whole-stage-codegen aggregate — no per-pair jobs, no
    second scan, no shuffle beyond the one-row aggregate exchange.
    """
    if len(cols) < 2:
        raise ValueError("pairwise_corr needs at least two columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = []
    for i, (a, b) in enumerate(pairs):
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        x = F.when(both, F.col(a).cast("double"))
        y = F.when(both, F.col(b).cast("double"))
        aggs += [
            F.count(x).alias(f"_n{i}"),
            F.sum(x).alias(f"_sx{i}"),
            F.sum(y).alias(f"_sy{i}"),
            F.sum(x * y).alias(f"_sxy{i}"),
            F.sum(x * x).alias(f"_sxx{i}"),
            F.sum(y * y).alias(f"_syy{i}"),
        ]
    one = df.agg(*aggs)
    rows = []
    for i, (a, b) in enumerate(pairs):
        n = F.col(f"_n{i}").cast("double")
        num = n * F.col(f"_sxy{i}") - F.col(f"_sx{i}") * F.col(f"_sy{i}")
        vx = n * F.col(f"_sxx{i}") - F.col(f"_sx{i}") * F.col(f"_sx{i}")
        vy = n * F.col(f"_syy{i}") - F.col(f"_sy{i}") * F.col(f"_sy{i}")
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"_n{i}").alias("n"),
                F.round(
                    F.when((vx > 0) & (vy > 0), num / F.sqrt(vx * vy)), 6
                ).alias("corr"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("p")).select(
        "p.col_a", "p.col_b", "p.n", "p.corr"
    )
