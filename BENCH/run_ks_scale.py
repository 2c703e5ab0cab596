"""Scale evidence for ks_statistic's two regimes on a high-cardinality
column (the case the docstring warns about): exact distinct-value ECDF
vs the GK-quantized ``bins=`` path, 30M rows of hash-derived doubles
(every value unique — the worst case for the exact path's
single-partition window).

Usage: python BENCH/run_ks_scale.py [--rows 30000000] [--bins 1000]
Appends nothing; prints a markdown table to paste into BENCH/LARGE.md.
Run on a QUIET machine (same caveat as run_scaling.py).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from medea_spark.checks import ks_statistic
from medea_spark.engine.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=30_000_000)
    ap.add_argument("--bins", type=int, default=1000)
    args = ap.parse_args()

    spark = get_spark(app_name="ks-scale", cores=32, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    # Deterministic pseudo-uniform doubles in [0, 1): xxhash64 of the id,
    # scaled.  Odd ids = current, even ids = baseline with a +0.05 shift
    # on 20% of rows (true drift; exact KS ~ 0.01 region).
    base = spark.range(args.rows).select(
        "id",
        ((F.xxhash64(F.col("id")) / F.lit(2.0**63) + 1.0) / 2.0).alias("v"),
    )
    current = base.filter(F.col("id") % 2 == 1).select("v")
    baseline = base.filter(F.col("id") % 2 == 0).select(
        F.when(F.col("id") % 10 == 0, F.col("v") + 0.05).otherwise(F.col("v")).alias("v")
    )

    results = []
    for label, kwargs in [("exact", {}), (f"bins={args.bins}", {"bins": args.bins})]:
        t0 = time.monotonic()
        row = ks_statistic(current, baseline, "v", **kwargs).collect()[0]
        dt = time.monotonic() - t0
        results.append((label, dt, row))
        print(
            f"{label}: {dt:.1f}s ks={row.ks_stat} "
            f"n_values={row.n_values} n_cur={row.n_current}"
        )

    (le, te, re_), (lb, tb, rb) = results
    print()
    print("| path | seconds | ks_stat | window input (n_values) |")
    print("|---|---|---|---|")
    print(f"| exact distinct-value ECDF | {te:.1f} | {re_.ks_stat} | {re_.n_values:,} |")
    print(f"| {lb} (GK quantized) | {tb:.1f} | {rb.ks_stat} | {rb.n_values:,} |")
    print(
        f"\nstat delta = {abs(re_.ks_stat - rb.ks_stat):.6f} "
        f"(bound 1/bins = {1/args.bins})"
    )


if __name__ == "__main__":
    main()
