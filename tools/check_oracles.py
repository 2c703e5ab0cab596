"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry on Spark and its oracle_sql() on
DuckDB at sf0.01, compare row counts and order-insensitive values
with columns sorted by name.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

# The repository root replaces this script's directory on sys.path: the
# directory also holds profile.py, which would shadow the stdlib
# ``profile`` module that pyspark imports.
sys.path[0] = str(Path(__file__).resolve().parents[1])

import __spark_entry__ as entrymod  # noqa: E402
from medea_spark.engine.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """pandas → sorted list of value tuples with columns in name order."""
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(f"{v:.10g}")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return cols, out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spark_pdf)} rows (no oracle — rows-only)")
            continue
        try:
            duck_pdf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        s_cols, s_vals = normalize(spark_pdf)
        d_cols, d_vals = normalize(duck_pdf)
        if s_cols != d_cols:
            print(f"FAIL  {name}: columns {s_cols} != {d_cols}")
            failures += 1
        elif len(s_vals) != len(d_vals):
            print(f"FAIL  {name}: rows {len(s_vals)} != {len(d_vals)}")
            failures += 1
        elif s_vals != d_vals:
            diff = [i for i, (a, b) in enumerate(zip(s_vals, d_vals)) if a != b][:3]
            print(f"FAIL  {name}: value mismatch at sorted rows {diff}")
            for i in diff:
                print(f"      spark={s_vals[i]}")
                print(f"      duck ={d_vals[i]}")
            failures += 1
        else:
            print(f"ok    {name}: {len(s_vals)} rows match")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
