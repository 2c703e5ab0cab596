"""Production entrypoint: spark-submit the validation engine.

Usage (north rule: spark-submit --py-files on a multi-executor cluster):

    python tools/make_pyfiles.py   # builds dist/medea_spark.zip
    spark-submit --py-files dist/medea_spark.zip jobs/validate_job.py \
        --input  <iceberg table | parquet path>  \
        --schema <schema.medea>                  \
        --output <table|path>                    \
        --checkpoints <table|path>               \
        --run-id nightly-2026-08-16              \
        --num-partitions 4096 --waves 64

Resumable: re-submitting with the same --run-id anti-joins the
checkpoint table and validates only unfinished partitions.  Every run
stages its input once under <checkpoints>/stage (or --stage-location)
and a resubmission reuses that committed stage.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="medea-spark validation job")
    ap.add_argument("--input", required=True, help="repo-file table (iceberg id or parquet path)")
    ap.add_argument("--schema", required=True, help=".medea schema graph file")
    ap.add_argument("--output", required=True, help="output location for results/violations")
    ap.add_argument("--checkpoints", required=True, help="checkpoint store location")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--num-partitions", type=int, default=256)
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument("--skew-fraction", type=float, default=0.05)
    ap.add_argument(
        "--stage-location",
        default=None,
        help="where the run stages its part-id-assigned input, under "
        "run=<stage key> and partitioned by wave_id, so every wave scan "
        "prunes to its slice (default: <checkpoints>/stage)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from medea_spark.checkpoint import CheckpointStore, run_validation_with_checkpoints
    from medea_spark.compiler import load_schema
    from medea_spark.engine import detect_skewed_keys
    from medea_spark.engine.io import read_repo_files

    spark = SparkSession.builder.appName("medea-validate").getOrCreate()
    graph = load_schema(args.schema)  # compile errors fail fast, pre-cluster
    df = read_repo_files(spark, args.input)

    skewed = detect_skewed_keys(df, "repo", skew_fraction=args.skew_fraction)
    store = CheckpointStore(spark, args.checkpoints)
    result = run_validation_with_checkpoints(
        spark,
        df,
        graph,
        store,
        run_id=args.run_id,
        num_partitions=args.num_partitions,
        n_waves=args.waves,
        skewed_keys=skewed,
        input_fingerprint=args.input,
        output_location=args.output,
        stage_location=args.stage_location,
    )
    print(
        "MEDEA_RESULT "
        + json.dumps(
            {
                "run_id": result.run_id,
                "waves_run": result.waves_run,
                "parts_done": result.parts_done,
                "parts_skipped": result.parts_skipped,
                "skewed_keys": skewed,
                "output": args.output,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
