"""Smoke tests for the spark-submit job entrypoints (driven in-process
via the injectable session — the same main() spark-submit runs), and
the driver contract's process independence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jobs.ingest_dedup_job as ingest_job
import jobs.validate_job as validate_job


def test_ingest_dedup_job_bootstrap_ingest_and_params_guard(spark, tmp_path):
    d = str(tmp_path)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{d}/hist")
    # the odd half plus exact twins of every 10th doc: guaranteed
    # new-old hits against the bootstrapped index
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    twins = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    odd.unionByName(twins).write.parquet(f"{d}/batch1")

    assert ingest_job.main(
        ["--input", f"{d}/hist", "--index", f"{d}/idx", "--bootstrap"], spark=spark
    ) == 0
    assert ingest_job.main(
        ["--input", f"{d}/batch1", "--index", f"{d}/idx", "--pairs", f"{d}/pairs"],
        spark=spark,
    ) == 0
    pairs = spark.read.parquet(f"{d}/pairs").distinct()
    expected = {r["doc_id"] for r in docs.filter(F.col("doc_id") % 10 == 0).collect()}
    # every exact twin found its original (canonical: twin ids are larger)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert {(e, e + 700000) for e in expected} <= found
    # no identity pairs, all canonical
    assert all(a < b for a, b in found)

    # the batch's own bands were appended
    idx_docs = {
        r["doc_id"] for r in spark.read.parquet(f"{d}/idx").select("doc_id").distinct().collect()
    }
    assert expected <= idx_docs  # history
    assert {e + 700000 for e in expected} <= idx_docs  # appended batch

    # At-least-once replay AFTER the index append (the failure mode a
    # rerun simulates): the batch now joins its OWN bands, but identity
    # pairs are excluded and the sink is canonical — the distinct pair
    # set must be exactly unchanged.
    assert ingest_job.main(
        ["--input", f"{d}/batch1", "--index", f"{d}/idx", "--pairs", f"{d}/pairs"],
        spark=spark,
    ) == 0
    after = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(f"{d}/pairs").distinct().collect()
    }
    assert after == found

    with pytest.raises(ValueError, match="incomparable"):
        ingest_job.main(
            ["--input", f"{d}/batch1", "--index", f"{d}/idx",
             "--pairs", f"{d}/pairs", "--k", "4"],
            spark=spark,
        )


def _medea_result(out: str) -> dict:
    import json

    (line,) = [ln for ln in out.splitlines() if ln.startswith("MEDEA_RESULT ")]
    return json.loads(line[len("MEDEA_RESULT "):])


def test_validate_job_stages_under_checkpoints_and_resumes(spark, tmp_path, capsys):
    """The validation job with no --stage-location stages its input
    under --checkpoints, validates every part, and a resubmission of the
    same run id skips every part; --content-col is not an option."""
    import glob

    from medea_spark.corpus import generate_corpus
    from medea_spark.corpus.generator import CORPUS_SCHEMA_TEXT

    d = str(tmp_path)
    generate_corpus(spark, 300, seed=4).write.parquet(f"{d}/input")
    with open(f"{d}/schema.medea", "w") as fh:
        fh.write(CORPUS_SCHEMA_TEXT)
    argv = [
        "--input", f"{d}/input", "--schema", f"{d}/schema.medea",
        "--output", f"{d}/out", "--checkpoints", f"{d}/ckpt",
        "--run-id", "job", "--num-partitions", "4", "--waves", "2",
    ]

    assert validate_job.main(argv) == 0
    first = _medea_result(capsys.readouterr().out)
    assert (first["parts_done"], first["parts_skipped"], first["waves_run"]) == (4, 0, 2)
    assert len(glob.glob(f"{d}/ckpt/stage/run=job-*/_SUCCESS")) == 1
    validated = spark.read.parquet(f"{d}/out/run=job/wave=*/validated")
    assert validated.count() == 300

    assert validate_job.main(argv) == 0
    again = _medea_result(capsys.readouterr().out)
    assert (again["parts_done"], again["parts_skipped"], again["waves_run"]) == (0, 4, 0)

    with pytest.raises(SystemExit) as exc:
        validate_job.main(argv + ["--content-col", "content"])
    assert exc.value.code == 2
    assert "--content-col" in capsys.readouterr().err


def test_oracle_sql_identical_across_processes():
    """oracle_sql() spells staged paths into its SQL; the text must not
    depend on the process (nor on its hash seed) that builds it."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    prog = (
        "import hashlib, __spark_entry__ as e\n"
        "print(hashlib.sha256(repr(sorted(e.oracle_sql().items())).encode()).hexdigest())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "MEDEA_ORACLE_STAGE_ROOT"}
    digests = set()
    for seed in ("0", "12345"):
        out = subprocess.run(
            [sys.executable, "-c", prog],
            env=dict(env, PYTHONHASHSEED=seed, PYTHONPATH=repo),
            cwd=repo,
            capture_output=True,
            text=True,
        )
        assert out.returncode == 0, out.stderr
        digests.add(out.stdout.strip())
    assert len(digests) == 1
