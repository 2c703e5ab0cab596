"""Resumable per-partition checkpointing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medea_spark.checkpoint import CheckpointStore, run_validation_with_checkpoints
from medea_spark.corpus import corpus_schema_graph, generate_corpus


@pytest.fixture()
def store(spark, tmp_path):
    return CheckpointStore(spark, str(tmp_path / "ckpt"))


def test_full_run_then_resume_skips_everything(spark, store):
    import os

    from medea_spark.checkpoint.store import stage_key

    df = generate_corpus(spark, 1200, seed=42)
    graph = corpus_schema_graph()
    first = run_validation_with_checkpoints(
        spark, df, graph, store, run_id="r1", num_partitions=8, n_waves=2
    )
    assert first.parts_done == 8 and first.parts_skipped == 0
    # with no stage_location the input is staged under the store
    assert os.path.exists(f"{store.location}/stage/run={stage_key('r1', '', 8, 2)}/_SUCCESS")
    # checkpoint rows cover all partitions with metrics
    ckpt = store.read().filter(F.col("run_id") == "r1")
    assert ckpt.select("part_id").distinct().count() == 8
    totals = ckpt.agg(F.sum("rows")).collect()[0][0]
    assert totals == 1200
    # resume: same run id → nothing to do
    second = run_validation_with_checkpoints(
        spark, df, graph, store, run_id="r1", num_partitions=8, n_waves=2
    )
    assert second.parts_done == 0 and second.parts_skipped == 8
    assert second.waves_run == 0


def test_partial_resume_processes_remainder(spark, store):
    df = generate_corpus(spark, 800, seed=7)
    graph = corpus_schema_graph()
    # Simulate a crashed run: checkpoint only partitions of wave 0.
    full = run_validation_with_checkpoints(
        spark, df, graph, store, run_id="tmp", num_partitions=8, n_waves=4
    )
    assert full.parts_done == 8
    wave0_parts = [
        r.part_id
        for r in store.read().filter(
            (F.col("run_id") == "tmp") & (F.col("wave") == 0)
        ).collect()
    ]
    crashed = [
        ("r2", *tuple(r)[1:11])  # committed_at is stamped again on commit
        for r in store.read()
        .filter((F.col("run_id") == "tmp") & (F.col("wave") == 0))
        .collect()
    ]
    store.append_rows(crashed)

    resumed = run_validation_with_checkpoints(
        spark, df, graph, store, run_id="r2", num_partitions=8, n_waves=4
    )
    assert resumed.parts_skipped == len(wave0_parts)
    assert resumed.parts_done == 8 - len(wave0_parts)
    # Combined checkpoints now cover all rows exactly once.
    total = (
        store.read()
        .filter(F.col("run_id") == "r2")
        .agg(F.sum("rows"))
        .collect()[0][0]
    )
    full_total = (
        store.read()
        .filter(F.col("run_id") == "tmp")
        .agg(F.sum("rows"))
        .collect()[0][0]
    )
    assert total == full_total == 800


def test_commit_files_of_both_layouts_read_back(spark, store):
    """A checkpoint directory holding a commit file in the earlier
    hand-typed Arrow layout (nullable columns) next to one that
    ``append_rows`` writes from the schema derived from
    CHECKPOINT_SCHEMA (not-null columns) reads back whole."""
    import os
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    stamp = datetime(2024, 5, 1, 12, 0, tzinfo=timezone.utc)
    old = pa.table(
        {
            "run_id": pa.array(["old"], pa.string()),
            "part_id": pa.array([3], pa.int32()),
            "status": pa.array(["done"], pa.string()),
            "rows": pa.array([10], pa.int64()),
            "valid_rows": pa.array([8], pa.int64()),
            "invalid_rows": pa.array([2], pa.int64()),
            "violation_count": pa.array([4], pa.int64()),
            "wall_ms": pa.array([11], pa.int64()),
            "wave": pa.array([1], pa.int32()),
            "schema_fingerprint": pa.array(["fp"], pa.string()),
            "input_fingerprint": pa.array(["in"], pa.string()),
            "committed_at": pa.array([stamp], pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(store._ckpt_path)
    pq.write_table(old, f"{store._ckpt_path}/commit-old.parquet")
    store.append_rows([("new", 5, "done", 7, 7, 0, 0, 12, 0, "fp", "")])

    new_file = [f for f in os.listdir(store._ckpt_path) if f != "commit-old.parquet"]
    new_schema = pq.read_schema(f"{store._ckpt_path}/{new_file[0]}")
    assert new_schema.types == old.schema.types
    assert not any(f.nullable for f in new_schema)
    assert all(f.nullable for f in old.schema)

    got = {r["run_id"]: r for r in store.read().collect()}
    assert sorted(got) == ["new", "old"]
    assert tuple(got["old"])[:11] == ("old", 3, "done", 10, 8, 2, 4, 11, 1, "fp", "in")
    assert got["old"]["committed_at"].timestamp() == stamp.timestamp()
    assert tuple(got["new"])[:11] == ("new", 5, "done", 7, 7, 0, 0, 12, 0, "fp", "")
    assert got["new"]["committed_at"] is not None
    assert store.done_part_ids("old", "fp", "in").collect()[0]["part_id"] == 3


def test_lineage_fields_present(spark, store):
    df = generate_corpus(spark, 200, seed=1)
    graph = corpus_schema_graph()
    run_validation_with_checkpoints(
        spark, df, graph, store, run_id="r3", num_partitions=4, n_waves=1,
        input_fingerprint="corpus-n200-seed1",
    )
    row = store.read().filter(F.col("run_id") == "r3").collect()[0]
    assert row["schema_fingerprint"]
    assert row["input_fingerprint"] == "corpus-n200-seed1"
    assert row["wall_ms"] >= 0
    assert row["committed_at"] is not None


def test_schema_fingerprint_stable_across_processes(tmp_path):
    """The lineage fingerprint must not depend on PYTHONHASHSEED
    (frozenset iteration order) — cross-process resume relies on it."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    from medea_spark.checkpoint.store import _schema_fingerprint

    local = _schema_fingerprint(corpus_schema_graph())
    # the value checkpoints committed by earlier versions carry
    assert local == "64ba872121a973fa"
    prog = (
        "from medea_spark.checkpoint.store import _schema_fingerprint\n"
        "from medea_spark.corpus import corpus_schema_graph\n"
        "print(_schema_fingerprint(corpus_schema_graph()))\n"
    )
    repo = str(Path(__file__).resolve().parents[1])
    for seed in ("0", "12345"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=repo)
        out = subprocess.run(
            [sys.executable, "-c", prog], env=env, capture_output=True, text=True
        )
        assert out.returncode == 0, out.stderr
        assert out.stdout.strip() == local


def test_resume_rejects_changed_schema(spark, store):
    """Resuming a run_id after the schema graph changed must NOT skip
    partitions checkpointed under the old schema (mixed lineage)."""
    from medea_spark.compiler import compile_schema_text

    df = generate_corpus(spark, 400, seed=3)
    first = run_validation_with_checkpoints(
        spark, df, corpus_schema_graph(), store, run_id="rs", num_partitions=4, n_waves=2
    )
    assert first.parts_done == 4
    other_graph = compile_schema_text("$schema $start\n    $type\n        $object\n")
    resumed = run_validation_with_checkpoints(
        spark, df, other_graph, store, run_id="rs", num_partitions=4, n_waves=2
    )
    assert resumed.parts_skipped == 0 and resumed.parts_done == 4
    # Same schema again → everything skips.
    again = run_validation_with_checkpoints(
        spark, df, corpus_schema_graph(), store, run_id="rs", num_partitions=4, n_waves=2
    )
    assert again.parts_skipped == 4 and again.parts_done == 0


def test_resume_rejects_changed_input_fingerprint(spark, store):
    df = generate_corpus(spark, 300, seed=9)
    graph = corpus_schema_graph()
    run_validation_with_checkpoints(
        spark, df, graph, store, run_id="ri", num_partitions=4, n_waves=1,
        input_fingerprint="snapshot-a",
    )
    moved = run_validation_with_checkpoints(
        spark, df, graph, store, run_id="ri", num_partitions=4, n_waves=1,
        input_fingerprint="snapshot-b",
    )
    assert moved.parts_skipped == 0 and moved.parts_done == 4


def test_staged_waves_prune_and_resume(spark, store, tmp_path):
    """stage_location writes the part-id-assigned input partitioned by
    wave_id; every wave scan then prunes to its slice (PartitionFilters
    at the source), and resume reuses the committed stage."""
    df = generate_corpus(spark, 600, seed=13)
    graph = corpus_schema_graph()
    stage = str(tmp_path / "stage")
    fp = "corpus-n600-seed13"
    res = run_validation_with_checkpoints(
        spark, df, graph, store, run_id="st", num_partitions=4, n_waves=2,
        input_fingerprint=fp, stage_location=stage,
    )
    assert res.parts_done == 4
    import glob

    (staged_dir,) = glob.glob(f"{stage}/run=st-*")
    staged = spark.read.parquet(staged_dir)
    assert sorted(staged.columns[-3:]) == ["part_id", "salt_id", "wave_id"]
    wave = staged.filter((F.col("wave_id") == 0) & F.col("part_id").isin([0, 2]))
    plan = wave._jdf.queryExecution().executedPlan().toString()
    (pruned,) = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert "PartitionFilters: [isnotnull(wave_id" in pruned and "(wave_id" in pruned
    assert wave.select("wave_id").distinct().collect() == [(0,)]
    n_wave = wave.select(F.input_file_name()).distinct().count()
    n_all = staged.select(F.input_file_name()).distinct().count()
    assert 0 < n_wave < n_all
    total = (
        store.read().filter(F.col("run_id") == "st").agg(F.sum("rows")).collect()[0][0]
    )
    assert total == 600
    again = run_validation_with_checkpoints(
        spark, df, graph, store, run_id="st", num_partitions=4, n_waves=2,
        input_fingerprint=fp, stage_location=stage,
    )
    assert again.parts_done == 0 and again.parts_skipped == 4


def test_staged_resume_restages_on_input_change(spark, store, tmp_path):
    """Re-invoking a run_id with a different input fingerprint must not
    reuse the stale staged rows — the stage is keyed by (run_id,
    input_fingerprint) and the new input is fully re-validated."""
    stage = str(tmp_path / "stage")
    graph = corpus_schema_graph()
    df1 = generate_corpus(spark, 300, seed=1)
    run_validation_with_checkpoints(
        spark, df1, graph, store, run_id="si", num_partitions=4, n_waves=1,
        input_fingerprint="in-a", stage_location=stage,
    )
    df2 = generate_corpus(spark, 500, seed=2)
    res = run_validation_with_checkpoints(
        spark, df2, graph, store, run_id="si", num_partitions=4, n_waves=1,
        input_fingerprint="in-b", stage_location=stage,
    )
    assert res.parts_skipped == 0 and res.parts_done == 4
    total = (
        store.read()
        .filter((F.col("run_id") == "si") & (F.col("input_fingerprint") == "in-b"))
        .agg(F.sum("rows"))
        .collect()[0][0]
    )
    assert total == 500


def test_stage_without_fingerprint_warns(spark, store, tmp_path):
    import warnings

    from medea_spark.checkpoint import run_validation_with_checkpoints
    from medea_spark.corpus import corpus_schema_graph, generate_corpus

    df = generate_corpus(spark, 120, seed=3)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        run_validation_with_checkpoints(
            spark, df, corpus_schema_graph(), store, run_id="warnfp",
            num_partitions=4, n_waves=2,
            stage_location=str(tmp_path / "stage-warn"),
        )
    assert any("input_fingerprint" in str(w.message) for w in caught)


def test_stage_write_spreads_one_repo_over_every_task(spark, store, tmp_path):
    """The stage-write exchange hashes the row key, not the repo's
    part: a single-repo input (every row in one part, so one wave)
    lands in one file from every write task, even when no key was
    detected as skewed and salted."""
    import glob

    import pyarrow.parquet as pq

    df = generate_corpus(spark, 400, seed=5).withColumn(
        "repo", F.lit("monorepo")  # single repo: all rows share part_id
    )
    stage = str(tmp_path / "stage-one-repo")
    run_validation_with_checkpoints(
        spark, df, corpus_schema_graph(), store, run_id="onerepo",
        num_partitions=4, n_waves=2, input_fingerprint="one-repo",
        stage_location=stage,
    )
    (wave_dir,) = glob.glob(f"{stage}/run=onerepo-*/wave_id=*")
    rows = [pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{wave_dir}/*.parquet")]
    assert len(rows) == min(4, spark.sparkContext.defaultParallelism)
    assert min(rows) > 0 and sum(rows) == 400


def test_stage_waves_hold_equal_files_under_a_dominant_repo(spark, store, tmp_path):
    """A repo holding most rows does not make the largest files of its
    wave: every wave directory holds one file per write slot, and their
    row counts are within 20% of each other.  The salt ids the skewed
    repo takes are stored with the rows."""
    import glob

    import pyarrow.parquet as pq

    df = generate_corpus(spark, 6000, seed=11)
    df = df.withColumn(
        "repo",
        F.when(F.pmod(F.xxhash64("path"), F.lit(5)) < 3, F.lit("monorepo")).otherwise(
            F.col("repo")
        ),
    )
    assert df.filter(F.col("repo") == "monorepo").count() >= 3000
    stage = str(tmp_path / "stage")
    res = run_validation_with_checkpoints(
        spark, df, corpus_schema_graph(), store, run_id="even", num_partitions=8,
        n_waves=2, skewed_keys=["monorepo"], input_fingerprint="even",
        stage_location=stage,
    )
    assert res.parts_done == 8
    slots = min(8, spark.sparkContext.defaultParallelism)
    waves = sorted(glob.glob(f"{stage}/run=even-*/wave_id=*"))
    assert len(waves) == 2
    for wave in waves:
        rows = [pq.ParquetFile(f).metadata.num_rows for f in glob.glob(f"{wave}/*.parquet")]
        assert len(rows) == slots
        assert max(rows) <= 1.2 * min(rows), (wave, rows)
    staged = spark.read.parquet(waves[0].rsplit("/", 1)[0])
    assert staged.filter(F.col("repo") == "monorepo").select("salt_id").distinct().count() > 1
    total = store.read().filter(F.col("run_id") == "even").agg(F.sum("rows")).first()[0]
    assert total == 6000


def test_resume_over_stage_written_one_task_per_part(spark, store, tmp_path):
    """A committed stage in another layout (partitioned by part_id,
    one write task per part, under the key earlier versions used) is
    never read as this run's stage: it is left untouched, the run
    restages, and every row is validated once."""
    import glob
    import hashlib

    from medea_spark.checkpoint.store import stage_key
    from medea_spark.engine.partitioning import PART_ID, SALT_ID, with_partition_columns

    df = generate_corpus(spark, 600, seed=13)
    fp = "corpus-n600-seed13-wide"
    stage = str(tmp_path / "stage")
    staged_dir = f"{stage}/run=wide-{hashlib.sha256(fp.encode()).hexdigest()[:8]}"
    with_partition_columns(df, 8).repartition(8, PART_ID, SALT_ID).write.partitionBy(
        PART_ID
    ).parquet(staged_dir)
    files = sorted(glob.glob(f"{staged_dir}/**", recursive=True))
    res = run_validation_with_checkpoints(
        spark, df, corpus_schema_graph(), store, run_id="wide", num_partitions=8,
        n_waves=2, input_fingerprint=fp, stage_location=stage,
    )
    assert res.parts_done == 8 and res.parts_skipped == 0
    assert sorted(glob.glob(f"{staged_dir}/**", recursive=True)) == files
    assert glob.glob(f"{stage}/run={stage_key('wide', fp, 8, 2)}/wave_id=*/*.parquet")
    validated = spark.read.parquet(f"{store.location}/run=wide/wave=*/validated")
    assert validated.count() == 600
    assert validated.select("repo", "path", "commit").distinct().count() == (
        df.select("repo", "path", "commit").distinct().count()
    )
    assert validated.filter(F.col("is_valid") != F.col("expected_valid")).count() == 0
    total = store.read().filter(F.col("run_id") == "wide").agg(F.sum("rows")).first()[0]
    assert total == 600


def test_resume_with_changed_wave_count_restages(spark, store, tmp_path):
    """A run that crashed after its first wave's commit and is resumed
    with another wave count restages under a new key (the old stage is
    left as it was), runs only the parts not yet committed, and its
    checkpoint rows cover every part and every row once."""
    import glob
    import os

    import pyarrow.parquet as pq

    from medea_spark.checkpoint.store import stage_key

    df = generate_corpus(spark, 1200, seed=42)
    graph = corpus_schema_graph()
    stage = str(tmp_path / "stage")
    kwargs = dict(run_id="rw", num_partitions=8, input_fingerprint="rw", stage_location=stage)
    run_validation_with_checkpoints(spark, df, graph, store, n_waves=2, **kwargs)
    # The crash: wave 1's commit never happened.
    (wave1,) = [
        f for f in glob.glob(f"{store._ckpt_path}/*.parquet")
        if set(pq.read_table(f).column("wave").to_pylist()) == {1}
    ]
    os.remove(wave1)
    old = f"{stage}/run={stage_key('rw', 'rw', 8, 2)}"
    old_files = sorted(glob.glob(f"{old}/**", recursive=True))

    resumed = run_validation_with_checkpoints(spark, df, graph, store, n_waves=4, **kwargs)
    assert (resumed.parts_skipped, resumed.parts_done, resumed.waves_run) == (4, 4, 2)
    assert sorted(glob.glob(f"{old}/**", recursive=True)) == old_files
    new = f"{stage}/run={stage_key('rw', 'rw', 8, 4)}"
    assert os.path.exists(f"{new}/_SUCCESS")
    assert sorted(glob.glob(f"{new}/wave_id=*")) == [f"{new}/wave_id={w}" for w in range(4)]
    ckpt = store.read().filter(F.col("run_id") == "rw")
    assert sorted(r.part_id for r in ckpt.select("part_id").collect()) == list(range(8))
    assert ckpt.agg(F.sum("rows")).first()[0] == 1200


def _jobs_started(spark, action) -> int:
    """Every Spark job ``action()`` starts.  The checkpoint sink threads
    carry no job group, so this counts the new ids among the jobs
    without one; the test session runs nothing else meanwhile."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    action()
    bus.waitUntilEmpty()
    return len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)


def test_nightly_job_ceilings(spark, store, tmp_path):
    """The nightly path at its Spark job counts (under AQE every query
    stage is a job): the skew pre-pass is one top-k over one aggregate,
    a summary collect takes one exchange, a run with no checkpoint table
    looks up its done parts with no job, and a fresh staged 2-wave run
    stays at its total."""
    from medea_spark.engine import detect_skewed_keys, validate_table

    src = str(tmp_path / "input")
    generate_corpus(spark, 1200, seed=21).write.parquet(src)
    df = spark.read.parquet(src)
    graph = corpus_schema_graph()

    skewed = []
    assert _jobs_started(spark, lambda: skewed.extend(detect_skewed_keys(df, "repo"))) <= 2
    assert skewed == ["repo-mono"]
    # A salted summary: with no skewed key salt_id is a literal the
    # optimizer folds out of any distinct count.
    summary = validate_table(df, graph, num_partitions=4, skewed_keys=skewed).summary
    assert _jobs_started(spark, summary.collect) <= 2
    lookup = store.done_part_ids("fresh", schema_fingerprint="fp", input_fingerprint="in")
    assert _jobs_started(spark, lookup.collect) == 0

    def fresh_run():
        run_validation_with_checkpoints(
            spark, df, graph, store, run_id="jobs", num_partitions=8, n_waves=2,
            skewed_keys=skewed, input_fingerprint="corpus-n1200-seed21",
            stage_location=str(tmp_path / "stage"),
        )

    assert _jobs_started(spark, fresh_run) <= 12
