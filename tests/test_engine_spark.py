"""End-to-end Spark pipeline tests: corpus → kernel UDF → summaries.

The ground-truth columns of the generated corpus make the whole
pipeline self-checking: engine verdict == expected_valid for every
row, engine sha256 == expected_sha (the per-row invariant of
BASELINE.json input_hint), and the first violation's constraint code
matches the expected class.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medea_spark.corpus import corpus_schema_graph, generate_corpus
from medea_spark.engine import detect_skewed_keys, validate_table

N_ROWS = 4000


@pytest.fixture(scope="module")
def run(spark):
    df = generate_corpus(spark, N_ROWS, seed=42)
    graph = corpus_schema_graph()
    skewed = detect_skewed_keys(df, "repo", skew_fraction=0.10)
    assert "repo-mono" in skewed  # the giant monorepo must be detected
    result = validate_table(df, graph, num_partitions=8, skewed_keys=skewed)
    result.validated.cache()
    yield result
    result.validated.unpersist()


def test_verdicts_match_ground_truth(run):
    mismatches = run.validated.filter(
        F.col("is_valid") != F.col("expected_valid")
    ).count()
    assert mismatches == 0


def test_sha256_invariant(run):
    bad = run.validated.filter(F.col("content_sha256") != F.col("expected_sha")).count()
    assert bad == 0


def test_first_violation_constraint_class(run):
    # For invalid rows, the first reported constraint must equal the
    # expected class (first-error-wins semantics).
    bad = run.validated.filter(~F.col("is_valid")).filter(
        F.col("violations")[0]["failed_constraint"] != F.col("expected_constraint")
    )
    assert bad.count() == 0


def test_summary_totals(run):
    rows = run.summary.agg(
        F.sum("rows").alias("rows"),
        F.sum("valid_rows").alias("valid"),
        F.sum("invalid_rows").alias("invalid"),
    ).collect()[0]
    assert rows["rows"] == N_ROWS
    assert rows["valid"] + rows["invalid"] == N_ROWS
    assert rows["invalid"] > 0 and rows["valid"] > 0


def test_violations_relation(run):
    v = run.violations
    assert set(v.columns) == {
        "repo",
        "path",
        "commit",
        "part_id",
        "json_pointer",
        "failed_constraint",
        "schema_name",
    }
    total_from_summary = run.summary.agg(F.sum("violation_count")).collect()[0][0]
    assert v.count() == total_from_summary


def test_partitioning_is_deterministic(spark, run):
    # Rerunning the pipeline assigns identical part_ids (no rand()),
    # which is what makes checkpoints resumable.
    df = generate_corpus(spark, 500, seed=42)
    graph = corpus_schema_graph()
    a = validate_table(df, graph, num_partitions=8).validated.select(
        "repo", "path", "commit", "part_id"
    )
    b = validate_table(df, graph, num_partitions=8).validated.select(
        "repo", "path", "commit", "part_id"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_giant_repo_is_salted(run):
    buckets = (
        run.validated.filter(F.col("repo") == "repo-mono")
        .select("salt_id")
        .distinct()
        .count()
    )
    assert buckets > 1  # monorepo rows spread across salt buckets


def _keys(spark, counts: dict):
    """One ``repo`` row per unit of ``counts[key]``."""
    rows = [(k,) for k, n in counts.items() for _ in range(n)]
    return spark.createDataFrame(rows, "repo string")


def test_detect_skewed_keys_contracts(spark):
    """The skew pre-pass keeps keys at or above max(1, floor(total ·
    fraction)), largest first, at most max_keys; NULL is a key like any
    other, and empty input names none."""
    assert detect_skewed_keys(spark.range(0).select(F.lit("r").alias("repo"))) == []
    assert detect_skewed_keys(spark.createDataFrame([], "repo string").limit(0)) == []
    # total 100, threshold floor(100 · 0.05) = 5: exactly 5 is kept, 4 is not
    boundary = {"at": 5, "below": 4, **{f"r{i}": 1 for i in range(91)}}
    assert detect_skewed_keys(_keys(spark, boundary), skew_fraction=0.05) == ["at"]
    # total 10, floor(10 · 0.05) = 0, so the threshold is 1: every key
    small = {"a": 4, "b": 3, "c": 2, "d": 1}
    assert detect_skewed_keys(_keys(spark, small), skew_fraction=0.05) == ["a", "b", "c", "d"]
    assert detect_skewed_keys(_keys(spark, small), skew_fraction=0.05, max_keys=2) == ["a", "b"]
    # total 10, threshold 3: the NULL group (6 rows) leads, "b" (1 row) is dropped
    with_null = {None: 6, "a": 3, "b": 1}
    assert detect_skewed_keys(_keys(spark, with_null), skew_fraction=0.3) == [None, "a"]


def test_summary_salt_buckets_seen_hand_count(run):
    """salt_buckets_seen is each part's number of distinct salt ids."""
    from collections import defaultdict

    seen = defaultdict(set)
    for r in run.validated.select("part_id", "salt_id").collect():
        seen[r["part_id"]].add(r["salt_id"])
    got = {r["part_id"]: r["salt_buckets_seen"] for r in run.summary.collect()}
    assert got == {p: len(s) for p, s in seen.items()}
    assert max(got.values()) > 1  # the salted monorepo spreads its part


def test_unsalted_summary_salt_buckets_seen_is_literal(spark):
    """With no skewed key every part has seen one salt bucket: the same
    value as the hand count, from a summary plan with no
    ObjectHashAggregate (the aggregate a set of salt ids forces)."""
    from collections import defaultdict

    df = generate_corpus(spark, 1000, seed=42)
    run = validate_table(df, corpus_schema_graph(), num_partitions=8)
    seen = defaultdict(set)
    for r in run.validated.select("part_id", "salt_id").collect():
        seen[r["part_id"]].add(r["salt_id"])
    got = {r["part_id"]: r["salt_buckets_seen"] for r in run.summary.collect()}
    assert got == {p: len(s) for p, s in seen.items()}
    assert set(got.values()) == {1}
    plan = run.summary._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "ObjectHashAggregate" not in plan


def test_checkpointed_sinks_match_validate_table(spark, tmp_path):
    # A checkpointed run (input shuffled once into its stage, then
    # validated wave by wave) and the shuffle-free validate_table agree
    # row for row, on the validated and the violations relations.
    from medea_spark.checkpoint import CheckpointStore, run_validation_with_checkpoints

    df = generate_corpus(spark, 800, seed=42)
    graph = corpus_schema_graph()
    skewed = detect_skewed_keys(df, "repo", skew_fraction=0.10)
    assert "repo-mono" in skewed
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    run_validation_with_checkpoints(
        spark, df, graph, store, run_id="sinks", num_partitions=8, n_waves=2,
        skewed_keys=skewed, input_fingerprint="corpus-n800-seed42",
    )
    direct = validate_table(df, graph, num_partitions=8, skewed_keys=skewed)
    sinks = f"{store.location}/run=sinks/wave=*"
    cols = ["repo", "path", "commit", "is_valid", "part_id", "content_sha256"]
    got = spark.read.parquet(f"{sinks}/validated").select(*cols)
    want = direct.validated.select(*cols)
    assert got.count() == 800
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    vcols = direct.violations.columns
    got_v = spark.read.parquet(f"{sinks}/violations").select(*vcols)
    assert got_v.count() > 0
    assert got_v.exceptAll(direct.violations).count() == 0
    assert direct.violations.exceptAll(got_v).count() == 0


def test_corpus_determinism(spark):
    a = generate_corpus(spark, 300, seed=7).toPandas().sort_values("path")
    b = generate_corpus(spark, 300, seed=7, num_partitions=3).toPandas().sort_values("path")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_corpus_has_duplicate_keys(spark):
    df = generate_corpus(spark, 2000, seed=42)
    dups = (
        df.groupBy("repo", "path", "commit")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups > 0


def test_deduped_matches_default(spark):
    from medea_spark.engine.dedup_validate import validate_table_deduped

    df = generate_corpus(spark, 900, seed=11)
    graph = corpus_schema_graph()
    a = validate_table(df, graph, num_partitions=8).validated.select(
        "repo", "path", "commit", "is_valid", "n_violations"
    )
    b = validate_table_deduped(df, graph, num_partitions=8).validated.select(
        "repo", "path", "commit", "is_valid", "n_violations"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_observe_metrics(spark):
    from pyspark.sql import Observation

    df = generate_corpus(spark, 600, seed=5)
    obs = Observation("medea_metrics")
    run = validate_table(df, corpus_schema_graph(), num_partitions=4, observe=obs)
    run.validated.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["rows"] == 600
    assert m["rows"] == m["valid_rows"] + (600 - m["valid_rows"])
    assert m["violation_count"] > 0


def test_deduped_null_content_matches_default(spark):
    """NULL content must be reported NOT_JSON-invalid on the deduped
    path too — a plain equi-join on length(content) silently drops the
    verdict because NULL != NULL (ADVICE r01)."""
    from medea_spark.engine.dedup_validate import validate_table_deduped

    df = spark.createDataFrame(
        [("r", "p1", "c", "json", '{"name": "x", "kind": "data", "size": 1}'),
         ("r", "p2", "c", "json", None)],
        ["repo", "path", "commit", "lang", "content"],
    )
    graph = corpus_schema_graph()
    a = validate_table(df, graph, num_partitions=2).summary.agg(
        F.sum("rows"), F.sum("valid_rows"), F.sum("invalid_rows")
    ).collect()[0]
    b = validate_table_deduped(df, graph, num_partitions=2).summary.agg(
        F.sum("rows"), F.sum("valid_rows"), F.sum("invalid_rows")
    ).collect()[0]
    assert tuple(a) == tuple(b) == (2, 1, 1)
    row = (
        validate_table_deduped(df, graph, num_partitions=2)
        .validated.filter(F.col("path") == "p2")
        .select("is_valid", "n_violations")
        .collect()[0]
    )
    assert row["is_valid"] is False and row["n_violations"] == 1


def test_violations_carry_offending_values_in_dev_mode(spark):
    """with_offending_values=True embeds the truncated offending JSON
    chunk per violation row (reference error-payload parity); the
    default path keeps violation rows narrow."""
    df = spark.createDataFrame(
        [
            ("r", "p1", "c", "json", '{"name": 7, "kind": "data", "size": 1}'),
            ("r", "p2", "c", "json", "not json at all"),
        ],
        ["repo", "path", "commit", "lang", "content"],
    )
    run = validate_table(
        df, corpus_schema_graph(), num_partitions=2, with_offending_values=True
    )
    rows = {r["path"]: r for r in run.violations.collect()}
    assert rows["p1"]["json_pointer"] == "/name"
    assert rows["p1"]["offending_value"] == "7"
    assert rows["p2"]["failed_constraint"] == "NOT_JSON"
    assert rows["p2"]["offending_value"] == "not json at all"
    # default: no offending_value column at all
    default_run = validate_table(df, corpus_schema_graph(), num_partitions=2)
    assert "offending_value" not in default_run.violations.columns


def test_ensure_kernel_parallelism(spark):
    """No-op when the scan already has enough splits; repartitions tiny
    inputs so a CPU-bound kernel stage can use every core."""
    from medea_spark.engine import ensure_kernel_parallelism

    small = spark.range(100).coalesce(1)
    widened = ensure_kernel_parallelism(small, min_partitions=8)
    assert widened.rdd.getNumPartitions() == 8
    assert widened.count() == 100
    wide = spark.range(100, numPartitions=16)
    same = ensure_kernel_parallelism(wide, min_partitions=8)
    assert same.rdd.getNumPartitions() == 16  # untouched — no shuffle added


def test_ensure_kernel_parallelism_uses_file_metadata(spark, tmp_path, monkeypatch):
    """File-backed inputs must be sized from file metadata — the
    plan→RDD conversion (df.rdd) must not run on the default path."""
    from pyspark.sql import DataFrame

    from medea_spark.engine import ensure_kernel_parallelism

    p = str(tmp_path / "tiny_parquet")
    spark.range(1000).selectExpr("id", "repeat('x', 100) as pad").coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)

    def boom(self):
        raise AssertionError("plan->RDD conversion on the file-backed path")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    widened = ensure_kernel_parallelism(df, min_partitions=8)
    monkeypatch.undo()
    assert widened.rdd.getNumPartitions() == 8
    assert widened.count() == 1000


def test_ensure_kernel_parallelism_respects_upstream_exchange(spark, tmp_path):
    """A DataFrame whose partitioning was set by an upstream operator
    (repartition/coalesce) must use the exact RDD check, not the file
    estimate — never downsizing an already-wider relation, and still
    widening a coalesced one."""
    from medea_spark.engine import ensure_kernel_parallelism

    p = str(tmp_path / "exch_parquet")
    spark.range(1000).selectExpr("id", "repeat('x', 50) as pad").coalesce(
        1
    ).write.parquet(p)
    wide = spark.read.parquet(p).repartition(16)
    out = ensure_kernel_parallelism(wide, min_partitions=8)
    assert out is wide  # 16 >= 8: untouched, no second shuffle
    narrow = spark.read.parquet(p).repartition(16).coalesce(1)
    out2 = ensure_kernel_parallelism(narrow, min_partitions=8)
    assert out2.rdd.getNumPartitions() == 8  # coalesce(1) caught


def test_scan_shape_detection_ignores_operator_named_columns(
    spark, tmp_path, monkeypatch
):
    """Scan-shape detection walks logical-plan node CLASSES, so a column
    literally named "Join-ish" (which put the token "Join" into the plan
    string) must not push a plain scan off the file-metadata path."""
    from pyspark.sql import DataFrame

    from medea_spark.engine import ensure_kernel_parallelism

    p = str(tmp_path / "joinish_parquet")
    spark.range(1000).selectExpr(
        "id", "repeat('x', 100) as `Join-ish`"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p).selectExpr("`Join-ish`", "id as `Sort of`")

    def boom(self):
        raise AssertionError("plan->RDD conversion on a scan-shaped plan")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    widened = ensure_kernel_parallelism(df, min_partitions=8)
    monkeypatch.undo()
    assert widened.rdd.getNumPartitions() == 8
    assert widened.count() == 1000


def test_many_small_files_above_parallelism_still_widened(spark, tmp_path):
    """File count is NOT a lower bound on scan splits above
    defaultParallelism: Spark packs small files together, so 70 tiny
    files can scan as ~4 splits.  ensure_kernel_parallelism must run the
    byte-based estimate there and still widen (round-3 advice)."""
    from medea_spark.engine import ensure_kernel_parallelism

    par = spark.sparkContext.defaultParallelism
    want = 2 * par
    p = str(tmp_path / "many_tiny_parquet")
    spark.range(1000).repartition(want + 6).write.parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) >= want  # the buggy short-circuit regime
    assert df.rdd.getNumPartitions() < want  # packing merged the files
    out = ensure_kernel_parallelism(df, min_partitions=want)
    assert out.rdd.getNumPartitions() == want


def test_annotate_sample_agrees_with_kernel_on_nonstandard_json(spark):
    """The dev-mode annotation must use the SAME parse as the engine:
    NaN/Infinity are NOT_JSON to the kernel, so annotate_sample must
    not report them valid."""
    from medea_spark.compiler import compile_schema_text
    from medea_spark.engine import annotate_sample
    from medea_spark.kernel import validate_document

    g = compile_schema_text("$schema $start\n    $type\n        $number\n")
    assert validate_document(g, "NaN")[0] is False
    df = spark.createDataFrame([(1, "NaN"), (2, "Infinity"), (3, "5")],
                               ["doc_id", "content"])
    rows = {r.doc_id: r for r in annotate_sample(df, g, n=3).collect()}
    assert rows[1].is_valid is False and rows[1].annotation is None
    assert rows[2].is_valid is False
    assert rows[3].is_valid is True


def test_assign_schema_version_boundaries(spark):
    """Version = latest effective_from <= ts; NULL before history."""
    from datetime import datetime

    from medea_spark.engine import SchemaVersion, assign_schema_version
    from medea_spark.compiler import compile_schema_text

    g = compile_schema_text("$schema $start\n    $type\n        $number\n")
    versions = [
        SchemaVersion(1, datetime(2024, 1, 1), g),
        SchemaVersion(2, datetime(2024, 6, 1), g),
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, datetime(2023, 12, 31, 23, 59, 59)),
            (2, datetime(2024, 1, 1, 0, 0, 0)),  # inclusive boundary
            (3, datetime(2024, 5, 31, 23, 59, 59)),
            (4, datetime(2024, 6, 1, 0, 0, 0)),
            (5, datetime(2025, 1, 1)),
        ],
        ["i", "ts"],
    )
    got = {
        r.i: r.v
        for r in df.select(
            "i", assign_schema_version(F.col("ts"), versions).alias("v")
        ).collect()
    }
    assert got == {1: None, 2: 1, 3: 1, 4: 2, 5: 2}


def test_assign_schema_version_rejects_shuffled_history():
    from datetime import datetime

    import pytest
    from pyspark.sql import functions as F

    from medea_spark.engine import SchemaVersion, assign_schema_version
    from medea_spark.compiler import compile_schema_text

    g = compile_schema_text("$schema $start\n    $type\n        $number\n")
    with pytest.raises(ValueError, match="effective_from order"):
        assign_schema_version(
            F.lit("2024-01-01").cast("timestamp"),
            [
                SchemaVersion(2, datetime(2024, 6, 1), g),
                SchemaVersion(1, datetime(2024, 1, 1), g),
            ],
        )


def test_validate_table_versioned_dispatches_per_row(spark):
    """Rows are judged by the schema ACTIVE AT THEIR EVENT TIME: the
    same content flips verdict across the version boundary, and rows
    before any version fail with NO_ACTIVE_SCHEMA."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from medea_spark.compiler import compile_schema_text
    from medea_spark.engine import (
        NO_ACTIVE_SCHEMA,
        SchemaVersion,
        validate_table_versioned,
    )

    number_schema = compile_schema_text("$schema $start\n    $type\n        $number\n")
    string_schema = compile_schema_text("$schema $start\n    $type\n        $string\n")
    versions = [
        SchemaVersion(1, datetime(2024, 1, 1), number_schema),
        SchemaVersion(2, datetime(2024, 6, 1), string_schema),
    ]
    rows = [
        (1, datetime(2023, 1, 1), "5"),      # pre-history
        (2, datetime(2024, 2, 1), "5"),      # v1: number → valid
        (3, datetime(2024, 7, 1), "5"),      # v2: string → invalid
        (4, datetime(2024, 2, 1), '"x"'),    # v1 → invalid
        (5, datetime(2024, 7, 1), '"x"'),    # v2 → valid
        (6, datetime(2024, 7, 1), None),     # NULL content → NOT_JSON
    ]
    df = spark.createDataFrame(rows, ["i", "ts", "content"])
    out = {
        r.i: (r.schema_version, r.is_valid, [v.failed_constraint for v in r.violations])
        for r in validate_table_versioned(df, versions).collect()
    }
    assert out[1] == (None, False, [NO_ACTIVE_SCHEMA])
    assert out[2] == (1, True, [])
    assert out[3][0:2] == (2, False)
    assert out[4][0:2] == (1, False)
    assert out[5] == (2, True, [])
    assert out[6] == (2, False, ["NOT_JSON"])


def test_versioned_history_rejects_duplicate_version_ids():
    """Two SchemaVersions sharing a version id would silently collapse
    in the graphs dict (the earlier window would validate against the
    later graph) — must raise instead."""
    from datetime import datetime

    import pytest
    from pyspark.sql import functions as F

    from medea_spark.compiler import compile_schema_text
    from medea_spark.engine import SchemaVersion, assign_schema_version

    g = compile_schema_text("$schema $start\n    $type\n        $number\n")
    with pytest.raises(ValueError, match="duplicate version ids"):
        assign_schema_version(
            F.lit("2024-01-01").cast("timestamp"),
            [
                SchemaVersion(1, datetime(2024, 1, 1), g),
                SchemaVersion(1, datetime(2024, 6, 1), g),
            ],
        )


def test_validate_table_dispatched_by_data_column(spark):
    """Per-row schema dispatch by a string column: families validate
    against their own schemas in ONE kernel pass; unregistered and
    NULL keys fail NO_SCHEMA_FOR_KEY (or fall back to default_key)."""
    from pyspark.sql import functions as F

    from medea_spark.compiler import compile_schema_text
    from medea_spark.engine import NO_SCHEMA_FOR_KEY, validate_table_dispatched

    number_schema = compile_schema_text("$schema $start\n    $type\n        $number\n")
    string_schema = compile_schema_text("$schema $start\n    $type\n        $string\n")
    schemas = {"num": number_schema, "str": string_schema}
    rows = [
        (1, "num", "5"),       # valid number
        (2, "num", '"x"'),     # number family, string content → invalid
        (3, "str", '"x"'),     # valid string
        (4, "str", "5"),       # string family, number content → invalid
        (5, "zzz", "5"),       # unregistered family
        (6, None, "5"),        # NULL key
        (7, "num", None),      # NULL content → NOT_JSON
        (8, "num", "not json"),
    ]
    df = spark.createDataFrame(rows, ["i", "family", "content"])
    out = {
        r.i: (r.is_valid, [v.failed_constraint for v in r.violations])
        for r in validate_table_dispatched(df, schemas, key_col="family").collect()
    }
    assert out[1] == (True, [])
    assert out[2] == (False, ["NOT_ONE_OF_OPTIONS"])
    assert out[3] == (True, [])
    assert out[4] == (False, ["NOT_ONE_OF_OPTIONS"])
    assert out[5] == (False, [NO_SCHEMA_FOR_KEY])
    assert out[6] == (False, [NO_SCHEMA_FOR_KEY])
    assert out[7] == (False, ["NOT_JSON"])
    assert out[8] == (False, ["NOT_JSON"])

    # default_key fallback: unknown/NULL keys validate against 'num'
    out2 = {
        r.i: r.is_valid
        for r in validate_table_dispatched(
            df, schemas, key_col="family", default_key="num"
        ).collect()
    }
    assert out2[5] is True and out2[6] is True

    import pytest

    with pytest.raises(ValueError, match="not a registered"):
        validate_table_dispatched(df, schemas, key_col="family", default_key="nope")
    with pytest.raises(ValueError, match="empty schema registry"):
        validate_table_dispatched(df, {}, key_col="family")


def test_dispatch_agrees_with_single_schema_validation(spark):
    """Differential: dispatching every row to the SAME schema must
    reproduce validate_table's verdicts row-for-row (the batch-slicing
    path changes nothing about the kernel semantics)."""
    from pyspark.sql import functions as F

    from medea_spark.compiler import compile_schema_text
    from medea_spark.engine import validate_table, validate_table_dispatched

    g = compile_schema_text(
        "$schema $start\n"
        "    $type\n"
        "        $object\n"
        "    $properties\n"
        '        $property-name "k"\n'
        "        $property-schema $number\n"
    )
    docs = [
        '{"k": 1}', '{"k": "x"}', '{"j": 1}', "[]", "nope", '{"k": 2, "z": 3}', None
    ]
    df = (
        spark.createDataFrame([(i, c) for i, c in enumerate(docs)], ["i", "content"])
        .withColumn("family", F.lit("only"))
        .withColumn("repo", F.lit("r1"))
        .withColumn("path", F.concat(F.lit("p"), F.col("i")))
        .withColumn("commit", F.lit("c1"))
    )
    single = {
        r.i: (r.is_valid, [v.failed_constraint for v in r.violations])
        for r in validate_table(df, g).validated.collect()
    }
    dispatched = {
        r.i: (r.is_valid, [v.failed_constraint for v in r.violations])
        for r in validate_table_dispatched(df, {"only": g}, key_col="family").collect()
    }
    assert single == dispatched


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count
    join WITHOUT any shuffle — and with no sort either when sortBy
    matches the join key.  The 100-TB pre-shuffle: paid once at write
    time, amortized over every later join.  Also: a bucketed-vs-
    unbucketed join shuffles ONLY the unbucketed side."""
    import pytest
    from pyspark.sql import functions as F

    from medea_spark.engine import write_bucketed

    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("bt_events", "bt_users", "bt_plain"):
        # a fresh session's catalog forgets managed tables but their
        # warehouse directories persist — drop BOTH or saveAsTable
        # fails with LOCATION_ALREADY_EXISTS on the next run
        spark.sql(f"drop table if exists {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    events = spark.range(10000).select(
        (F.col("id") % 500).alias("user_id"), F.col("id").alias("event_id")
    )
    users = spark.range(500).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("score")
    )
    write_bucketed(events, "bt_events", ["user_id"], num_buckets=8,
                   sort_cols=["user_id"])
    write_bucketed(users, "bt_users", ["user_id"], num_buckets=8,
                   sort_cols=["user_id"])
    users.write.mode("overwrite").format("parquet").saveAsTable("bt_plain")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        both = spark.table("bt_events").join(spark.table("bt_users"), "user_id")
        plan = both._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert both.count() == 10000

        # bucketed ⋈ unbucketed: exactly ONE exchange (the plain side)
        half = spark.table("bt_events").join(spark.table("bt_plain"), "user_id")
        plan2 = half._jdf.queryExecution().executedPlan().toString()
        assert plan2.count("Exchange") == 1, plan2

        # bucketed groupBy on the bucket key also skips the shuffle
        agg = spark.table("bt_events").groupBy("user_id").count()
        plan3 = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan3, plan3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    with pytest.raises(ValueError, match="table identifier"):
        write_bucketed(events, str(tmp_path / "nope"), ["user_id"])


def test_infer_schema_from_table(spark):
    """Table-level inference: sample a content column, get a schema
    that compiles and validates the whole column; NULL contents are
    excluded from the sample."""
    from pyspark.sql import functions as F

    from medea_spark.compiler import compile_schema_text
    from medea_spark.engine import infer_schema_from_table, validate_table_dispatched

    df = spark.createDataFrame(
        [(1, '{"k": 1}'), (2, '{"k": 2.5}'), (3, None), (4, '{"k": 3}')],
        ["i", "content"],
    )
    text = infer_schema_from_table(df, "content", n=10)
    g = compile_schema_text(text)
    out = validate_table_dispatched(
        df.withColumn("fam", F.lit("only")), {"only": g}, key_col="fam"
    )
    rows = {r.i: r.is_valid for r in out.collect()}
    # non-NULL rows validate; NULL content is NOT_JSON-invalid (the
    # sample excluded it, and inference never saw it)
    assert rows == {1: True, 2: True, 3: False, 4: True}


def test_zvalue_matches_python_reference(spark):
    """Spark's shift-or-mask Morton interleave == the naive bit loop,
    2-D and 3-D."""
    import random

    from medea_spark.engine.layout import zvalue

    def py_morton(vals, bits):
        z = 0
        for b in range(bits):
            for i, v in enumerate(vals):
                z |= ((v >> b) & 1) << (b * len(vals) + i)
        return z

    random.seed(7)
    rows2 = [(random.randrange(1 << 16), random.randrange(1 << 16)) for _ in range(200)]
    df2 = spark.createDataFrame(rows2, "x long, y long")
    out2 = df2.select("x", "y", zvalue([F.col("x"), F.col("y")], 16).alias("z")).collect()
    assert all(r.z == py_morton([r.x, r.y], 16) for r in out2)

    rows3 = [
        (random.randrange(1 << 21), random.randrange(1 << 21), random.randrange(1 << 21))
        for _ in range(200)
    ]
    df3 = spark.createDataFrame(rows3, "x long, y long, w long")
    out3 = df3.select(
        "x", "y", "w", zvalue([F.col("x"), F.col("y"), F.col("w")], 21).alias("z")
    ).collect()
    assert all(r.z == py_morton([r.x, r.y, r.w], 21) for r in out3)


def test_quantize_clamps_and_guards(spark):
    from medea_spark.engine.layout import quantize, zvalue

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (50.0,), (100.0,), (250.0,), (None,)], "x double"
    )
    out = [r.q for r in df.select(quantize("x", 0, 100, 8).alias("q")).collect()]
    # below-range clamps to 0, above-range to 255, NULL -> 0, hi itself clamps
    assert out == [0, 0, 128, 255, 255, 0]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="hi > lo"):
        quantize("x", 5, 5, 8)
    with _pytest.raises(ValueError, match="2 or 3"):
        zvalue([F.col("x")], 8)
    with _pytest.raises(ValueError, match="too wide"):
        zvalue([F.col("x"), F.col("x")], 17)


def test_zorder_write_prunes_vs_single_column_sort(spark, tmp_path):
    """The point of the layout: a 2-D box predicate touches FAR fewer
    files under z-order than under a single-column sort, measured from
    real parquet footer min/max — the same statistics Spark's scan
    pruning reads."""
    import pyarrow.parquet as pq
    import pathlib

    from medea_spark.engine.layout import zorder_write

    n = 1 << 16
    df = spark.range(n).select(
        (F.col("id") % 256).alias("x"),
        (F.floor(F.col("id") / 256) % 256).alias("y"),
    )
    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zord")
    # naive comparable layout: same file count, sorted on x only
    df.repartitionByRange(16, F.col("x")).sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(plain)
    zorder_write(df, zord, by=[("x", 0, 256), ("y", 0, 256)], bits=8, num_files=16)

    def files_overlapping(path, pred):
        """pred: {col: (lo, hi)} — count files whose min/max stats
        overlap EVERY predicate range (what scan pruning keeps)."""
        hit = 0
        for f in pathlib.Path(path).glob("*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cols = {
                    md.row_group(rg).column(i).path_in_schema: md.row_group(rg).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                if all(cols[c].min <= hi and cols[c].max >= lo for c, (lo, hi) in pred.items()):
                    hit += 1
                    break
        return hit

    # Predicate on the NON-leading dimension: the x-sorted layout
    # cannot prune it at all (every file spans all y); z-order keeps
    # min/max locality on BOTH dims, so only the curve tiles crossing
    # the y band survive.
    plain_y = files_overlapping(plain, {"y": (100, 116)})
    z_y = files_overlapping(zord, {"y": (100, 116)})
    assert plain_y == 16
    assert z_y <= 6

    # And on a 2-D box the z layout stays in the same small ballpark as
    # the x-sort's leading-column pruning (a few curve tiles).
    z_box = files_overlapping(zord, {"x": (100, 116), "y": (100, 116)})
    assert z_box <= 6


def test_zorder_write_rewrite_is_deterministic(spark, tmp_path):
    """Rewriting the SAME input produces the SAME set of file contents
    (the checkpoint-resume contract): bucket assignment is pure bit
    math, not RangePartitioner reservoir sampling whose seed derives
    from the run-dependent RDD id."""
    import pathlib

    import pyarrow.parquet as pq

    from medea_spark.engine.layout import zorder_write

    df = spark.range(20_000).select(
        (F.col("id") % 199).alias("x"),
        ((F.col("id") * 31) % 251).alias("y"),
    )

    def content_multiset(path):
        sigs = []
        for f in pathlib.Path(path).glob("*.parquet"):
            t = pq.read_table(f).to_pandas().sort_values(["x", "y"])
            sigs.append(tuple(map(tuple, t.itertuples(index=False))))
        return sorted(sigs)

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    zorder_write(df, a, by=[("x", 0, 200), ("y", 0, 256)], bits=8, num_files=8)
    zorder_write(df, b, by=[("x", 0, 200), ("y", 0, 256)], bits=8, num_files=8)
    sa, sb = content_multiset(a), content_multiset(b)
    assert sa == sb and len(sa) > 1


def test_merge_upsert_semantics(spark):
    """Updates win (including their NULLs — no per-column coalesce),
    new keys append, base-only keys survive; guards fire on duplicate
    keys and column-set mismatch."""
    import pytest as _pytest

    from medea_spark.engine.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, n long"
    )
    upd = spark.createDataFrame(
        [(2, None, 99), (4, "d", 40)], "k long, v string, n long"
    )
    out = {r["k"]: (r["v"], r["n"]) for r in merge_upsert(base, upd, ["k"]).collect()}
    assert out == {1: ("a", 10), 2: (None, 99), 3: ("c", 30), 4: ("d", 40)}

    dup = spark.createDataFrame([(2, "x", 1), (2, "y", 2)], "k long, v string, n long")
    with _pytest.raises(ValueError, match="duplicate key in updates"):
        merge_upsert(base, dup, ["k"], assert_unique=True)

    bad_cols = spark.createDataFrame([(9, "z")], "k long, v string")
    with _pytest.raises(ValueError, match="column sets differ"):
        merge_upsert(base, bad_cols, ["k"])
    with _pytest.raises(ValueError, match="at least one key"):
        merge_upsert(base, upd, [])


def test_worker_tasks_do_not_reread_unchanged_zips(spark):
    """Python workers import pyspark from ``pyspark.zip`` and call
    ``importlib.invalidate_caches()`` per task; once a UDF closure has
    imported the kernel package, an unchanged archive is not re-read."""
    import pandas as pd

    from medea_spark.kernel.batch import validate_batch

    def reads(ids):
        import importlib
        import sys
        import zipimport

        _ = validate_batch  # the closure names a kernel function
        # the first call after the kernel import stamps each archive
        importlib.invalidate_caches()
        real, n = zipimport._read_directory, []
        zipimport._read_directory = lambda archive: n.append(archive) or real(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        return pd.DataFrame({"reads": [len(n)] * len(ids), "zips": [zips] * len(ids)})

    udf = F.pandas_udf(reads, "reads long, zips long")
    rows = spark.range(0, 8, numPartitions=4).select(udf("id").alias("r")).select("r.*").collect()
    assert {r.reads for r in rows} == {0}
    assert min(r.zips for r in rows) > 0  # the workers do hold zip importers
