"""Structured Streaming validation: stateless kernel parity, windowed
watermark census, and the custom stateful per-repo operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark.sql import types as T

from medea_spark.corpus import CORPUS_SPARK_SCHEMA, corpus_schema_graph, generate_corpus
from medea_spark.streaming import (
    file_stream_source,
    repo_violation_state,
    validate_stream,
    windowed_violation_counts,
)

N = 1500


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    df = generate_corpus(spark, N, seed=42).withColumn(
        # deterministic event time spread over 5 minutes
        "ts",
        F.timestamp_seconds(
            F.lit(1700000000) + F.xxhash64("path") % 300
        ),
    )
    df.coalesce(6).write.mode("overwrite").parquet(str(d / "corpus"))
    return str(d / "corpus")


def _schema_with_ts() -> T.StructType:
    # StructType.add mutates in place — never call it on the shared constant.
    return T.StructType(
        list(CORPUS_SPARK_SCHEMA.fields) + [T.StructField("ts", T.TimestampType())]
    )


def _run_query(q):
    q.processAllAvailable()
    q.stop()


def test_stream_verdicts_match_batch(spark, stream_dir):
    schema = _schema_with_ts()
    src = file_stream_source(spark, stream_dir, schema, max_files_per_trigger=2)
    validated = validate_stream(src, corpus_schema_graph())
    q = (
        validated.select("repo", "path", "commit", "is_valid", "expected_valid")
        .writeStream.format("memory")
        .queryName("verdicts")
        .outputMode("append")
        .start()
    )
    _run_query(q)
    out = spark.table("verdicts")
    assert out.count() == N
    assert out.filter(F.col("is_valid") != F.col("expected_valid")).count() == 0


def test_dispatch_stream_matches_batch(spark, stream_dir):
    """Per-row schema dispatch on a stream: availableNow replay of the
    corpus through validate_table_dispatched (keyed by lang) must equal
    the batch validate_table_dispatched verdicts row-for-row — including
    NO_SCHEMA_FOR_KEY rows for unregistered languages."""
    from medea_spark.compiler import compile_schema_text
    from medea_spark.engine import validate_table_dispatched

    # two registered families: python rows validate against the corpus
    # schema, json rows against the any-schema; everything else
    # (go/java/...) is unregistered -> NO_SCHEMA_FOR_KEY
    schemas = {
        "python": corpus_schema_graph(),
        "json": compile_schema_text("$schema $start\n"),
    }
    schema = _schema_with_ts()
    src = file_stream_source(spark, stream_dir, schema, max_files_per_trigger=3)
    q = (
        validate_table_dispatched(src, schemas, key_col="lang")
        .select(
            "repo", "path", "commit", "lang", "is_valid",
            F.get(F.col("violations"), 0)
            .getField("failed_constraint")
            .alias("first_violation"),
        )
        .writeStream.format("memory")
        .queryName("dispatch_parity")
        .outputMode("append")
        .start()
    )
    _run_query(q)
    streamed = {
        (r.repo, r.path, r.commit): (r.is_valid, r.first_violation)
        for r in spark.table("dispatch_parity").collect()
    }
    batch = validate_table_dispatched(
        spark.read.schema(schema).parquet(stream_dir), schemas, key_col="lang"
    ).select(
        "repo", "path", "commit", "is_valid",
        F.get(F.col("violations"), 0)
        .getField("failed_constraint")
        .alias("first_violation"),
    )
    want = {
        (r.repo, r.path, r.commit): (r.is_valid, r.first_violation)
        for r in batch.collect()
    }
    # (repo, path, commit) can collide in the generated corpus, so the
    # dict may be slightly smaller than N — row count checked on the
    # table, verdict parity on the keyed dicts
    assert spark.table("dispatch_parity").count() == N
    assert streamed == want
    # the unregistered-family rows really exist in this corpus
    assert any(v[1] == "NO_SCHEMA_FOR_KEY" for v in streamed.values())


def test_windowed_violation_counts(spark, stream_dir):
    schema = _schema_with_ts()
    src = file_stream_source(spark, stream_dir, schema, max_files_per_trigger=3)
    validated = validate_stream(src, corpus_schema_graph())
    census = windowed_violation_counts(validated, window="1 minute", watermark="10 minutes")
    q = (
        census.writeStream.format("memory")
        .queryName("census")
        .outputMode("complete")
        .start()
    )
    _run_query(q)
    out = spark.table("census")
    total_stream = out.agg(F.sum("cnt")).collect()[0][0]
    # batch ground truth
    batch = generate_corpus(spark, N, seed=42)
    from medea_spark.engine import validate_table

    batch_total = (
        validate_table(batch, corpus_schema_graph(), num_partitions=4)
        .summary.agg(F.sum("violation_count"))
        .collect()[0][0]
    )
    assert total_stream == batch_total
    assert out.select("failed_constraint").distinct().count() >= 3


def test_repo_violation_state(spark, stream_dir):
    schema = _schema_with_ts()
    src = file_stream_source(spark, stream_dir, schema, max_files_per_trigger=3)
    validated = validate_stream(src, corpus_schema_graph())
    state = repo_violation_state(validated)
    q = (
        state.writeStream.format("memory")
        .queryName("repostate")
        .outputMode("update")
        .start()
    )
    _run_query(q)
    out = spark.table("repostate")
    # last emitted row per repo carries the full running totals
    from pyspark.sql import Window

    latest = (
        out.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("repo").orderBy(F.desc("rows_seen"))
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    got = {r["repo"]: (r["rows_seen"], r["invalid_seen"]) for r in latest.collect()}
    batch = generate_corpus(spark, N, seed=42)
    from medea_spark.engine import validate_table

    truth = {
        r["repo"]: (r["rows"], r["invalid"])
        for r in validate_table(batch, corpus_schema_graph(), num_partitions=4)
        .validated.groupBy("repo")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("is_valid")).cast("long")).alias("invalid"),
        )
        .collect()
    }
    assert got == truth


def test_repo_state_restart_resumes_from_checkpoint(spark, stream_dir, tmp_path):
    """Kill the stateful stream mid-replay (after >=1 committed
    micro-batch, before all of them), restart from the same
    checkpointLocation, and the final per-repo state must still equal
    the batch census — the resume property a production ingest relies
    on, which the clean-replay oracle cannot see (round-3 verdict 5).

    Uncommitted-batch replay is covered by construction: any output row
    the killed run emitted for a batch whose state commit didn't land is
    recomputed from the SAME checkpointed state on restart, and running
    totals are monotone, so the struct-max over both runs' outputs is
    exactly the final state."""
    import time

    schema = _schema_with_ts()
    ckpt = str(tmp_path / "repo_state_ckpt")

    def start(sink_rows):
        # The memory sink refuses checkpoint recovery; foreachBatch is
        # the restartable sink (batch-id replay semantics), collecting
        # each micro-batch's update rows driver-side.
        src = file_stream_source(spark, stream_dir, schema, max_files_per_trigger=1)
        validated = validate_stream(src, corpus_schema_graph())
        return (
            repo_violation_state(validated)
            .writeStream.foreachBatch(
                lambda bdf, bid: sink_rows.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    # Run 1: stop as soon as the first data micro-batch commits.  Six
    # input files at maxFilesPerTrigger=1 means six kernel-bearing
    # batches of ~250 rows each, so a 25 ms poll lands mid-replay.
    rows1: list = []
    q1 = start(rows1)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if any(p["numInputRows"] > 0 for p in q1.recentProgress):
            break
        time.sleep(0.025)
    q1.stop()
    q1.awaitTermination()
    rows_r1 = sum(r["batch_rows"] for r in rows1)
    assert 0 < rows_r1 < N  # genuinely mid-replay: some but not all rows

    # Run 2: same checkpoint, drain the remainder.
    rows2: list = []
    q2 = start(rows2)
    q2.processAllAvailable()
    q2.stop()
    assert sum(r["batch_rows"] for r in rows2) > 0  # resumed work

    from medea_spark.streaming.validate_stream import REPO_STATE_OUTPUT

    final = (
        spark.createDataFrame(rows1 + rows2, REPO_STATE_OUTPUT)
        .groupBy("repo")
        .agg(F.max(F.struct("rows_seen", "invalid_seen")).alias("m"))
        .select("repo", "m.rows_seen", "m.invalid_seen")
    )
    got = {r["repo"]: (r["rows_seen"], r["invalid_seen"]) for r in final.collect()}
    from medea_spark.engine import validate_table

    truth = {
        r["repo"]: (r["rows"], r["invalid"])
        for r in validate_table(
            generate_corpus(spark, N, seed=42), corpus_schema_graph(), num_partitions=4
        )
        .validated.groupBy("repo")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.col("is_valid")).cast("long")).alias("invalid"),
        )
        .collect()
    }
    assert got == truth


def test_dedup_stream_drops_within_watermark(spark, tmp_path):
    """Exact duplicates replayed as a stream collapse to one row per
    key; rows with distinct keys all survive."""
    from datetime import datetime

    from medea_spark.streaming import dedup_stream

    rows = []
    for i in range(200):
        # All event times inside one 5-minute span: the watermark is 10
        # minutes, and files replay in arbitrary order, so any row older
        # than max_seen_ts - watermark would be dropped as LATE (not as
        # a duplicate) and poison the count.
        ts = datetime(2024, 1, 1, 0, i % 5, i % 50)
        rows.append((i, ts, f"payload-{i}"))
        if i % 4 == 0:  # exact duplicate, same ts -> within any watermark
            rows.append((i, ts, f"payload-{i}"))
    df = spark.createDataFrame(rows, ["event_id", "ts", "payload"])
    src_dir = str(tmp_path / "dedup_src")
    df.repartition(4).write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        dedup_stream(stream, ["event_id"], "ts", "10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("dedup_out")
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200


def test_incremental_dedup_stream_is_batch_boundary_independent(spark, tmp_path):
    """The accumulated canonical pair set must equal the batch-mode
    incremental answer whether the stream delivers 1 file or all 4
    per micro-batch — the property the operator docstring promises
    (every cross-batch pair is caught via the index append)."""
    from pyspark.sql import functions as F

    from medea_spark.pipeline import incremental_lsh_candidates, minhash_band_index
    from medea_spark.streaming import incremental_dedup_stream

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    history = docs.filter(F.col("doc_id") % 4 == 0)
    # twins of every 8th doc land in the stream twice (ids +1e5, +2e5):
    # guarantees stream-internal pairs that straddle micro-batches.
    originals = docs.filter(F.col("doc_id") % 8 == 0)
    stream_docs = originals.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    ).unionByName(originals.select((F.col("doc_id") + 200000).alias("doc_id"), "text"))

    src = str(tmp_path / "inc_src")
    stream_docs.repartition(4).write.mode("overwrite").parquet(src)
    index_seed = minhash_band_index(history, "doc_id", "text")

    def run(tag: str, max_files: int) -> set:
        root = str(tmp_path / f"run_{tag}")
        index_seed.write.mode("overwrite").parquet(f"{root}/index")
        stream = (
            spark.readStream.schema(stream_docs.schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(src)
        )
        q = incremental_dedup_stream(
            stream,
            spark,
            index_path=f"{root}/index",
            pairs_path=f"{root}/pairs",
            checkpoint=f"{root}/ckpt",
            id_col="doc_id",
            text_col="text",
        )
        q.awaitTermination()
        return {
            (r["doc_a"], r["doc_b"])
            for r in spark.read.parquet(f"{root}/pairs").distinct().collect()
        }

    drip = run("drip", 1)
    oneshot = run("oneshot", 4)
    batch = {
        (min(r["new_doc"], r["match_doc"]), max(r["new_doc"], r["match_doc"]))
        for r in incremental_lsh_candidates(
            stream_docs, index_seed, "doc_id", "text"
        ).collect()
    }
    assert drip == oneshot == batch
    # sanity: the stream really found its twin pairs
    assert any(a >= 100000 and b >= 200000 for a, b in drip)
    assert any(a < 100000 for a, b in drip)


def test_session_counts_merges_across_batches_and_gap_boundary(spark, tmp_path):
    """Sessionization on a stream: fragments of one session arriving in
    DIFFERENT micro-batches (even out of order) merge in the state
    store into a single session row; an event exactly gap after its
    predecessor still MERGES (Spark's session merge is end-inclusive:
    a new session opens only when diff > gap — the same boundary rule
    as the batch sessionizer, pinned here so an engine change would be
    caught)."""
    from datetime import datetime, timedelta

    from medea_spark.streaming import session_counts

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    gap = timedelta(minutes=30)
    rows = [
        # user A: one session of 3 events, 10 min apart — but written so
        # the MIDDLE event lands in a separate file/batch (bridge test:
        # the two outer fragments are > gap apart until it arrives).
        ("a", t0),
        ("a", t0 + timedelta(minutes=40)),   # bridge (separate batch)
        ("a", t0 + timedelta(minutes=20)),
        # user B: second event exactly AT the gap -> still merges.
        ("b", t0),
        ("b", t0 + gap),
        # user C: second event 1 s PAST the gap -> new session.
        ("c", t0),
        ("c", t0 + gap + timedelta(seconds=1)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    src = str(tmp_path / "sess_src")
    # one row per file => 7 micro-batches at maxFilesPerTrigger=1
    df.repartition(7).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        session_counts(stream, gap="30 minutes", watermark="1 day")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = sorted(
        (r["user_id"], r["n_events"], r["session_end_us"] - r["session_start_us"])
        for r in spark.table("sess_out").collect()
    )
    gap_us = 30 * 60 * 1_000_000
    assert out == [
        ("a", 3, 40 * 60 * 1_000_000 + gap_us),  # merged via the bridge event
        ("b", 2, 2 * gap_us),                    # exact-gap boundary merges
        ("c", 1, gap_us),                        # 1 s past the gap: splits
        ("c", 1, gap_us),
    ]
