"""Structured Streaming validation (continuous repo-file ingestion).

The batch kernel UDF drops into a streaming plan unchanged — the
validation stage stays shuffle-free, so the only stateful operators are
the ones we add deliberately:

* :func:`windowed_violation_counts` — event-time windowed census of
  failed constraints with a watermark for late data;
* :func:`repo_violation_state` — a custom stateful operator
  (``applyInPandasWithState``): per-repo running totals that emit a
  row per micro-batch and expire idle repos by processing-time timeout.

Per-row schema dispatch on a stream needs no wrapper here:
``engine.validate_table_dispatched`` takes a streaming frame as is.

At scale the source is an Iceberg/file stream (``maxFilesPerTrigger``
bounds micro-batch size); state is per-repo (bounded by the repo
universe, not row count).
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from medea_spark.compiler.analyzer import SchemaGraph
from medea_spark.engine.validate import attach_verdict, make_validation_udf


def validate_stream(
    stream_df: DataFrame,
    graph: SchemaGraph,
    content_col: str = "content",
) -> DataFrame:
    """Attach the kernel verdict to a streaming DataFrame (stateless —
    identical semantics to the batch path)."""
    return attach_verdict(stream_df, make_validation_udf(graph)(F.col(content_col)))


def windowed_violation_counts(
    validated: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed violation census with late-data watermark:
    (window, failed_constraint, cnt)."""
    return (
        validated.withWatermark(ts_col, watermark)
        .filter(~F.col("is_valid"))
        .select(F.col(ts_col), F.explode("violations").alias("v"))
        .groupBy(
            F.window(F.col(ts_col), window).alias("window"),
            F.col("v.failed_constraint").alias("failed_constraint"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


REPO_STATE_OUTPUT = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("rows_seen", T.LongType(), False),
        T.StructField("invalid_seen", T.LongType(), False),
        T.StructField("batch_rows", T.LongType(), False),
    ]
)

REPO_STATE_SCHEMA = T.StructType(
    [
        T.StructField("rows_seen", T.LongType(), False),
        T.StructField("invalid_seen", T.LongType(), False),
    ]
)


def _repo_state_fn(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    rows = invalid = batch_rows = 0
    if state.exists:
        rows, invalid = state.get
    for pdf in batches:
        batch_rows += len(pdf)
        rows += len(pdf)
        invalid += int((~pdf["is_valid"]).sum())
    state.update((rows, invalid))
    yield pd.DataFrame(
        {
            "repo": [key[0]],
            "rows_seen": [rows],
            "invalid_seen": [invalid],
            "batch_rows": [batch_rows],
        }
    )


def repo_violation_state(validated: DataFrame) -> DataFrame:
    """Custom stateful operator: per-repo running (rows, invalid) totals,
    one output row per repo per micro-batch.

    State size is O(|repos|) — the 10^12-file corpus has ~10^8 repos,
    ~GBs of state across the cluster, well inside RocksDB state-store
    territory.  Production long-running streams should additionally set
    a processing-time timeout to expire idle repos; that makes the
    engine schedule timeout-evaluation micro-batches forever (it never
    reaches "caught up"), so finite replays/tests use NoTimeout.
    """
    return (
        validated.select("repo", "is_valid")
        .groupBy("repo")
        .applyInPandasWithState(
            _repo_state_fn,
            outputStructType=REPO_STATE_OUTPUT,
            stateStructType=REPO_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: the first row per key wins, duplicates
    arriving within the watermark of the first sighting are dropped
    (``dropDuplicatesWithinWatermark``).  State per key is bounded by
    the watermark horizon — the property that makes streaming dedup
    viable at ingest scale, unlike an unbounded ``dropDuplicates``
    whose state grows with the key universe forever."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def session_counts(
    stream_df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-based sessionization via the native
    ``session_window`` aggregation: per (key, session) — epoch-µs
    session bounds and the event count, with sessions MERGED across
    micro-batches by the state store (an early fragment and a late
    continuation of the same session collapse into one row).

    Boundary semantics (unit-verified, not assumed): Spark merges a
    new event into a session when it starts AT or before the session's
    current end — an event exactly ``gap`` after its predecessor still
    merges, i.e. a new session opens only when ``diff > gap``.  That
    is the SAME boundary rule as the batch ``pipeline/sessions.py``
    sessionizer, so streaming and batch sessions agree everywhere.
    ``session_end`` is last-event-ts + gap, the engine's window end.

    State is bounded by the watermark horizon: a session with no event
    for ``watermark`` can never merge again and is evicted (append
    mode) or frozen (complete-mode replays).
    """
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), gap).alias("session"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.unix_micros(F.col("session.start")).alias("session_start_us"),
            F.unix_micros(F.col("session.end")).alias("session_end_us"),
            F.col("n_events"),
        )
    )


def incremental_dedup_stream(
    stream_df: DataFrame,
    spark: Any,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
):
    """Streaming near-dup detection against a GROWING persisted LSH
    band index (pipeline/dedup.py) — the production ingest shape: docs
    arrive as a file stream; each micro-batch (``foreachBatch``, so
    the batch is a plain DataFrame and the batch-mode operators drop
    in unchanged) equi-joins its bands against the index parquet,
    appends the canonical candidate pairs it finds, then appends its
    OWN bands to the index so every later batch sees it.

    The accumulated pair set is batch-boundary-INDEPENDENT: a pair
    with both docs streamed is caught either inside one batch
    (new_new) or when the later doc's batch joins the earlier doc's
    already-appended bands (new_old); a pair straddling history is
    caught by the later side's batch.  So the distinct final set
    equals the batch-mode answer over history ∪ stream, minus the
    history-internal pairs — which is exactly what the DuckDB oracle
    recomputes, however the files were micro-batched.

    Precondition: ``index_path`` must already hold a (bootstrapped)
    band-index parquet — the first micro-batch reads it unconditionally
    and fails with AnalysisException otherwise.  Bootstrap an empty
    history with the batch builder first (``minhash_band_index(...)
    .write.parquet(index_path)``, or ``jobs/ingest_dedup_job.py
    --bootstrap``); an intentionally empty index is an empty DataFrame
    written to the same path (round-5 advice: the precondition is part
    of the operator contract, not an accident of the tests).

    Dedup/restart semantics: parquet appends in foreachBatch are
    at-least-once on failure/replay — consumers must read the pairs
    relation with ``distinct()``.  Replays stay benign BECAUSE the
    sink is canonical (least/greatest, no kind column) and the
    candidate join excludes identity pairs: a batch replayed after
    its own index append re-finds its within-batch pairs through the
    index, but those canonicalize to rows distinct() removes, and it
    can never pair a doc with itself.  State lives in the index
    parquet, not the state store: no watermark, no per-key state
    growth, restart just re-reads the index.

    Returns the started StreamingQuery (availableNow trigger).
    """
    from medea_spark.pipeline.dedup import (
        incremental_lsh_candidates,
        minhash_band_index,
    )

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        if not batch_df.head(1):
            return
        # Band the batch ONCE: the banded relation feeds both candidate
        # joins AND the index append.  localCheckpoint pins its contents
        # (and cuts the source re-read) across the three consumers.
        banded = minhash_band_index(
            batch_df, id_col, text_col, n=n, k=k, bands=bands
        ).localCheckpoint(eager=True)
        index = spark.read.parquet(index_path)
        cand = incremental_lsh_candidates(
            batch_df, index, id_col, text_col,
            n=n, k=k, bands=bands, new_bands=banded,
        )
        (
            cand.select(
                F.least("new_doc", "match_doc").alias("doc_a"),
                F.greatest("new_doc", "match_doc").alias("doc_b"),
            )
            .distinct()
            .write.mode("append")
            .parquet(pairs_path)
        )
        banded.write.mode("append").parquet(index_path)

    return (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def file_stream_source(
    spark: Any,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Bounded-ingestion file stream over a parquet directory (the
    sandbox stand-in for an Iceberg streaming read)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
