"""Structured Streaming validation surface."""

from medea_spark.streaming.validate_stream import (
    REPO_STATE_OUTPUT,
    REPO_STATE_SCHEMA,
    dedup_stream,
    incremental_dedup_stream,
    file_stream_source,
    repo_violation_state,
    session_counts,
    validate_stream,
    windowed_violation_counts,
)

__all__ = [
    "REPO_STATE_OUTPUT",
    "REPO_STATE_SCHEMA",
    "dedup_stream",
    "incremental_dedup_stream",
    "file_stream_source",
    "repo_violation_state",
    "session_counts",
    "validate_stream",
    "windowed_violation_counts",
]
