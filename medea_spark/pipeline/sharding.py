"""Deterministic token-budget shard packing for training-data output.

A training run wants its corpus as shards of roughly equal token mass
(so data-loader workers stream comparable work), laid out
reproducibly: re-running the packer over the same corpus must yield
the same shard for every document, or downstream resume/dedup
bookkeeping breaks.

Scale shape (the 100 TB contract): there is NO global sequence.  Docs
are spread across ``num_buckets`` independent packing domains by a
deterministic md5-derived hash of the id (no rand(), same invariant
as the engine's salting), and each bucket packs locally with one
window over its own rows — a single hash exchange on ``bucket``, then
per-bucket sort inside the window.  Buckets are embarrassingly
parallel; 1000 executors pack 1000+ buckets with no coordination.

Packing rule (greedy-with-overflow, SQL-replayable): within a bucket,
docs are taken in ascending id order; a doc belongs to the shard of
its EXCLUSIVE running token sum ``floor(cumsum_before / shard_tokens)``.
A new shard therefore starts exactly when the tokens packed so far
cross a budget multiple, and a shard can exceed the budget by at most
its last document (an oversized doc gets a shard of its own).  Raw
floor values can skip when a doc overflows; a dense_rank over them
re-numbers shards densely per bucket (same window partitioning — no
extra exchange).

The md5 bucket hash is the engine-portable 60-bit pattern
(CLAUDE.md), so a DuckDB oracle replays bucket, running sum, and
shard assignment bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BUCKET = "_sh_bucket_raw"
_RAW = "_sh_raw"


def pack_shards(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    shard_tokens: int,
    num_buckets: int = 64,
) -> DataFrame:
    """Assign every row a ``(bucket, shard_seq)`` shard under a
    per-shard token budget.

    Adds two columns: ``bucket`` (int, deterministic md5-hash domain)
    and ``shard_seq`` (bigint, dense per-bucket shard number in id
    order).  All input columns pass through.  NULL token counts pack
    as 0 (the row still lands in a shard; it just consumes no budget).

    ``partitionBy("bucket")`` on the eventual writer gives one
    directory per packing domain; ``shard_seq`` inside it is the file
    split key.  Determinism: bucket is a pure hash of the id and the
    in-bucket order is the id itself, so reruns reproduce every
    assignment — rows with DUPLICATE ids tie in the window order and
    are only rerun-stable in aggregate, so require unique ids (same
    caveat as sample_per_group).
    """
    if shard_tokens <= 0:
        raise ValueError(f"shard_tokens must be positive, got {shard_tokens}")
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    reserved = {_BUCKET, _RAW, "bucket", "shard_seq"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"pack_shards reserves column names {sorted(reserved)}; "
            f"input already has {sorted(clash)}"
        )
    # Engine-portable 60-bit hash of the id → packing domain.
    h60 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
    out = df.withColumn(_BUCKET, F.pmod(h60.cast("bigint"), F.lit(num_buckets)))
    w = Window.partitionBy(_BUCKET).orderBy(F.col(id_col).asc())
    toks = F.coalesce(F.col(tokens_col).cast("bigint"), F.lit(0))
    # Exclusive running sum: tokens packed into this bucket BEFORE
    # this row.  rowsBetween keeps it a plain running-window aggregate
    # (no range lookup), computed in the same sort as the rank below.
    run_before = F.coalesce(
        F.sum(toks).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    out = out.withColumn(_RAW, F.floor(run_before / F.lit(shard_tokens)))
    out = out.withColumn(
        "shard_seq",
        F.dense_rank().over(
            Window.partitionBy(_BUCKET).orderBy(F.col(_RAW).asc())
        ).cast("bigint")
        - 1,
    )
    return out.withColumn("bucket", F.col(_BUCKET).cast("int")).drop(_BUCKET, _RAW)

