"""End-to-end corpus preparation: the composed cleaning pipeline.

The individual operators (unicode normalization, PII scrubbing,
repetition-based quality filtering, exact dedup, chunking) each have
their own module; this is the composition a training pipeline actually
runs, in the canonical order:

    normalize (NFC) → redact PII → quality filter → exact dedup
    → sliding-window chunking

Plan shape: scan → one projection holding the Arrow NFC batch + the
codegen redaction/quality expressions → filter → ONE exchange on the
content hash (exact dedup is the only stage that must co-locate by
content; a window row_number keeps the smallest id per hash) → chunk
explode.  Everything before the dedup exchange is embarrassingly
parallel; everything after it is bounded by surviving rows.

Every stage is engine-portable (md5 hash, integer ratios, verbatim
token windows), so the WHOLE pipeline output is covered by one DuckDB
differential — the composition is tested, not just the parts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from medea_spark.pipeline.chunking import chunk_documents
from medea_spark.pipeline.decontaminate import _norm_tokens
from medea_spark.pipeline.normalize import normalize_text
from medea_spark.pipeline.redact import redact_pii


def prepare_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 8,
    max_excess_word_fraction: float = 0.9,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Cleaned, deduplicated, chunked corpus:
    ``(id, n_tokens, n_chunks, chunk_id, chunk_start, chunk_len,
    chunk_text)`` over the surviving documents.

    * quality gate: ≥ ``min_words`` normalized words and excess-word
      fraction ≤ ``max_excess_word_fraction`` (degenerate repetition
      dropped);
    * exact dedup: one keeper (smallest id) per md5 of the CLEANED
      text — normalization first, so byte-form variants of the same
      text dedup together (the reason the order matters)."""
    cleaned = df.select(
        F.col(id_col),
        redact_pii(normalize_text(F.col(text_col))).alias("_clean"),
    )
    # quality columns on the cleaned text (columnar, inline — no join)
    qtoks = _norm_tokens(F.col("_clean"))
    staged = cleaned.select(
        F.col(id_col),
        F.col("_clean"),
        F.size(qtoks).alias("_n_words"),
        F.size(F.array_distinct(qtoks)).alias("_n_distinct"),
    )
    passed = staged.filter(
        (F.col("_n_words") >= min_words)
        & (
            (F.col("_n_words") - F.col("_n_distinct"))
            / F.greatest(F.col("_n_words"), F.lit(1))
            <= max_excess_word_fraction
        )
    )
    # exact dedup by cleaned-content hash: the pipeline's one exchange
    w = Window.partitionBy(F.md5(F.col("_clean"))).orderBy(F.col(id_col))
    kept = (
        passed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("_clean").alias(text_col))
    )
    return chunk_documents(
        kept,
        id_col=id_col,
        text_col=text_col,
        chunk_tokens=chunk_tokens,
        overlap=overlap,
    )
