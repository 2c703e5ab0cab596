"""Eval-set decontamination: n-gram overlap between a training corpus
and a benchmark/eval set.

Standard training-data hygiene (the GPT-3/PaLM-style 8-13-gram scan):
a corpus document is CONTAMINATED when it shares long word n-grams
with an evaluation document — those rows must be surfaced (and usually
dropped) before training, or the benchmark leaks into the weights.

100-TB shape: the eval side is small (benchmarks are thousands of
documents, not billions), so its distinct n-gram hashes BROADCAST;
the corpus side explodes to (doc, ngram-hash) pairs that broadcast-join
and partially aggregate map-side — the corpus text never shuffles, and
the single exchange carries only per-document aggregate rows.  The
n-gram hash is the repo's portable 60-bit md5 (identical in DuckDB),
so the whole report is engine-differential-testable bit-for-bit.

Interpreted-HOF staging (the repo-wide SPARK-36718 convention): the
n-gram lambda CAPTURES the token array, and a captured expression
re-evaluates once per array element — handing the lambda the raw
normalize-and-split pipeline re-runs the regex work ~|grams| times per
row (measured 45× on the documents table).  ``contamination_report``
therefore stages the token array as a named column, pinned by the
``n_tokens`` output column so CollapseProject/column-pruning cannot
inline it back.

Normalization matches the repo's text conventions: lowercase,
non-alphanumerics collapsed to single spaces, whitespace tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: normalization shared with the DuckDB oracle (keep in sync)
_NORM_RE = "[^a-z0-9]+"


def _norm_tokens(col: Column) -> Column:
    """lowercased alnum-only whitespace tokens; empty text → empty array."""
    t = F.trim(F.regexp_replace(F.lower(col), _NORM_RE, " "))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, " ")
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """All word n-grams of a token-array column, in order and WITH
    multiplicity.  ``toks`` must be a plain attribute reference (a named
    column), not an expression tree: it is captured by the n-gram
    lambda, and a captured expression re-runs once per array element.
    Inputs shorter than ``n`` tokens have no n-grams; ``sequence(1, 0)``
    counts DOWN in Spark, hence the explicit short-input guard."""
    k = F.size(toks)
    return F.when(k < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(k - n + 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def ngram_hashes_from_tokens(toks: Column, n: int = 8) -> Column:
    """Distinct 60-bit portable hashes of the :func:`word_ngrams` of an
    ALREADY-STAGED token-array column.  Documents shorter than ``n``
    tokens have no n-grams (an n-gram membership test needs n tokens —
    standard decontamination semantics)."""
    return F.array_distinct(
        F.transform(
            word_ngrams(toks, n),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
        )
    )


def ngram_hashes(col, n: int = 8):
    """Convenience single-expression form over a raw text column.
    Correct everywhere, but pays the captured-expression penalty
    (tokenization re-runs per n-gram) — in hot paths stage the tokens
    and use :func:`ngram_hashes_from_tokens` (as
    :func:`contamination_report` does)."""
    return ngram_hashes_from_tokens(_norm_tokens(F.col(col) if isinstance(col, str) else col), n)


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    corpus_id: str = "doc_id",
    corpus_text: str = "text",
    eval_text: str = "text",
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-corpus-document contamination report:
    ``(doc_id, n_tokens, n_ngrams, n_contaminated, contamination_ratio,
    is_contaminated)`` — normalized token count, distinct n-grams, how
    many also occur anywhere in the eval set, their ratio, and the
    ≥1-hit flag.

    Shape: eval n-gram hashes dedupe then broadcast; corpus hashes
    explode and LEFT-join them (left join, not inner: clean and
    too-short documents still get a report row with 0 hits); one
    map-side-combined groupBy on the corpus id.  The corpus text
    column is dropped before the explode — only (id, n_tokens, hash)
    rows flow, and ``n_tokens`` doubles as the stage pin for the token
    array (see module docstring).  Set ``broadcast_eval=False`` for a
    pathologically large eval side (falls back to a shuffle join,
    still no row blowup beyond the n-gram explode)."""
    eval_hashes = (
        eval_df.select(F.explode(ngram_hashes(F.col(eval_text), n)).alias("_h"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_eval:
        eval_hashes = F.broadcast(eval_hashes)
    staged = corpus.select(
        F.col(corpus_id), _norm_tokens(F.col(corpus_text)).alias("_toks")
    ).select(
        F.col(corpus_id),
        # real output column AND the stage pin: without it, column
        # pruning deletes the reference and CollapseProject inlines the
        # tokenization back into the per-element lambda
        F.size("_toks").alias("n_tokens"),
        ngram_hashes_from_tokens(F.col("_toks"), n).alias("_hs"),
    )
    pairs = staged.select(
        F.col(corpus_id),
        "n_tokens",
        F.explode_outer("_hs").alias("_h"),
    )
    return (
        pairs.join(eval_hashes, "_h", "left")
        .groupBy(corpus_id, "n_tokens")
        .agg(
            F.count("_h").alias("n_ngrams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_ratio",
            F.round(
                F.col("n_contaminated") / F.greatest(F.col("n_ngrams"), F.lit(1)), 6
            ),
        )
        .withColumn("is_contaminated", F.col("n_contaminated") > 0)
    )
