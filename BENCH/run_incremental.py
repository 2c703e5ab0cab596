"""Scale evidence for incremental LSH dedup: ingest cost must track
the BATCH, not the corpus.

Synthesizes a deterministic corpus (hash-derived 30-word docs over a
200-word vocabulary, every doc's words fixed by xxhash64(doc_id, i) —
no rand(), rerunnable), persists the history's band index, then times:

* ``incremental``: band the new batch + join the persisted index
  (pipeline.incremental_lsh_candidates) — what the ingest job runs;
* ``full re-dedup``: minhash_lsh_candidates over history ∪ batch —
  what a naive pipeline without a persisted index must re-run.

Two history sizes at a fixed batch size show the separation: the
incremental path is ~flat in corpus size (it reads only the compact
band index), the full path grows with the corpus (it re-shingles and
re-hashes everything).

Usage: python BENCH/run_incremental.py [--history 1000000 4000000]
           [--batch 100000] [--out BENCH/INCREMENTAL.md]
Run on a QUIET machine (same caveat as run_scaling.py).
"""

from __future__ import annotations

import argparse
import datetime
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F


def synth_docs(spark, n_rows: int, id_offset: int = 0, parts: int = 64):
    """Deterministic corpus: 30 hash-chosen words per doc.  Content is
    unique per (set, doc) except a controlled dup mass: every 100th doc
    repeats its block head's text (within-set dups), and — when
    ``id_offset`` marks this as a batch — every doc ≡98 (mod 100)
    repeats a HISTORY doc's text (1% cross-set dups), so the joins do
    real matching work without every row matching."""
    vocab = F.array(*[F.lit(f"w{i:03d}") for i in range(200)])
    base = spark.range(n_rows, numPartitions=parts).select(
        (F.col("id") + id_offset).alias("doc_id"),
        F.when(F.col("id") % 100 == 99, F.col("id") - 99 + id_offset)
        .when(F.col("id") % 100 == 98, F.col("id"))
        .otherwise(F.col("id") + id_offset)
        .alias("content_key"),
    )
    words = F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda i: F.element_at(
            vocab, (F.pmod(F.xxhash64(F.col("content_key"), i), F.lit(200)) + 1).cast("int")
        ),
    )
    return base.select("doc_id", F.concat_ws(" ", words).alias("text"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--history", type=int, nargs="+", default=[1_000_000, 4_000_000])
    ap.add_argument("--batch", type=int, default=100_000)
    ap.add_argument("--out", default="BENCH/INCREMENTAL.md")
    args = ap.parse_args()

    from medea_spark.engine.session import get_spark
    from medea_spark.pipeline import (
        incremental_lsh_candidates,
        minhash_band_index,
        minhash_lsh_candidates,
    )

    spark = get_spark(app_name="medea-incremental-bench", cores=32,
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    scratch = tempfile.mkdtemp(prefix="medea_inc_bench_")
    rows = []
    try:
        for h in args.history:
            hist_path = f"{scratch}/hist_{h}"
            idx_path = f"{scratch}/idx_{h}"
            batch_path = f"{scratch}/batch_{h}"
            synth_docs(spark, h).write.mode("overwrite").parquet(hist_path)
            synth_docs(spark, args.batch, id_offset=10 * h).write.mode(
                "overwrite"
            ).parquet(batch_path)
            hist = spark.read.parquet(hist_path)
            batch = spark.read.parquet(batch_path)

            t0 = time.monotonic()
            minhash_band_index(hist, "doc_id", "text").write.mode(
                "overwrite"
            ).parquet(idx_path)
            t_index = time.monotonic() - t0

            index = spark.read.parquet(idx_path)
            t0 = time.monotonic()
            n_inc = incremental_lsh_candidates(
                batch, index, "doc_id", "text"
            ).count()
            t_inc = time.monotonic() - t0

            t0 = time.monotonic()
            n_full = minhash_lsh_candidates(
                hist.unionByName(batch), "doc_id", "text"
            ).count()
            t_full = time.monotonic() - t0

            rows.append((h, args.batch, t_index, t_inc, n_inc, t_full, n_full))
            print(f"history={h}: index {t_index:.1f}s, "
                  f"incremental {t_inc:.1f}s ({n_inc} pairs), "
                  f"full {t_full:.1f}s ({n_full} pairs)", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    lines = [
        "# BENCH/INCREMENTAL.md — incremental vs full re-dedup",
        "",
        f"Generated {stamp} by `python BENCH/run_incremental.py "
        f"--history {' '.join(map(str, args.history))} --batch {args.batch}`.",
        "",
        "Deterministic synthetic corpus (30 hash-chosen words/doc, 1%",
        "exact-dup mass), local[32].  `index` is the one-time cost of",
        "banding the history (paid once, amortized over every later",
        "ingest); `incremental` is what each ingest of a new batch",
        "costs against the persisted index; `full re-dedup` is the same",
        "batch handled WITHOUT an index (re-shingle + re-hash + self-join",
        "of the whole corpus).  The claim under test: incremental cost",
        "tracks the batch, full cost tracks the corpus.",
        "",
        "| history docs | batch docs | index build (s) | incremental (s) | inc pairs | full re-dedup (s) | full pairs |",
        "|---|---|---|---|---|---|---|",
    ]
    for h, b, ti, tc, nc, tf, nf in rows:
        lines.append(
            f"| {h:,} | {b:,} | {ti:.1f} | {tc:.1f} | {nc:,} | {tf:.1f} | {nf:,} |"
        )
    if len(rows) >= 2:
        (h1, _, _, tc1, _, tf1, _), (h2, _, _, tc2, _, tf2, _) = rows[0], rows[-1]
        lines += [
            "",
            f"Corpus grew {h2 / h1:.0f}×: incremental ingest went "
            f"{tc2 / tc1:.2f}× (≈flat — it reads only the band index), "
            f"full re-dedup went {tf2 / tf1:.2f}× (tracks the corpus).",
        ]
    lines.append("")
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
