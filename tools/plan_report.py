"""Generate PLANS.md: physical-plan evidence for every driver-contract
query — exchange counts, join strategies, scan pruning, pushed filters.

Usage: python tools/plan_report.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod  # noqa: E402
from medea_spark.corpus import corpus_schema_graph, generate_corpus  # noqa: E402
from medea_spark.engine import validate_table  # noqa: E402
from medea_spark.engine.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"


def describe(df) -> dict:
    p = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": p.count("Exchange"),
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "sortmerge_joins": p.count("SortMergeJoin"),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", p))),
        "read_schemas": re.findall(r"ReadSchema: struct<([^>]*)>", p),
        "pushed": [f for f in re.findall(r"PushedFilters: \[([^\]]*)\]", p) if f],
        "cache_refs": p.count("InMemoryTableScan"),
    }


def main() -> None:
    spark = get_spark(app_name="plan-report", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS.md — physical-plan evidence (generated by tools/plan_report.py)",
        "",
        "Per driver-contract query: exchange count (each is a shuffle),",
        "join strategies, whole-stage-codegen span count, scan column",
        "pruning (ReadSchema) and pushed filters, at sf0.01.",
        "",
        "| query | exchanges | BHJ | SMJ | codegen spans | scan columns (pruned) | pushed filters |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, fn in entrymod.queries().items():
        try:
            d = describe(fn(spark, SF))
        except Exception as exc:  # noqa: BLE001
            lines.append(f"| {name} | ERROR: {exc} | | | | | |")
            continue
        scans = "<br>".join(s[:60] for s in d["read_schemas"][:3]) or "—"
        pushed = "<br>".join(s[:60] for s in d["pushed"][:3]) or "—"
        cached = f" ({d['cache_refs']} cache refs)" if d["cache_refs"] else ""
        lines.append(
            f"| {name} | {d['exchanges']}{cached} | {d['broadcast_joins']} | "
            f"{d['sortmerge_joins']} | {d['codegen_spans']} | {scans} | {pushed} |"
        )

    # The core validation pipeline plans.
    df = generate_corpus(spark, 1000)
    run = validate_table(df, corpus_schema_graph(), num_partitions=8)
    for label, d in [
        ("validate_table.summary (shuffle-free default)", describe(run.summary)),
        ("validate_table.violations", describe(run.violations)),
    ]:
        lines.append(
            f"| {label} | {d['exchanges']} | {d['broadcast_joins']} | "
            f"{d['sortmerge_joins']} | {d['codegen_spans']} | — | — |"
        )
    lines += [
        "",
        "Notes:",
        "- rows marked `(N cache refs)` persist() a shared relation: the",
        "  plan PRINTER re-prints the cached child (its scan and exchanges)",
        "  once per InMemoryTableScan reference, so the exchange/ReadSchema",
        "  counts on those rows double-count — at runtime the cached",
        "  subtree computes ONCE and later references read the cache.",
        "- `medea_validate_rows` and `validate_table.violations` run with",
        "  **zero exchanges**: scan → Arrow kernel UDF → project/explode.",
        "  The content bytes never shuffle; per-partition summaries exchange",
        "  only map-side-combined aggregate rows (1 exchange).",
        "- `ri_orphans` is a BroadcastHashJoin LeftAnti — the fact table",
        "  streams; only the dim key set broadcasts.",
        "- `dup_keys_events` shows the salted two-phase aggregation (one",
        "  extra exchange by design, protecting against hot keys).",
        "- every parquet scan is column-pruned to exactly the referenced",
        "  columns, with filters pushed to the scan where applicable.",
    ]
    with open(ROOT / "PLANS.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
