#!/usr/bin/env python
"""Generate PLANS.md: per-query physical-plan facts from the plan auditor.

Run from the repo root:  python scripts/plan_report.py [sf_dir]

The table answers, for every declared query, the questions that matter at
cluster scale: how many shuffles, which joins broadcast, did predicates
reach the scan, is top-k bounded. Regenerate after planner-affecting
changes; tests/test_plan_audit.py asserts the invariants that must not
regress.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

from nano_vectordb_rs_spark.plans import audit_plan  # noqa: E402
from nano_vectordb_rs_spark.session import get_spark  # noqa: E402

SKIP = {"ann_recall"}  # driver-side composition of three audited plans


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    lines = [
        "# PLANS — physical-plan audit of every declared query",
        "",
        f"Generated by `scripts/plan_report.py` at `{sf_dir}` "
        "(pre-execution AQE plans; see `nano_vectordb_rs_spark/plans/audit.py`).",
        "",
        "Columns: shuffles = hash/range/single-partition Exchange count; "
        "bcast = broadcast joins; smj = sort-merge joins; rr = "
        "RoundRobinPartitioning Exchanges (keyless spreads, not in "
        "shuffles); topk = TakeOrderedAndProject (bounded per-partition "
        "top-k); pushed = predicates reaching the Parquet scan.",
        "",
        "| query | shuffles | bcast | smj | rr | topk | pushed filters |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in sorted(queries):
        if name in SKIP:
            continue
        a = audit_plan(queries[name](spark, sf_dir))
        pushed = "; ".join(a["pushed_filters"])[:90] or "—"
        lines.append(
            f"| {name} | {a['n_shuffles']} | {a['n_broadcast_joins']} "
            f"| {a['n_sort_merge_joins']} | {a['n_round_robin']} "
            f"| {'✓' if a['has_take_ordered'] else ''} "
            f"| {pushed} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines) - 7} queries)")


if __name__ == "__main__":
    main()
