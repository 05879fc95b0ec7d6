"""Physical-plan audit: machine-checkable scale invariants.

The 100 TB design claims in this repo are statements about physical plans —
"this join broadcasts", "this filter reaches the scan", "top-k never global
sorts". This module turns those claims into assertions a test can make, by
parsing the executed (post-AQE) plan string:

- ``n_shuffles``      : hash/range/single-partition Exchange operators
                        (each is a full data shuffle)
- ``n_round_robin``   : RoundRobinPartitioning Exchanges (keyless spreads),
                        kept apart so existing ``n_shuffles`` bounds keep
                        their meaning
- ``n_broadcasts``    : BroadcastExchange / BroadcastHashJoin build sides
- ``has_take_ordered``: TakeOrderedAndProject present (bounded top-k, the
                        distributed twin of the reference's capped heap,
                        /root/reference/src/lib.rs:217-242)
- ``pushed_filters``  : Parquet PushedFilters content (predicate pushdown)
- ``has_partition_filters``: partition pruning engaged
- ``n_sort_merge_joins`` / ``n_nested_loop_joins``: join strategy census
- ``codegen_stages``  : WholeStageCodegen span count (JVM-side execution)

Plan strings are stable enough across Spark 3.5/4.x for these keyword-level
checks; anything finer (operator trees) would be version-brittle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    """The executed physical plan (AQE-final where available).

    Scan-node metadata (PushedFilters/DataFilters) is truncated to 100 chars
    by default, which cuts filter lists mid-element; raise the limit while
    rendering so the audit sees complete lists."""
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    old = conf.get(key, None)
    conf.set(key, "100000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # a finalized AdaptiveSparkPlan appends "== Initial Plan ==" — keep
        # only the final plan or every operator would be counted twice
        return plan.split("== Initial Plan ==")[0]
    finally:
        if old is not None:
            conf.set(key, old)
        else:
            conf.unset(key)


def audit_plan(df: DataFrame) -> dict:
    plan = plan_string(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "n_shuffles": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "n_round_robin": len(re.findall(r"Exchange RoundRobinPartitioning", plan)),
        "n_broadcasts": plan.count("BroadcastExchange"),
        "n_broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "n_sort_merge_joins": plan.count("SortMergeJoin"),
        "n_nested_loop_joins": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        "has_take_ordered": "TakeOrderedAndProject" in plan,
        "pushed_filters": [p for p in pushed if p.strip()],
        "has_partition_filters": bool(
            re.search(r"PartitionFilters: \[[^\]]+\]", plan)
        ),
        # codegen'd operators carry a "*(n)" stage prefix in toString() output
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
    }
