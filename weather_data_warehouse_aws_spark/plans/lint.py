"""Plan linter: the ".explain() and iterate" discipline as a reusable tool.

SCALE.md's rules — no cartesians, broadcast the small side, keep Python off
the hot path, push filters into scans, never window over an unpartitioned
full table — are enforced for the registry by tests/test_plans.py. A user
writing NEW queries against this engine gets the same checks here, as a
library call (`lint_plan(df)`) or from the shell
(`python -m weather_data_warehouse_aws_spark lint <query-name>`).

Each finding is (level, code, message): level "error" marks shapes that
melt down at scale regardless of data (cartesian products, row-at-a-time
Python); "warn" marks shapes that are sometimes legitimate but deserve a
look (BNLJ, single-partition exchanges, unpushed scan filters, unsized
RDD leaves); "info" is plan inventory (join/exchange counts). The linter
reads the physical plan and the optimized logical plan's size statistics
only — it never executes the query.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame

from .inspect import physical_plan, pushed_filters


#: Catalyst's "size unknown" statistic (Long.MaxValue bytes)
_UNKNOWN_SIZE = 2**63 - 1


def _unsized_rdd_leaves(df: DataFrame) -> int:
    """LogicalRDD leaves of the optimized plan whose size statistic is
    unknown — what `createDataFrame(list)` builds (a parallelized Python
    RDD); a checkpoint of a sized plan keeps the plan's statistics."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    n = 0
    while leaves.hasNext():
        leaf = leaves.next()
        if (leaf.nodeName() == "LogicalRDD"
                and int(leaf.stats().sizeInBytes()) >= _UNKNOWN_SIZE):
            n += 1
    return n


class Finding(NamedTuple):
    level: str  # "error" | "warn" | "info"
    code: str
    message: str


def lint_plan(df: DataFrame) -> list[Finding]:
    """Lint a DataFrame's physical plan for shapes that break at scale."""
    plan = physical_plan(df, "formatted")
    simple = physical_plan(df, "simple")
    out: list[Finding] = []

    if "CartesianProduct" in plan:
        out.append(Finding(
            "error", "cartesian",
            "CartesianProduct in plan: |L|x|R| pairs will be materialized. "
            "Derive an equi-key (bucket, block, band, LSH) and join on it.",
        ))
    if "BatchEvalPython" in plan:
        out.append(Finding(
            "error", "python-row-udf",
            "Row-at-a-time Python UDF (BatchEvalPython) on the data path: "
            "10-100x slower than Arrow. Use pandas_udf / mapInPandas, or "
            "better, built-in functions.",
        ))
    if "BroadcastNestedLoopJoin" in plan:
        out.append(Finding(
            "warn", "bnlj",
            "BroadcastNestedLoopJoin: a non-equi join condition fell back "
            "to nested loops. Fine against a broadcast-small side "
            "(1-row stats, tiny dims); anything larger needs an equi-key "
            "rewrite (see operators/band_join.py, interval_join.py).",
        ))
    n_single = simple.count("Exchange SinglePartition")
    if n_single:
        out.append(Finding(
            "warn", "single-partition",
            f"{n_single} Exchange SinglePartition: a global window/sort/agg "
            "funnels everything through ONE task. Legitimate over post-agg "
            "micro-relations; fatal over raw tables. Partition the window "
            "or pre-aggregate first.",
        ))
    # scan-level filter pushdown: a Filter NODE exists, the plan scans
    # parquet, and no scan pushed anything beyond IsNotNull — the signature
    # of a predicate over a derived/cast column the scan can't skip on.
    # (An empty PushedFilters list renders as no line at all, and any
    # raw-column predicate pushes at least IsNotNull, so both the
    # "no lines" and the "IsNotNull-only" shapes mean nothing useful
    # reached the scan.)
    has_filter_node = bool(re.search(r"\(\d+\) Filter\b", plan))
    has_parquet_scan = "Scan parquet" in plan
    pf_terms = [t.strip() for p in pushed_filters(plan) for t in p.split(",")]
    useful_pushed = any(t and not t.startswith("IsNotNull") for t in pf_terms)
    if has_filter_node and has_parquet_scan and not useful_pushed:
        out.append(Finding(
            "warn", "no-pushdown",
            "The plan filters above parquet scans but nothing beyond "
            "IsNotNull reached any scan: the predicate is likely over a "
            "derived/cast column. Filter on raw columns where possible so "
            "the scan skips row groups.",
        ))
    n_unsized = _unsized_rdd_leaves(df)
    if n_unsized:
        out.append(Finding(
            "warn", "unsized-rdd",
            f"{n_unsized} LogicalRDD leaf/leaves of unknown size: the planner "
            "can never broadcast them, and an RDD parallelized from Python "
            "(createDataFrame(list)) starts Python workers on every scan. "
            "Build small driver-side results from a pyarrow table "
            "(spark.createDataFrame(pa.Table, schema) plans as a sized "
            "LocalTableScan).",
        ))
    for op, code in (("SortMergeJoin", "smj"), ("BroadcastHashJoin", "bhj"),
                     ("Exchange", "exchange")):
        # \b keeps "Exchange" from matching inside "BroadcastExchange"
        n = len(re.findall(rf"\b{op}\b", simple))
        if n:
            out.append(Finding("info", code, f"{n}x {op}"))
    return out


def lint_report(df: DataFrame) -> str:
    """Human-readable lint output, worst first."""
    order = {"error": 0, "warn": 1, "info": 2}
    finds = sorted(lint_plan(df), key=lambda f: order[f.level])
    if not finds:
        return "plan clean: no findings"
    return "\n".join(f"[{f.level:5s}] {f.code}: {f.message}" for f in finds)
