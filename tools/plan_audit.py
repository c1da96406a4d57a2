"""Plan auditor: dump + sanity-grade the physical plans of the headline
queries into PLANS.md.

For each headline query this records the operator skeleton of the executed
plan plus the scan-health signals (PushedFilters / ReadSchema width), and
flags smells: cartesian products, row-at-a-time Python evaluation
(BatchEvalPython), and InMemoryRelation-free repeated subtrees. Run after
any optimizer-relevant change:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_etl_self_service_spark import get_spark
from data_engineering_etl_self_service_spark.queries import PLAN_VIEWS, QUERIES

from bench import HEADLINE

SMELLS = ("CartesianProduct", "BatchEvalPython")
INTERESTING = (
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "Sort",
    "TakeOrderedAndProject",
    "ReusedExchange",
    "InMemoryTableScan",
    "Scan parquet",
    "MapInArrow",
)


def audit(sf_dir: str) -> str:
    spark = get_spark(app_name="plan-audit")
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Operator counts",
        "are from the formatted explain of the UNEXECUTED plan (pre-AQE);",
        "AQE may further coalesce exchanges at runtime.",
        "",
    ]
    for name in HEADLINE:
        # PLAN_VIEWS: plan-transparent twin for queries that localCheckpoint
        # (and so would otherwise explain as an opaque ExistingRDD scan)
        df = PLAN_VIEWS.get(name, QUERIES[name])(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(jvm_mode)
        counts = {
            op: len(re.findall(rf"^\(\d+\) {re.escape(op)}", plan, flags=re.M))
            for op in INTERESTING
        }
        counts = {k: v for k, v in counts.items() if v}
        smells = [s for s in SMELLS if s in plan]
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        n_pushed = sum(1 for p in pushed for _ in p.split(",") if _.strip())
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widths = [len(s.split(",")) for s in schemas if s]
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            "- operators: "
            + ", ".join(f"{k}×{v}" for k, v in sorted(counts.items()))
        )
        lines.append(
            f"- scans: {len(schemas)}; pushed filter predicates: {n_pushed}; "
            f"read-schema widths: {widths}"
        )
        lines.append(
            "- smells: " + (", ".join(smells) if smells else "none")
        )
        lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    report = audit(sf_dir)
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(out, "w") as f:
        f.write(report + "\n")
    print(report)
