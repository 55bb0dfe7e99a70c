"""Physical-plan audit: one row per registered query summarizing the
scale-critical plan properties — shuffle count, broadcast joins,
cartesian products, Python stages, range sorts, scans, and pushed
filters.

Writes PLANS.md (markdown table + flagged anomalies). This is the
evidence artifact for "would this plan survive 100×": anything with a
cartesian product, a row-at-a-time Python stage, or an unpartitioned
global window over raw data shows up here rather than in a prod
incident. Usage:

    python tools/plan_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# pandas-UDF workers import the package too, and they see PYTHONPATH,
# not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import __spark_entry__ as entry_mod  # noqa: E402

from tableau_dashboard_performance_etl_automation_spark.plans import (  # noqa: E402
    PYTHON_NODES,
    formatted_plan,
    has_broadcast_hash_join,
    has_cartesian_product,
    pushed_filters,
    range_exchanges,
    shuffle_count,
)
from tableau_dashboard_performance_etl_automation_spark.session import get_spark  # noqa: E402


def audit(sf_dir: str, out_md: str) -> int:
    spark = get_spark("tdpe-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    flagged = []
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        plan = formatted_plan(df)
        n_shuffles = shuffle_count(df)
        bcast = has_broadcast_hash_join(df) or "BroadcastNestedLoopJoin" in plan
        cartesian = has_cartesian_product(df)
        python_stages = sum(plan.count(tag) for tag in PYTHON_NODES)
        row_python = plan.count("BatchEvalPython")
        ranges = range_exchanges(df)
        n_scans = plan.count("Location: InMemoryFileIndex")
        pushed = len(pushed_filters(df))
        # a plan that scans no file but driver-built rows
        # (createDataFrame over values the build collected) is OPAQUE
        # to this audit — the stages that produced those rows don't
        # appear in the final plan, so an all-zero row must be labeled
        # as unaudited-upstream rather than read as "zero shuffles at
        # scale" (plan contracts in tests/test_plans cover the upstream
        # shapes of those operators)
        opaque = int(
            n_scans == 0
            and ("ExistingRDD" in plan or "LocalTableScan" in plan)
        )
        rows.append(
            (name, n_shuffles, int(bcast), int(cartesian), python_stages,
             len(ranges), n_scans, pushed, opaque)
        )
        if cartesian:
            # the only sanctioned cross joins are 1-row broadcast
            # anchors/totals; those compile to BroadcastNestedLoopJoin
            # with a 1-row build side, not CartesianProduct
            flagged.append(f"- `{name}`: CartesianProduct in plan")
        if row_python:
            flagged.append(f"- `{name}`: row-at-a-time BatchEvalPython stage")
        if any(ranges):
            # the range bounds come from a sampling job over the input
            # stage, so its Python UDF runs twice
            flagged.append(f"- `{name}`: range exchange re-runs a Python stage")
    lines = [
        "# PLANS — per-query physical-plan audit",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Columns:",
        "shuffle exchanges in the final plan, broadcast join present,",
        "cartesian product present (must be 0 everywhere), Python",
        "stages (Arrow-batched only — row-at-a-time BatchEvalPython is",
        "a flag), range sorts (range-partitioning exchanges: each runs",
        "a sampling job over its input stage; a Python stage there is",
        "a flag), parquet scans, pushed parquet filters, and OPAQUE —",
        "the final plan reads no file, only driver-built rows, so the",
        "upstream stages are invisible here (their shapes are pinned by",
        "plan contracts in tests/test_plans.py instead).",
        "",
        "| query | shuffles | bcast | cartesian | py stages | range sorts | scans | pushed filters | opaque |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, sh, bc, ca, py, rs, sc, pu, op in rows:
        lines.append(
            f"| {name} | {sh} | {bc} | {ca} | {py} | {rs} | {sc} | {pu} | {op} |"
        )
    lines.append("")
    if flagged:
        lines.append("## Flags")
        lines.extend(flagged)
    else:
        lines.append(
            "## Flags\n\nNone: no cartesian products, no row-at-a-time "
            "Python stages and no range exchange over a Python stage in "
            "any registered query plan."
        )
    lines.append("")
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"{len(rows)} plans audited, {len(flagged)} flags -> {out_md}")
    spark.stop()
    return len(flagged)


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    raise SystemExit(1 if audit(sf, out) else 0)
