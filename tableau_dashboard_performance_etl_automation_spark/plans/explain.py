"""Physical-plan inspection helpers.

The scale contract of every operator ("dimension joins broadcast",
"filters reach the parquet scan", "no accidental cartesian product")
is asserted in tests via these helpers rather than trusted from code
review — plan regressions fail CI the same way wrong results do.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_cartesian_product(df: DataFrame) -> bool:
    """True for a real cartesian product node. (A 1-row broadcast
    anchor appears as BroadcastNestedLoopJoin and is fine; an actual
    CartesianProduct over two big sides is the scale killer.)"""
    return "CartesianProduct" in formatted_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange nodes (shuffles) in the physical plan: one per
    node's details header, so a node's tree line does not count it
    twice, and broadcasts (``BroadcastExchange``) do not count."""
    return len(re.findall(r"^\(\d+\) Exchange$", formatted_plan(df), re.M))


#: Physical nodes that run Python code (pandas UDFs and row-at-a-time UDFs).
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)

#: A node of the formatted plan's tree: indent and branch marks, name, (id).
_TREE_LINE = re.compile(
    r"^(?P<pre>[ :+\-*]*)(?P<name>[A-Za-z][\w .]*?) \((?P<id>\d+)\)$"
)
#: An Exchange's details section: its id and its partitioning kind.
_ARGS = re.compile(r"^\((\d+)\) Exchange\n(?:.*\n)*?Arguments: (\w+)", re.M)


def range_exchanges(df: DataFrame) -> list[bool]:
    """One entry per range-partitioning Exchange in the physical plan:
    True when the stage feeding it runs a Python node.

    Spark plans a global sort as a range exchange, whose bounds come
    from a sampling job over that input stage, so the stage runs twice;
    with a Python node in it, the UDF runs twice too."""
    plan = formatted_plan(df)
    kinds = {int(i): kind for i, kind in _ARGS.findall(plan)}
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    stack: list[tuple[int, int]] = []  # (column, node id) of open ancestors
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        if m is None:
            continue
        col, node = len(m["pre"]), int(m["id"])
        names[node] = m["name"].strip()
        while stack and stack[-1][0] >= col:
            stack.pop()
        if stack:
            children.setdefault(stack[-1][1], []).append(node)
        stack.append((col, node))

    def runs_python(node: int) -> bool:
        for child in children.get(node, []):
            name = names[child]
            if name.startswith(PYTHON_NODES):
                return True
            if not name.endswith(("Exchange", "QueryStage")) and runs_python(child):
                return True
        return False

    return [
        runs_python(node)
        for node, name in names.items()
        if name == "Exchange" and kinds.get(node) == "rangepartitioning"
    ]


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists that reached a parquet scan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))
