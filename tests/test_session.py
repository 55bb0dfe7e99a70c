"""The engine session's construction-side defaults."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.errors.utils import is_debugging_enabled

import tableau_dashboard_performance_etl_automation_spark as package
from tableau_dashboard_performance_etl_automation_spark.operators import tabjolt


def test_dataframe_call_site_capture_is_off(spark, sf_dir):
    """``get_spark`` turns off PySpark's DataFrame call-site capture,
    which costs a stack walk and py4j round trips per expression call
    while a query is built."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    tabjolt.q_regressions(spark, sf_dir)
    assert is_debugging_enabled() is False


def test_only_session_reads_the_environment():
    """``session.py`` is the one module that reads environment
    variables, so no operator can pick its code path from an env knob
    that only a test sets."""
    root = Path(package.__file__).parent
    readers = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel == Path("session.py"):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                names = [alias.name for alias in node.names]
            else:
                continue
            if {"environ", "getenv"} & set(names):
                readers.append(f"{rel}:{node.lineno}")
    assert readers == []
