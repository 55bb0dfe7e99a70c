"""The engine session's construction-side defaults."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled

from tableau_dashboard_performance_etl_automation_spark.operators import tabjolt


def test_dataframe_call_site_capture_is_off(spark, sf_dir):
    """``get_spark`` turns off PySpark's DataFrame call-site capture,
    which costs a stack walk and py4j round trips per expression call
    while a query is built."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    tabjolt.q_regressions(spark, sf_dir)
    assert is_debugging_enabled() is False
