"""Dump ``explain("formatted")`` for named queries to files.

Usage::

    python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` with the formatted physical
plan at the bench scale factor (sf0.1 by default, override with
``SPARK_GRAFT_SF_DIR``). Used to record the before/after plan evidence
for optimization rounds (``plans/r11/...``).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# pandas-UDF workers import the package too, and they see PYTHONPATH,
# not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod
    from tableau_dashboard_performance_etl_automation_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        text = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} ({suffix}) at {sf_dir} ==\n")
            fh.write(text)
        print("wrote", path)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
