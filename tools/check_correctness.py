"""Local mirror of the driver's DuckDB-oracle correctness gate —
deliberately STRICTER than the driver.

Round-1 lesson: the driver hashes cell values with their types and
full float precision, so a local pass with 9-significant-digit float
rounding did NOT guarantee a driver pass (``user_sessionization``,
``curation_summary``).  This checker now compares

* row count and column names,
* **arrow-level column types** (catches DuckDB HUGEINT vs Spark BIGINT,
  decimal vs double, ...),
* an order-insensitive value multiset with **exact** float repr
  (every bit of the double matters).

Usage::

    python tools/check_correctness.py [sf_dir] [query ...]

With ``SPARK_GRAFT_WAREHOUSE_DIR`` unset, the run builds every artifact
it reads in a fresh temporary warehouse, removed at exit, so the sweep
checks the artifact builders of this tree rather than trusting files
that another tree built.
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# pandas-UDF workers import the package too, and they see PYTHONPATH,
# not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def normalize_cell(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"  # exact shortest-roundtrip repr — full precision
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def row_multiset(cols: list[str], rows: list[tuple]) -> list[str]:
    """Order-insensitive fingerprint: sort columns by name, render
    each row, sort rows (mirrors the driver's compare contract)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(normalize_cell(r[i]) for i in order) for r in rows)


def _type_class(arrow_type) -> str:
    """Collapse an arrow type to the class the driver's hash would
    distinguish.  int64 vs int32 both arrive as Python ints, so they
    hash the same — but DuckDB HUGEINT arrives as int128/decimal via
    arrow and (per round 1) hashes differently, as do decimal/double."""
    import pyarrow as pa

    t = arrow_type
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        # int128 (hugeint) is surfaced as decimal128 by duckdb's arrow
        # export, so any integer type that survives to here is fine.
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_type_class(t.value_type)}>"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    return str(t)


def _arrow_type_map(schema) -> dict[str, str]:
    return {f.name: _type_class(f.type) for f in schema}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import atexit
    import shutil
    import tempfile

    import duckdb
    from pyspark.sql.pandas.types import to_arrow_schema

    import __spark_entry__ as entry_mod
    from tableau_dashboard_performance_etl_automation_spark.session import (
        ENV_WAREHOUSE_DIR,
        get_spark,
    )

    if not os.environ.get(ENV_WAREHOUSE_DIR):
        os.environ[ENV_WAREHOUSE_DIR] = tempfile.mkdtemp(prefix="tdpe-check-")
        atexit.register(shutil.rmtree, os.environ[ENV_WAREHOUSE_DIR], True)
    spark = get_spark("check-correctness")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        # driver testdata ships single .parquet FILES; ladder corpora
        # are Spark-written DIRECTORIES — glob those for DuckDB
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    checked = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # the arrow schema toArrow() would cast to, without running
            # the query a second time: collect() is the one action
            sschema = to_arrow_schema(sdf.schema)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"PASS {name}: rows-only check, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = res.columns
            # the result's arrow types from a LIMIT 0 run of the
            # oracle, not a second full run
            oschema = res.limit(0).arrow().schema
            orows = [tuple(r) for r in res.fetchall()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {exc}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            stypes, otypes = _arrow_type_map(sschema), _arrow_type_map(oschema)
            bad = {
                c: (stypes[c], otypes[c])
                for c in scols
                if stypes.get(c) != otypes.get(c)
            }
            if bad:
                problems.append(f"column type class mismatch: {bad}")
        if not problems:
            sm, om = row_multiset(scols, srows), row_multiset(ocols, orows)
            if sm != om:
                diffs = [
                    (a, b) for a, b in zip(sm, om) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{checked - len(failures)}/{checked} pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
