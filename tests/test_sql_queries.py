"""Queries registered as their SQL text (``catalog.sql_query``): Spark
and the DuckDB oracle run one text, with its ``{table}`` placeholders
bound per call on Spark and rendered as plain table names on DuckDB.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from tableau_dashboard_performance_etl_automation_spark.catalog import TABLES
from tools.check_correctness import row_multiset

#: Every text-built query, by name.
TEXT_BUILT = sorted(
    name for name, build in entry.queries().items() if hasattr(build, "sql_text")
)


def _oracle_rows(sf_dir: str, name: str) -> list[str]:
    con = duckdb.connect()
    for table in TABLES:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
    res = con.sql(entry.oracle_sql()[name])
    return row_multiset(res.columns, res.fetchall())


def _spark_rows(df) -> list[str]:
    return row_multiset(df.columns, [tuple(r) for r in df.collect()])


def test_text_binding_is_per_call(spark, sf_dir):
    """One text built against two corpora in one session: each frame
    reads its own tables, and the session catalog is left as it was
    (no view named after a table outlives the build)."""
    name = "important_parts_value"
    build = entry.queries()[name]
    larger_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    before = sorted(t.name for t in spark.catalog.listTables())
    small = build(spark, sf_dir)
    large = build(spark, larger_dir)
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    small_rows, large_rows = _spark_rows(small), _spark_rows(large)
    assert small_rows != large_rows
    assert small_rows == _oracle_rows(sf_dir, name)
    assert large_rows == _oracle_rows(larger_dir, name)


@pytest.fixture(scope="module")
def empty_dir(sf_dir, tmp_path_factory):
    """The sf0.001 tables with their schemas and no rows."""
    out = tmp_path_factory.mktemp("empty-tables")
    for table in TABLES:
        src = f"{sf_dir}/{table}.parquet"
        pq.write_table(pq.read_schema(src).empty_table(), out / f"{table}.parquet")
    return str(out)


@pytest.mark.parametrize("name", TEXT_BUILT)
def test_text_on_empty_tables_matches_oracle(spark, empty_dir, name):
    """With every table empty, Spark and DuckDB return the same rows:
    an empty result, or the one row per edge or class of zero counts
    that a global aggregate returns."""
    got = entry.queries()[name](spark, empty_dir)
    assert _spark_rows(got) == _oracle_rows(empty_dir, name)
