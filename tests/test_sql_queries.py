"""Queries registered as their SQL text (``catalog.sql_query``): Spark
and the DuckDB oracle run one text, with its ``{table}`` placeholders
bound per call on Spark and rendered as plain table names on DuckDB.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
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


def _kept_when_null(column: str) -> bool:
    """The columns the all-NULL corpus keeps: the event time and the
    keys that join the tables."""
    return column == "ts" or column.endswith("key") or column.endswith("_id")


@pytest.fixture(scope="module")
def all_null_dir(sf_dir, tmp_path_factory):
    """The sf0.001 tables with every column NULL except ``ts`` and the
    ``*key`` / ``*_id`` columns, so joins and time buckets still find
    rows while every measure, label and filter column is NULL."""
    out = tmp_path_factory.mktemp("all-null-tables")
    for table in TABLES:
        data = pq.read_table(f"{sf_dir}/{table}.parquet")
        columns = [
            col if _kept_when_null(field.name) else pa.nulls(len(col), field.type)
            for field, col in zip(data.schema, data.columns)
        ]
        pq.write_table(pa.table(columns, schema=data.schema), out / f"{table}.parquet")
    return str(out)


@pytest.mark.parametrize("name", TEXT_BUILT)
def test_text_on_all_null_columns_matches_oracle(spark, all_null_dir, name):
    """With every non-key column NULL, Spark and DuckDB return the same
    rows: NULL groups, NULL aggregates and dropped join keys agree."""
    got = entry.queries()[name](spark, all_null_dir)
    assert _spark_rows(got) == _oracle_rows(all_null_dir, name)


def test_nation_trade_flows_matches_oracle_where_trade_exists(spark, sf_dir):
    """``nation_trade_flows`` returns no rows at sf0.001 (no NATION_1 ↔
    NATION_2 trade there), so the smoke corpus checks none of its
    arithmetic. At sf0.01 it returns 14 rows, which must equal DuckDB's
    rows for the same text (its ``oracle_text`` rendering)."""
    name = "nation_trade_flows"
    larger_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    got = _spark_rows(entry.queries()[name](spark, larger_dir))
    assert len(got) == 14
    assert got == _oracle_rows(larger_dir, name)
