"""Queries registered as their SQL text (``catalog.sql_query``): Spark
and the DuckDB oracle run one text, with its ``{table}`` placeholders
bound per call on Spark and rendered as plain table names on DuckDB.
The degenerate corpora also check ``order_last_shippers``, a builder
that decides ties with one aggregate where its oracle joins
per-supplier maxima.
"""

from __future__ import annotations

import datetime
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

#: Builders whose oracle is an independent text, checked on the same
#: degenerate corpora as the text-built queries.
DEGENERATE_CHECKED = TEXT_BUILT + ["order_last_shippers"]


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


@pytest.mark.parametrize("name", DEGENERATE_CHECKED)
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


@pytest.mark.parametrize("name", DEGENERATE_CHECKED)
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


#: Small ``lineitem`` corpora for ``order_last_shippers``, one per rule
#: its one-aggregate form decides without the oracle's per-supplier join:
#: ``(order, supplier, ship day)`` rows, and the ``(s_name, n_orders)``
#: rows both engines must return. Each corpus keeps one order whose
#: laggard counts, so an empty result cannot pass.
LAST_SHIPPER_CASES = {
    # suppliers 1 and 2 both ship last on day 2: no unique laggard
    "ship_date_tie": (
        [(1, 1, 2), (1, 2, 2), (1, 3, 1), (2, 1, 1), (2, 2, 3)],
        [("S2", 1)],
    ),
    # a NULL supplier tied last blocks the laggard; a NULL supplier is a
    # second supplier; a NULL supplier shipping last is no laggard
    "tie_with_null_supplier": (
        [(1, 1, 3), (1, None, 3), (2, None, 1), (2, 3, 2), (3, None, 4),
         (3, 1, 2)],
        [("S3", 1)],
    ),
    # a supplier with no ship date still counts as a supplier and never
    # ships last; an order with no ship date has no laggard
    "null_ship_date": (
        [(1, 1, 1), (1, 2, None), (2, 1, None), (2, 2, None), (3, 1, 1),
         (3, 2, None), (3, 2, 2)],
        [("S1", 1), ("S2", 1)],
    ),
    # one supplier, one NULL supplier or one line per order: no laggard;
    # lines without an order key are no order
    "one_supplier_per_order": (
        [(1, 1, 1), (1, 1, 2), (2, 2, 1), (3, None, 1), (3, None, 2),
         (4, 1, 1), (4, 3, 2), (None, 1, 1), (None, 2, 2)],
        [("S3", 1)],
    ),
}


@pytest.mark.parametrize("case", sorted(LAST_SHIPPER_CASES))
def test_order_last_shippers_decides_like_oracle(spark, sf_dir, tmp_path, case):
    """Ship-date ties, NULL suppliers, NULL ship dates and single-supplier
    orders: the one-aggregate builder and its oracle text name the same
    laggards."""
    lines, expected = LAST_SHIPPER_CASES[case]
    for table in TABLES:
        if table not in ("lineitem", "supplier"):
            os.symlink(f"{sf_dir}/{table}.parquet", tmp_path / f"{table}.parquet")
    day0 = datetime.datetime(2000, 1, 1)
    li_schema = pq.read_schema(f"{sf_dir}/lineitem.parquet")
    columns = {
        "l_orderkey": [o for o, _, _ in lines],
        "l_suppkey": [s for _, s, _ in lines],
        "l_shipdate": [
            None if d is None else day0 + datetime.timedelta(days=d)
            for _, _, d in lines
        ],
    }
    pq.write_table(
        pa.table(
            [
                pa.array(columns.get(f.name, [None] * len(lines)), f.type)
                for f in li_schema
            ],
            schema=li_schema,
        ),
        tmp_path / "lineitem.parquet",
    )
    supp_schema = pq.read_schema(f"{sf_dir}/supplier.parquet")
    supp = {"s_suppkey": [1, 2, 3], "s_name": ["S1", "S2", "S3"]}
    pq.write_table(
        pa.table(
            [pa.array(supp.get(f.name, [None] * 3), f.type) for f in supp_schema],
            schema=supp_schema,
        ),
        tmp_path / "supplier.parquet",
    )
    got = entry.queries()["order_last_shippers"](spark, str(tmp_path))
    assert [tuple(r) for r in got.collect()] == expected
    assert _spark_rows(got) == _oracle_rows(str(tmp_path), "order_last_shippers")
