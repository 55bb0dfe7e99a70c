"""Connected-components contracts: one min-id label per component,
also on a long chain, whose diameter would need hundreds of rounds of
label propagation. Also PageRank on a tiny edge list, and the
iterative queries on empty input tables.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from tableau_dashboard_performance_etl_automation_spark.catalog import TABLES
from tableau_dashboard_performance_etl_automation_spark.operators.clustering import (
    connected_components,
)
from tools.check_correctness import row_multiset


def test_long_chain_converges_via_pointer_jumping(spark):
    """A 300-edge path graph has diameter 300, the worst case for
    round-based label propagation: every node gets the one label 0."""
    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    labels = connected_components(edges)
    rows = labels.collect()
    assert len(rows) == n + 1
    assert {r.cluster_id for r in rows} == {0}


def test_two_components_stay_separate(spark):
    """Nodes of different components never share a label, and each
    label is its component's minimum id."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_pagerank_conserves_unit_mass_with_dangling_node():
    """Integer flooring only LOSES mass, and a dangling node's rank is
    spread over every node rather than dropped: total rank stays
    within the flooring slack of PR_UNIT and every rank is positive."""
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering as cl

    # node 5 has no out-edges
    edges = [(1, 2, 10), (2, 3, 5), (3, 1, 1), (1, 3, 4), (4, 1, 7), (2, 5, 3)]
    ranks = cl._pagerank(edges)
    assert set(ranks) == {1, 2, 3, 4, 5}
    assert all(v > 0 for v in ranks.values())
    n = len(ranks)
    # < 1 unit per node at the start, then per round < 1 per edge
    # contribution, per node teleport share and per node dangling share
    slack = n + cl.PR_ITERS * (len(edges) + 2 * n)
    total = sum(ranks.values())
    assert cl.PR_UNIT - slack <= total <= cl.PR_UNIT
    assert cl._pagerank([]) == {}


@pytest.mark.parametrize(
    "query, table",
    [
        ("nation_pagerank", "lineitem"),
        ("event_markov_stationary", "events"),
        ("markov_entropy_rate", "events"),
        ("neardup_kcore_rounds", "documents"),
        ("neardup_bfs_hops", "documents"),
        ("lang_label_propagation", "documents"),
        ("dedup_clusters", "documents"),
    ],
)
def test_iterative_query_on_empty_table_matches_oracle(
    spark, sf_dir, tmp_path, query, table
):
    """With its input table emptied, each query returns the same rows
    as its DuckDB twin: no ranks, no chain, an all-zero peel, no hops,
    no labels and no clusters."""
    con = duckdb.connect()
    for name in TABLES:
        src = f"{sf_dir}/{name}.parquet"
        dst = tmp_path / f"{name}.parquet"
        if name == table:
            pq.write_table(pq.read_schema(src).empty_table(), dst)
        else:
            os.symlink(src, dst)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{dst}'")
    got = entry.queries()[query](spark, str(tmp_path))
    want = con.sql(entry.oracle_sql()[query])
    assert row_multiset(got.columns, [tuple(r) for r in got.collect()]) == (
        row_multiset(want.columns, want.fetchall())
    )
