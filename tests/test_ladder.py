"""The scale ladder's replica builder: each axis grows exactly its
tables, keeps keys unique and joins intact, decorrelates replicas, and
rebuilds a replica whose marker is missing or names another base."""

from __future__ import annotations

import importlib.util
import json
import math
import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tableau_dashboard_performance_etl_automation_spark.catalog import load_table

_spec = importlib.util.spec_from_file_location(
    "ladder",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "ladder.py"),
)
ladder = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ladder)


@pytest.fixture(scope="module")
def root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ladder"))


@pytest.fixture(scope="module")
def replicas(spark, sf_dir, root):
    return {
        axis: ladder.build_replica(spark, axis, sf_dir, 2, root=root)
        for axis in ladder.AXES
    }


@pytest.mark.parametrize("axis", sorted(ladder.AXES))
def test_replicated_tables_double_with_unique_keys(spark, sf_dir, replicas, axis):
    for table, (key, _, _) in ladder.AXES[axis].items():
        base = load_table(spark, sf_dir, table)
        grown = load_table(spark, replicas[axis], table)
        assert grown.count() == 2 * base.count()
        if table != "lineitem":  # l_orderkey repeats per line by design
            assert grown.select(key).distinct().count() == grown.count()
    # every other table is the base table, symlinked
    for name in os.listdir(replicas[axis]):
        table = name.removesuffix(".parquet")
        if table != name and table not in ladder.AXES[axis]:
            assert os.path.islink(os.path.join(replicas[axis], name))


def test_fact_replica_keeps_referential_integrity(spark, replicas):
    d = replicas["fact"]
    orphans = load_table(spark, d, "lineitem").join(
        load_table(spark, d, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_anti",
    )
    assert orphans.count() == 0
    events = load_table(spark, d, "events")
    assert events.select("event_id").distinct().count() == events.count()


def test_corpus_replicas_are_decorrelated(spark, sf_dir, replicas):
    d = replicas["corpus"]
    base_docs = load_table(spark, sf_dir, "documents").collect()
    n_docs = max(r.doc_id for r in base_docs) + 1
    docs = {r.doc_id: r.text for r in load_table(spark, d, "documents").collect()}
    for r in base_docs:
        if r.text is not None:
            assert docs[r.doc_id] != docs[r.doc_id + n_docs]

    def norms(sf):
        return {
            r.vec_id: math.sqrt(sum(x * x for x in r.embedding))
            for r in load_table(spark, sf, "embeddings").collect()
        }

    base, grown = norms(sf_dir), norms(d)
    n_vec = max(base) + 1
    for vec_id, norm in grown.items():
        assert norm == pytest.approx(base[vec_id % n_vec], rel=1e-5)


def test_part_replica_names_carry_replica_tag(spark, sf_dir, replicas):
    shift = load_table(spark, sf_dir, "part").agg(F.max("p_partkey")).first()[0] + 1
    part = load_table(spark, replicas["part"], "part")
    r1 = part.filter(F.col("p_partkey") >= shift)
    assert r1.count() == shift
    assert r1.filter(~F.col("p_name").startswith("r1 ")).count() == 0
    assert part.filter(F.col("p_name").startswith("r1 ")).count() == shift


def test_replica_rebuilt_unless_marker_matches(spark, sf_dir, tmp_path):
    root = str(tmp_path)
    out = ladder.build_replica(spark, "part", sf_dir, 2, root=root)
    marker = os.path.join(out, ladder.MARKER)
    sentinel = os.path.join(out, "sentinel")

    def build_keeps_sentinel():
        open(sentinel, "w").close()
        assert ladder.build_replica(spark, "part", sf_dir, 2, root=root) == out
        assert os.path.exists(marker)
        return os.path.exists(sentinel)

    assert build_keeps_sentinel()  # matching marker: reused
    os.remove(marker)
    assert not build_keeps_sentinel()  # no marker: torn build, rebuilt
    with open(marker) as fh:
        meta = json.load(fh)
    with open(marker, "w") as fh:
        json.dump({**meta, "base": "/elsewhere"}, fh)
    assert not build_keeps_sentinel()  # another base: rebuilt
    with open(marker, "w") as fh:
        json.dump({**meta, "rows": {"part": 1}}, fh)
    assert not build_keeps_sentinel()  # base regenerated: rebuilt
    assert load_table(spark, out, "part").count() == 2 * meta["rows"]["part"]


def test_probe_lists_registered_without_duplicates():
    registry = entry_mod.queries()
    assert set(ladder.PROBES) == set(ladder.AXES)
    for axis, probe in ladder.PROBES.items():
        assert len(probe) == len(set(probe)), axis
        assert not set(probe) - registry.keys(), axis


def test_unknown_query_fails_before_any_build(sf_dir, monkeypatch, capsys):
    def started(*args, **kwargs):
        raise AssertionError("the ladder started before checking names")

    monkeypatch.setattr(ladder, "get_spark", started)
    monkeypatch.setattr(ladder, "build_replica", started)
    with pytest.raises(SystemExit):
        ladder.main(["fact", sf_dir, "1,2", "pricing_summary", "no_such_query"])
    assert "no_such_query" in capsys.readouterr().err
