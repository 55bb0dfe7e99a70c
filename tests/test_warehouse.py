"""Storage-layout guarantees: bucketed joins don't shuffle, and
warehouse artifacts are trusted only while their stamp matches.
Plan-level evidence, not assertion by analogy."""

from __future__ import annotations

import glob
import time
import uuid
from collections import Counter
from types import SimpleNamespace

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import (
    load_table,
    read_parquet,
)
from tableau_dashboard_performance_etl_automation_spark.plans import formatted_plan
from tableau_dashboard_performance_etl_automation_spark.sources import warehouse
from tools.check_correctness import row_multiset


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    warehouse.write_bucketed(
        events.select("event_id", "user_id", "value"),
        "events_bucketed_a",
        "user_id",
        n_buckets=8,
    )
    warehouse.write_bucketed(
        events.select("event_id", "user_id", "event_type"),
        "events_bucketed_b",
        "user_id",
        n_buckets=8,
    )
    a = spark.table("events_bucketed_a")
    b = spark.table("events_bucketed_b")
    joined = a.groupBy("user_id").agg(F.sum("value").alias("v")).join(
        b.groupBy("user_id").agg(F.count("*").alias("n")), "user_id"
    )
    plan = formatted_plan(joined)
    # both sides pre-distributed by user_id: no hash-partitioned
    # shuffle anywhere (a BroadcastExchange of the finished small
    # aggregate is fine — that's not a shuffle)
    assert "hashpartitioning" not in plan
    assert "Bucketed: true" in plan
    assert joined.count() > 0


def test_bucketed_aggregate_skips_shuffle(spark, sf_dir):
    unbucketed = load_table(spark, sf_dir, "events")
    agg_unbucketed = unbucketed.groupBy("user_id").agg(F.sum("value"))
    assert "hashpartitioning" in formatted_plan(agg_unbucketed)

    warehouse.write_bucketed(
        unbucketed.select("event_id", "user_id", "value"),
        "events_bucketed_agg",
        "user_id",
        n_buckets=8,
    )
    agg_bucketed = (
        spark.table("events_bucketed_agg").groupBy("user_id").agg(F.sum("value"))
    )
    assert "hashpartitioning" not in formatted_plan(agg_bucketed)


def test_parquet_schema_evolution_merges_new_column(spark, sf_dir, tmp_path):
    """A warehouse accumulates files written under evolving schemas;
    mergeSchema reads must unify them (new column NULL for old files)
    without rewriting history."""
    target = str(tmp_path / "evolving")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    e.limit(100).write.mode("append").parquet(target)
    e.limit(50).withColumn(
        "schema_version", F.lit(2)
    ).write.mode("append").parquet(target)
    merged = spark.read.option("mergeSchema", "true").parquet(target)
    assert "schema_version" in merged.columns
    assert merged.count() == 150
    # old files surface NULL for the new column, new files their value
    assert merged.filter(F.col("schema_version").isNull()).count() == 100
    assert merged.filter(F.col("schema_version") == 2).count() == 50


def test_dynamic_partition_overwrite_replaces_only_touched_day(
    spark, sf_dir, tmp_path
):
    """Re-running one day's load must replace ONLY that day's
    partition (dynamic mode), not truncate the table — the semantics
    an idempotent daily warehouse job depends on."""
    target = str(tmp_path / "daily")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "value", F.to_date("ts").alias("event_date")
    )
    days = [r.event_date for r in e.select("event_date").distinct().orderBy(
        "event_date"
    ).limit(2).collect()]
    base = e.filter(F.col("event_date").isin(days))
    base.write.partitionBy("event_date").mode("overwrite").parquet(target)
    n_day0 = base.filter(F.col("event_date") == days[0]).count()

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # re-load day 1 only, with values doubled (the "corrected" rerun)
        base.filter(F.col("event_date") == days[1]).withColumn(
            "value", F.col("value") * 2
        ).write.partitionBy("event_date").mode("overwrite").parquet(target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)

    out = spark.read.parquet(target)
    # day 0 untouched; day 1 replaced, not duplicated
    assert out.filter(F.col("event_date") == days[0]).count() == n_day0
    orig_day1 = base.filter(F.col("event_date") == days[1])
    assert out.filter(F.col("event_date") == days[1]).count() == orig_day1.count()
    s_new = out.filter(F.col("event_date") == days[1]).agg(
        F.sum("value")
    ).collect()[0][0]
    s_old = orig_day1.agg(F.sum("value")).collect()[0][0]
    assert abs(s_new - 2 * s_old) < 1e-6


def test_artifact_roundtrip_and_tag_guard(spark):
    """An artifact round-trips ARRAY<DOUBLE> exactly and its stamp holds
    its tag; a lookup under another tag (different inputs) refuses the
    files and rebuilds, and an absent artifact has no stamp."""
    name = f"test_artifact/x_{uuid.uuid4().hex[:8]}"
    built = []

    def build():
        built.append(True)
        return spark.createDataFrame(
            [(1, [0.5, 1.25]), (2, [2.0, -3.5])], "k BIGINT, v ARRAY<DOUBLE>"
        )

    back = warehouse.persisted_table(spark, name, "tagA", build)
    assert sorted((r.k, tuple(r.v)) for r in back.collect()) == [
        (1, (0.5, 1.25)),
        (2, (2.0, -3.5)),
    ]
    path = warehouse._artifact_path(spark, name)
    assert warehouse.artifact_tag(path) == "tagA"
    assert built == [True]
    # wrong tag (different inputs) must refuse, absent must refuse
    warehouse.persisted_table(spark, name, "tagB", build)
    assert built == [True, True]
    assert warehouse.artifact_tag(path) == "tagB"
    missing = warehouse._artifact_path(spark, "test_artifact/missing")
    assert warehouse.artifact_tag(missing) is None


def test_ivf_codebook_persists_across_cold_session(spark, sf_dir):
    """A cold session (memos cleared) must LOAD the persisted codebook
    rather than retrain — and the loaded codebook must be bit-identical
    to the trained one (deterministic training)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import similarity as sim
    from tableau_dashboard_performance_etl_automation_spark.sources import warehouse as wh

    warm = sorted(
        (r.cent_id, tuple(r.cvec))
        for r in sim._codebook(spark, sf_dir, sim._emb(spark, sf_dir)).collect()
    )
    k = sim.ivf_n_centroids(sim._emb(spark, sf_dir).count())
    art = sim._artifact_name(
        f"{sim.IVF_CODEBOOK_ARTIFACT}/k{k}", sf_dir
    )
    assert wh.artifact_tag(wh._artifact_path(spark, art)) == sf_dir

    # simulate the cold session: drop ONLY the in-process memo entries.
    # (invalidate_artifacts would be wrong here — it also revokes
    # artifact trust, which models INPUT MUTATION, not a fresh session)
    wh._MEMO.pop("ivf_codebook")
    wh._MEMO.pop(art)
    # sabotage the trainer: a cold load must NOT call it
    orig = sim._train_centroids
    sim._train_centroids = lambda e, k: (_ for _ in ()).throw(
        AssertionError("cold session retrained instead of loading")
    )
    try:
        cold = sorted(
            (r.cent_id, tuple(r.cvec))
            for r in sim._codebook(
                spark, sf_dir, sim._emb(spark, sf_dir)
            ).collect()
        )
    finally:
        sim._train_centroids = orig
    assert cold == warm


def test_persisted_table_rebuilds_on_tag_change(spark, tmp_path):
    """A persisted corpus artifact must be trusted only for ITS
    inputs: same (name, tag) loads without rebuilding; a changed tag
    (different corpus / different dial) forces a rebuild and
    re-stamps."""
    from tableau_dashboard_performance_etl_automation_spark.sources import warehouse as wh

    calls = []

    def build_a():
        calls.append("a")
        return spark.createDataFrame([(1, "a")], "k BIGINT, v STRING")

    def build_b():
        calls.append("b")
        return spark.createDataFrame([(2, "b")], "k BIGINT, v STRING")

    name = "test_artifact/rebuild"
    out1 = wh.persisted_table(spark, name, "tag1", build_a)
    assert [tuple(r) for r in out1.collect()] == [(1, "a")]
    # same tag: loads, does NOT rebuild
    out2 = wh.persisted_table(spark, name, "tag1", build_b)
    assert [tuple(r) for r in out2.collect()] == [(1, "a")]
    assert calls == ["a"]
    # new tag (inputs changed): rebuilds and re-stamps
    out3 = wh.persisted_table(spark, name, "tag2", build_b)
    assert [tuple(r) for r in out3.collect()] == [(2, "b")]
    assert calls == ["a", "b"]
    # and the new stamp holds
    out4 = wh.persisted_table(spark, name, "tag2", build_a)
    assert [tuple(r) for r in out4.collect()] == [(2, "b")]
    assert calls == ["a", "b"]


def test_persisted_table_returning_tag_rebuilds(spark):
    """tag1 → tag2 → tag1 on one name: the tag2 build overwrote the
    data and the stamp, so the third call must rebuild tag1's rows,
    not serve tag2's from a trust entry left by the first call."""
    name = f"test_artifact/retag_{uuid.uuid4().hex[:8]}"
    calls = []

    def build(k, v):
        def run():
            calls.append(v)
            return spark.createDataFrame([(k, v)], "k BIGINT, v STRING")

        return run

    out1 = warehouse.persisted_table(spark, name, "tag1", build(1, "a"))
    assert [tuple(r) for r in out1.collect()] == [(1, "a")]
    out2 = warehouse.persisted_table(spark, name, "tag2", build(2, "b"))
    assert [tuple(r) for r in out2.collect()] == [(2, "b")]
    out3 = warehouse.persisted_table(spark, name, "tag1", build(1, "a"))
    assert [tuple(r) for r in out3.collect()] == [(1, "a")]
    assert calls == ["a", "b", "a"]


def test_invalidate_artifacts_empties_memo(spark, sf_dir):
    """One entry of each kind — a persisted artifact, a driver value and
    a bucketed fact layout — is gone after ``invalidate_artifacts()``,
    and the next persisted call rebuilds."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        dedup,
        similarity,
    )

    slug = warehouse.corpus_slug(sf_dir)
    digest = slug.rsplit("_", 1)[1]
    dedup.lsh_pair_table(spark, sf_dir)
    similarity.ann_auto_topk(spark, sf_dir)
    warehouse.bucketed_fact(spark, sf_dir, "nation", "n_nationkey", 4)
    kinds = {
        f"lsh_pairs/{slug}": DataFrame,
        "ann_auto_count": int,
        f"fact_nation_{digest}_by_n_nationkey_4b": str,
    }
    for name, kind in kinds.items():
        assert isinstance(warehouse._MEMO[name][1], kind), name

    warehouse.invalidate_artifacts()
    assert warehouse._MEMO == {}
    n0 = len(warehouse.ARTIFACT_EVENTS)
    dedup.lsh_pair_table(spark, sf_dir)
    assert (f"lsh_pairs/{slug}", "build") in warehouse.ARTIFACT_EVENTS[n0:]


def test_invalidate_artifacts_revokes_artifact_trust(spark):
    """After invalidate_artifacts(), disk artifacts this process
    touched must NOT be trusted (their path-based tags cannot see an
    in-place input mutation) — the next consumer rebuilds."""
    from tableau_dashboard_performance_etl_automation_spark.sources import warehouse as wh

    import uuid

    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(len(calls),)], "v BIGINT")

    # unique per run: the warehouse dir outlives pytest sessions, so a
    # fixed name would already be trusted on the second run
    name = f"test_artifact/invalidate_{uuid.uuid4().hex[:8]}"
    wh.persisted_table(spark, name, "t", build)
    wh.persisted_table(spark, name, "t", build)
    assert calls == [1]  # trusted, no rebuild
    wh.invalidate_artifacts()
    out = wh.persisted_table(spark, name, "t", build)
    assert calls == [1, 1]  # trust revoked -> rebuilt
    assert [r.v for r in out.collect()] == [2]


def test_corpus_slug_distinguishes_same_basename_corpora(tmp_path):
    """Round-8 ADVICE: a/sf0.1 and b/sf0.1 must land on different
    artifact paths (alternating corpora previously rebuild-thrashed
    on one shared path; the meta tag only prevented WRONG data)."""
    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import corpus_slug

    a = tmp_path / "a" / "sf0.1"
    b = tmp_path / "b" / "sf0.1"
    sa, sb = corpus_slug(str(a)), corpus_slug(str(b))
    assert sa != sb
    assert sa.startswith("sf0.1_") and sb.startswith("sf0.1_")
    # stable across trailing-slash spelling
    assert corpus_slug(str(a) + "/") == sa


def test_bucketed_fact_reuses_files_across_sessions(spark, sf_dir, tmp_path):
    """Round-8 VERDICT item 4: a fresh session must NOT rewrite the
    bucketed fact layout — it re-registers an external bucketed table
    over the stamped files. Simulated end-to-end in one process by
    dropping the catalog entry (the only thing a session restart
    loses) while preserving the data files and the stamp among them,
    then dispatching through ``bucketed_fact`` again."""
    import os
    import shutil

    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
        BUILD_LOG,
        _MEMO,
        _artifact_path,
        artifact_tag,
        bucketed_fact,
    )

    import hashlib

    sf = sf_dir
    # clean slate: a stamp left by a PREVIOUS session would short-
    # circuit the build this test wants to observe
    digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
    name = f"fact_supplier_{digest}_by_s_suppkey_8b"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(_artifact_path(spark, name), ignore_errors=True)
    _MEMO.pop(name, None)
    BUILD_LOG.pop(name, None)

    df1 = bucketed_fact(spark, sf, "supplier", "s_suppkey", n_buckets=8)
    want = df1.count()
    built_secs = BUILD_LOG.get(name)
    assert built_secs is not None  # first call paid the build

    # simulate a session restart: catalog entry gone, files + stamp
    # survive. DROP on the managed table would delete the files, so
    # stash them first and restore after the drop.
    data_dir = _artifact_path(spark, name)
    stash = str(tmp_path / "stash")
    shutil.copytree(data_dir, os.path.join(stash, name))
    spark.sql(f"DROP TABLE {name}")
    assert not os.path.exists(data_dir)  # managed drop removed data
    shutil.copytree(os.path.join(stash, name), data_dir)
    assert artifact_tag(data_dir) == os.path.abspath(sf)  # stamp restored
    _MEMO.pop(name)

    df2 = bucketed_fact(spark, sf, "supplier", "s_suppkey", n_buckets=8)
    # no rebuild: BUILD_LOG unchanged, content identical
    assert BUILD_LOG.get(name) == built_secs
    assert df2.count() == want
    assert df2.exceptAll(df1).count() == 0
    # the re-registered layout still elides the shuffle
    agg = df2.groupBy("s_suppkey").count()
    plan = formatted_plan(agg)
    assert "hashpartitioning" not in plan
    assert "Bucketed: true" in plan

    # third dispatch: stamped AND registered -> pure lookup, no DDL
    df3 = bucketed_fact(spark, sf, "supplier", "s_suppkey", n_buckets=8)
    assert df3.count() == want


def test_persisted_table_events_tags_and_trust(spark, sf_dir, tmp_path):
    """Round-9 infrastructure contracts in one flow: (1) a first
    build logs a 'build' event and BUILD_LOG entry; (2) a re-read
    logs 'hit' (trust-memoized — no stamp read needed); (3) a TAG
    change (dial moved) invalidates and rebuilds rather than
    silently reusing; (4) invalidate_artifacts revokes the trust
    memo AND the stamp, forcing a rebuild."""
    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
        ARTIFACT_EVENTS,
        BUILD_LOG,
        invalidate_artifacts,
        persisted_table,
    )

    name = "evt_probe/unit"
    builds = []

    def build():
        builds.append(1)
        return spark.range(5).withColumnRenamed("id", "v")

    def events_since(n0):
        return [e for nm, e in ARTIFACT_EVENTS[n0:] if nm == name]

    n0 = len(ARTIFACT_EVENTS)
    df = persisted_table(spark, name, "tag|dial=1", build)
    assert df.count() == 5
    assert events_since(n0) == ["build"]
    assert builds == [1]
    assert name in BUILD_LOG

    n1 = len(ARTIFACT_EVENTS)
    persisted_table(spark, name, "tag|dial=1", build).count()
    assert events_since(n1) == ["hit"]
    assert builds == [1]  # no rebuild

    # dial change -> tag change -> rebuild, never silent reuse
    n2 = len(ARTIFACT_EVENTS)
    persisted_table(spark, name, "tag|dial=2", build).count()
    assert events_since(n2) == ["build"]
    assert builds == [1, 1]

    # global invalidation revokes stamp AND trust memo
    invalidate_artifacts()
    n3 = len(ARTIFACT_EVENTS)
    persisted_table(spark, name, "tag|dial=2", build).count()
    assert events_since(n3) == ["build"]
    assert builds == [1, 1, 1]


def test_nested_build_logs_self_time(spark, monkeypatch):
    """An artifact whose build reads another artifact logs its self
    time: its wall less the inner build's. The two ``BUILD_LOG``
    entries sum to the outer wall (each entry is rounded to the
    millisecond), so summing the log counts the inner build once."""
    stamps = []

    def clock() -> float:
        stamps.append(time.time())
        return stamps[-1]

    monkeypatch.setattr(warehouse, "time", SimpleNamespace(time=clock))
    run = uuid.uuid4().hex[:8]
    inner_name, outer_name = f"nest_probe/inner_{run}", f"nest_probe/outer_{run}"

    def inner_build():
        time.sleep(0.2)
        return spark.range(5).withColumnRenamed("id", "v")

    def outer_build():
        inner = warehouse.persisted_table(spark, inner_name, "t", inner_build)
        time.sleep(0.1)
        return inner.select((F.col("v") * 2).alias("v"))

    df = warehouse.persisted_table(spark, outer_name, "t", outer_build)
    assert df.count() == 5
    # clock reads: outer start, inner start, inner end, outer end
    assert len(stamps) == 4
    outer_wall = stamps[3] - stamps[0]
    inner, outer = warehouse.BUILD_LOG[inner_name], warehouse.BUILD_LOG[outer_name]
    assert inner >= 0.2 and outer >= 0.1
    assert abs(inner + outer - outer_wall) <= 0.002


def _region_fact(spark, sf_dir):
    """(name, lookup, delete) of a bucketed fact layout; a managed
    ``DROP TABLE`` deletes its directory."""
    import hashlib
    import os
    import shutil

    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    name = f"fact_region_{digest}_by_r_regionkey_4b"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(warehouse._artifact_path(spark, name), ignore_errors=True)
    return (
        name,
        lambda: warehouse.bucketed_fact(
            spark, sf_dir, "region", "r_regionkey", n_buckets=4
        ),
        lambda: spark.sql(f"DROP TABLE {name}"),
    )


def _region_table(spark, sf_dir):
    """(name, lookup, delete) of a persisted table."""
    import shutil

    name = f"test_artifact/region_{uuid.uuid4().hex[:8]}"
    return (
        name,
        lambda: warehouse.persisted_table(
            spark, name, sf_dir, lambda: load_table(spark, sf_dir, "region")
        ),
        lambda: shutil.rmtree(warehouse._artifact_path(spark, name)),
    )


ARTIFACT_KINDS = {"bucketed_fact": _region_fact, "persisted_table": _region_table}


@pytest.mark.parametrize("kind", sorted(ARTIFACT_KINDS))
def test_bucketed_fact_rebuilds_when_stamp_outlives_data(spark, sf_dir, kind):
    """Deleting an artifact's data directory (a managed DROP TABLE, or by
    hand) deletes its stamp with it, so the next lookup with the memo
    dropped rebuilds and serves rows. A stamp kept beside the data
    outlived it: a bucketed fact needed a repair branch, and a
    persisted table raised PATH_NOT_FOUND."""
    import os

    name, lookup, delete = ARTIFACT_KINDS[kind](spark, sf_dir)
    path = warehouse._artifact_path(spark, name)
    warehouse._MEMO.pop(name, None)
    warehouse.BUILD_LOG.pop(name, None)

    want = _rows(lookup())
    first_build = warehouse.BUILD_LOG[name]
    assert os.path.exists(os.path.join(path, warehouse.STAMP_FILE))

    delete()
    assert not os.path.exists(path)
    warehouse._MEMO.pop(name)

    # must NOT raise; must rebuild (BUILD_LOG accumulates) and serve rows
    assert _rows(lookup()) == want
    assert warehouse.BUILD_LOG[name] > first_build  # a second build was paid


@pytest.mark.parametrize("kind", sorted(ARTIFACT_KINDS))
def test_memo_entry_does_not_outlive_deleted_artifact(spark, sf_dir, kind):
    """Deleting an artifact in the session that memoized it (``DROP
    TABLE`` on a bucketed fact, or removing a persisted table's
    directory) leaves its memo entry behind; the next lookup finds the
    stamp gone, drops the entry itself and rebuilds, with no caller
    touching ``_MEMO``."""
    name, lookup, delete = ARTIFACT_KINDS[kind](spark, sf_dir)
    want = _rows(lookup())
    assert name in warehouse._MEMO

    delete()
    n0 = len(warehouse.ARTIFACT_EVENTS)
    assert _rows(lookup()) == want
    assert warehouse.ARTIFACT_EVENTS[n0:] == [(name, "build")]


@pytest.mark.parametrize("kind", sorted(ARTIFACT_KINDS))
def test_trusted_lookup_starts_no_spark_job(spark, sf_dir, jobs_started, kind):
    """With the memo dropped and the stamp present, the trust check is a
    file read and the lookup starts no Spark job."""
    name, lookup, _delete = ARTIFACT_KINDS[kind](spark, sf_dir)
    warehouse._MEMO.pop(name, None)
    want = _rows(lookup())
    warehouse._MEMO.pop(name)
    n0 = len(warehouse.ARTIFACT_EVENTS)
    got, jobs = jobs_started(lookup)
    assert jobs == []
    assert warehouse.ARTIFACT_EVENTS[n0:] == [(name, "hit")]
    assert _rows(got) == want


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


CODEC = "spark.sql.parquet.compression.codec"


def _codecs(path: str) -> set[str]:
    """The codec of every column chunk in the parquet files under ``path``."""
    out = set()
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        out |= {
            md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        }
    return out


@pytest.mark.parametrize("kind", ["bucketed_table", "persisted_table"])
def test_artifacts_are_zstd_and_read_back_equal(spark, sf_dir, kind):
    """The session writes parquet as zstd, so every column chunk of an
    artifact is ZSTD, and Spark, pyarrow and DuckDB read its rows back
    equal."""
    assert spark.conf.get(CODEC) == "zstd"

    def build():
        # DATE, not TIMESTAMP: all three readers return datetime.date
        return load_table(spark, sf_dir, "orders").withColumn(
            "o_orderdate", F.col("o_orderdate").cast("date")
        )

    suffix = uuid.uuid4().hex[:8]
    if kind == "persisted_table":
        name = f"test_artifact/zstd_{suffix}"
        df = warehouse.persisted_table(spark, name, sf_dir, build)
    else:
        name = f"zstd_orders_{suffix}"
        df = warehouse.bucketed_table(spark, name, sf_dir, build, "o_orderkey", 4)
    path = warehouse._artifact_path(spark, name)
    assert _codecs(path) == {"ZSTD"}

    want = row_multiset(df.columns, [tuple(r) for r in df.collect()])
    assert len(want) == load_table(spark, sf_dir, "orders").count()
    table = pq.read_table(path)
    assert row_multiset(
        table.column_names, [tuple(r.values()) for r in table.to_pylist()]
    ) == want
    con = duckdb.connect()
    res = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    assert row_multiset(res.columns, res.fetchall()) == want


@pytest.mark.parametrize("kind", sorted(ARTIFACT_KINDS))
def test_snappy_artifact_stays_trusted_under_zstd(spark, sf_dir, kind):
    """A stamp does not depend on the codec: an artifact written while
    the session wrote snappy is still trusted once it writes zstd. The
    lookup logs a hit and rebuilds nothing, and the files stay snappy."""
    name, lookup, _delete = ARTIFACT_KINDS[kind](spark, sf_dir)
    codec = spark.conf.get(CODEC)
    try:
        spark.conf.set(CODEC, "snappy")
        want = _rows(lookup())
    finally:
        spark.conf.set(CODEC, codec)
    path = warehouse._artifact_path(spark, name)
    assert _codecs(path) == {"SNAPPY"}
    built = warehouse.BUILD_LOG[name]

    warehouse._MEMO.pop(name)
    n0 = len(warehouse.ARTIFACT_EVENTS)
    assert _rows(lookup()) == want
    assert warehouse.ARTIFACT_EVENTS[n0:] == [(name, "hit")]
    assert warehouse.BUILD_LOG[name] == built
    assert _codecs(path) == {"SNAPPY"}


def test_read_parquet_second_read_starts_no_job(
    spark, sf_dir, tmp_path, jobs_started
):
    """The first read of a path infers its schema (a Spark job); a read
    of the unchanged files reuses it and starts none."""
    path = str(tmp_path / "orders")
    load_table(spark, sf_dir, "orders").write.parquet(path)
    first, jobs1 = jobs_started(lambda: read_parquet(spark, path))
    assert jobs1
    second, jobs2 = jobs_started(lambda: read_parquet(spark, path))
    assert jobs2 == []
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)


def test_read_parquet_sees_overwrite_with_new_column(spark, tmp_path):
    """Overwriting the path changes its files, so the next read infers
    again: it returns the new column and the new rows."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k BIGINT, v STRING").write.parquet(path)
    assert read_parquet(spark, path).columns == ["k", "v"]
    spark.createDataFrame(
        [(2, "b", 2.5)], "k BIGINT, v STRING, w DOUBLE"
    ).write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["k", "v", "w"]
    assert [tuple(r) for r in df.collect()] == [(2, "b", 2.5)]


def test_read_parquet_partitioned_artifact_matches_inference(
    spark, sf_dir, jobs_started
):
    """A partitioned ``persisted_table`` read with the known schema has
    the schema (partition column included, in place) and the rows of a
    plain inference read."""
    name = f"test_artifact/partitioned_{uuid.uuid4().hex[:8]}"

    def build():
        return load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.col("ts").cast("date")
        )

    warehouse.persisted_table(spark, name, "t", build, partition_by=["event_date"])
    got, jobs = jobs_started(
        lambda: warehouse.persisted_table(
            spark, name, "t", build, partition_by=["event_date"]
        )
    )
    assert jobs == []
    plain = spark.read.parquet(warehouse._artifact_path(spark, name))
    assert got.schema == plain.schema
    assert _rows(got) == _rows(plain)


def test_read_parquet_keys_on_inference_confs(spark, sf_dir, tmp_path):
    """A schema inferred under one value of an inference conf is not
    served under another. On sf0.001 ``events`` (TIMESTAMP(MICROS),
    tz-naive) ``inferTimestampNTZ`` picks ``ts``'s type; on a
    TIMESTAMP(NANOS) copy ``nanosAsLong`` picks BIGINT or a rejection,
    and ``load_table`` turns the BIGINT into the same timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    events = f"{sf_dir}/events.parquet"
    table = pq.read_table(events)
    i = table.schema.get_field_index("ts")
    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        table.set_column(i, "ts", table["ts"].cast(pa.timestamp("ns"))),
        str(nanos_dir / "events.parquet"),
    )
    nanos_events = str(nanos_dir / "events.parquet")
    try:
        spark.conf.set(ntz, "true")
        assert dict(read_parquet(spark, events).dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(ntz, "false")
        assert dict(read_parquet(spark, events).dtypes)["ts"] == "timestamp"

        spark.conf.set(nanos, "true")
        assert dict(read_parquet(spark, nanos_events).dtypes)["ts"] == "bigint"
        spark.conf.set(nanos, "false")
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, nanos_events)
        # load_table restores the engine's conf and converts the nanos
        got = load_table(spark, str(nanos_dir), "events")
        assert dict(got.dtypes)["ts"] == "timestamp"
        want = load_table(spark, sf_dir, "events")
        assert _rows(got.select("event_id", "ts")) == _rows(
            want.select("event_id", "ts")
        )
    finally:
        spark.conf.set(ntz, "false")
        spark.conf.set(nanos, "true")


def test_load_artifact_missing_path_returns_none(spark):
    """An absent artifact has no stamp; a built one has its tag; after
    its directory is deleted (its schema known to ``read_parquet``) it
    has no stamp again, so nothing trusts the missing path."""
    import shutil

    name = f"test_artifact/deleted_{uuid.uuid4().hex[:8]}"
    path = warehouse._artifact_path(spark, name)
    assert warehouse.artifact_tag(path) is None
    warehouse.persisted_table(
        spark, name, "t", lambda: spark.createDataFrame([(1,)], "k INT")
    ).collect()
    assert warehouse.artifact_tag(path) == "t"
    shutil.rmtree(path)
    assert warehouse.artifact_tag(path) is None
