"""Semantics of the round-2 operators: repetition filtering, the
ordered conversion funnel, trailing moving average, CUBE with
grouping ids, and deterministic NTILE quartiles."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators import (
    analytics,
    relational_ext,
    textops,
)


def test_doc_repetition_ratios_bounded(spark, sf_dir):
    rows = textops.doc_repetition(spark, sf_dir).collect()
    assert rows, "no documents scored"
    for r in rows:
        assert 0.0 < r.top_word_share <= 1.0
        assert 0.0 <= r.dup_trigram_frac < 1.0
        assert r.keep in (0, 1)
    # every doc with >= 3 words gets a row
    docs = load_table(spark, sf_dir, "documents")
    n_eligible = docs.filter(
        F.size(F.split("text", " ")) >= 3
    ).count()
    assert len(rows) == n_eligible


def test_event_funnel_monotone(spark, sf_dir):
    rows = analytics.event_funnel(spark, sf_dir).collect()
    assert [r.stage_no for r in rows] == [1, 2, 3]
    users = [r.users for r in rows]
    assert users[0] >= users[1] >= users[2]
    assert rows[0].pct_of_entry == 1.0
    for r in rows:
        assert 0.0 <= r.pct_of_entry <= 1.0


def test_rolling_value_7d_window_bounds(spark, sf_dir):
    rows = analytics.QUERIES["rolling_value_7d"](spark, sf_dir).collect()
    assert rows
    assert rows[0].n_days == 1
    # trailing window: first row's MA equals its own daily value
    assert abs(rows[0].ma7_value - round(rows[0].total_value, 4)) < 1e-9
    for i, r in enumerate(rows):
        assert r.n_days == min(i + 1, 7)


def test_part_cube_levels_consistent(spark, sf_dir):
    rows = relational_ext.part_cube_stats(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "part").count()
    by_gid = defaultdict(int)
    for r in rows:
        by_gid[r.gid] += r.n_parts
    # every aggregation level re-partitions the same universe
    assert by_gid[0] == by_gid[1] == by_gid[2] == by_gid[3] == total
    grand = [r for r in rows if r.gid == 3]
    assert len(grand) == 1
    assert grand[0].p_brand is None and grand[0].p_size is None


def test_order_quartiles_balanced(spark, sf_dir):
    rows = relational_ext.order_quartiles(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    per_prio = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    seen = defaultdict(list)
    for r in rows:
        assert 1 <= r.quartile <= 4
        assert r.min_price <= r.max_price
        seen[r.o_orderpriority].append(r.n_orders)
    for prio, counts in seen.items():
        assert len(counts) == 4
        assert sum(counts) == per_prio[prio]
        assert max(counts) - min(counts) <= 1  # NTILE balance


def test_embedding_quantize_reconstruction(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import similarity

    rows = similarity.embedding_quantize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -127 <= r.min_code <= r.max_code <= 127
        assert r.scale > 0
        # int8 reconstruction error is bounded by scale/2 per dim
        assert r.mean_abs_err <= r.scale / 2 + 1e-9


def test_decontaminate_excludes_benchmark_and_flags_consistently(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import dedup

    rows = dedup.benchmark_decontaminate(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_corpus = docs.filter(
        F.col("doc_id") >= dedup.DECON_BENCH_DOCS
    ).count()
    assert len(rows) == n_corpus
    for r in rows:
        assert r.doc_id >= dedup.DECON_BENCH_DOCS
        assert (r.n_hits > 0) == (r.contaminated == 1)


def test_daily_open_close_bars_consistent(spark, sf_dir):
    rows = analytics.daily_open_close(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.low_value <= r.open_value <= r.high_value
        assert r.low_value <= r.close_value <= r.high_value
        assert r.n_events > 0
