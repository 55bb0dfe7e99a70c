"""Semantic + plan-contract tests for the round-4c operators:
record linkage, RFM/cadence analytics, char-bigram LM scoring,
centroid similarity, containment dedup, and zone-map accounting."""

from __future__ import annotations

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators import (
    analytics,
    dedup,
    linkage,
    profiling,
    similarity,
    textops,
)
from tableau_dashboard_performance_etl_automation_spark.plans import (
    formatted_plan,
    has_cartesian_product,
)


def test_monthly_growth_first_month_null_and_sorted(spark, sf_dir):
    rows = analytics.QUERIES["monthly_revenue_growth"](spark, sf_dir).collect()
    assert rows[0].growth_pct is None and rows[0].prev_revenue is None
    months = [r.month for r in rows]
    assert months == sorted(months)
    # every later row differences against the previous row's revenue
    for prev, cur in zip(rows, rows[1:]):
        assert cur.prev_revenue == prev.revenue


def test_rfm_scores_are_quintiles_and_conserve_customers(spark, sf_dir):
    seg = analytics.customer_rfm_segments(spark, sf_dir).collect()
    assert all(
        1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
        for r in seg
    )
    n_cust = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r.n_customers for r in seg) == n_cust


def test_interarrival_gap_count_is_orders_minus_first_orders(spark, sf_dir):
    out = analytics.order_interarrival_stats(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders")
    n_orders = orders.count()
    n_cust = orders.select("o_custkey").distinct().count()
    # every order except each customer's first contributes one gap
    assert sum(r.n_gaps for r in out) == n_orders - n_cust
    assert all(r.min_gap_days >= 0 for r in out)


def test_bigram_lm_counts_bigrams_exactly(spark, sf_dir):
    out = textops.char_bigram_lm_scores(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.length("text") - 1).alias("expect")
    )
    joined = out.join(docs, "doc_id").collect()
    assert len(joined) > 0
    for r in joined:
        assert r.n_bigrams == r.expect
        assert r.avg_nll_bits > 0  # every bigram has p < 1


def test_centroid_similarity_is_upper_triangle_in_range(spark, sf_dir):
    out = similarity.label_centroid_similarity(spark, sf_dir).collect()
    labels = (
        load_table(spark, sf_dir, "embeddings").select("label").distinct()
    ).count()
    assert len(out) == labels * (labels - 1) // 2
    assert all(r.label_a < r.label_b for r in out)
    assert all(-1.0001 <= r.cosine <= 1.0001 for r in out)


def test_containment_bounds_and_dominates_jaccard(spark, sf_dir):
    out = dedup.dedup_containment(spark, sf_dir).collect()
    for r in out:
        assert r.containment >= dedup.CONTAINMENT_MIN
        assert r.containment <= 1.0
        # |A∩B|/min ≥ |A∩B|/|A∪B| always
        assert r.containment >= r.jaccard


def test_containment_plan_is_equi_join_only(spark, sf_dir):
    df = dedup.dedup_containment(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert "BroadcastNestedLoopJoin" not in formatted_plan(df)


def test_zonemap_conserves_rows_and_orders_shards(spark, sf_dir):
    out = profiling.zonemap_pruning_stats(spark, sf_dir).collect()
    li_count = load_table(spark, sf_dir, "lineitem").count()
    assert sum(r.n_rows for r in out) == li_count
    for r in out:
        assert r.min_ship <= r.max_ship
        assert r.prunable in (0, 1)
        # prunable shards are exactly those whose max is below the bound
        assert r.prunable == int(r.max_ship < profiling.ZONE_PRUNE_TS)


def test_linkage_one_best_match_per_blocked_name(spark, sf_dir):
    out = linkage.part_record_linkage(spark, sf_dir)
    rows = out.collect()
    parts = load_table(spark, sf_dir, "part")
    n_names = parts.select("p_name").distinct().count()
    # one row per DISTINCT name that has a block-mate; never more
    assert 0 < len(rows) <= n_names
    assert len({r.p_name for r in rows}) == len(rows)
    for r in rows:
        assert 0.0 <= r.sim <= 1.0
        assert r.p_name != r.match_name
        # blocking invariant: best match shares the first name token
        assert r.p_name.split(" ")[0] == r.match_name.split(" ")[0]
    assert not has_cartesian_product(out)


def test_linkage_counts_row_footprint(spark, sf_dir):
    out = linkage.part_record_linkage(spark, sf_dir)
    parts = load_table(spark, sf_dir, "part")
    per_name = {
        r.p_name: r.cnt
        for r in parts.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in out.collect():
        assert r.n_parts == per_name[r.p_name]
