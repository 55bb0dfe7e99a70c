"""Round-3 additions: subquery/disjunctive TPC-H shapes, PII
scrubbing, sequence packing, kNN vote, cross-source dup matrix, and
the adaptive quality-percentile filter."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.operators import (
    chunking,
    curation,
    dedup,
    scrubbing,
    similarity,
    subqueries,
)


def test_pii_patterns_redact_synthetic_hits(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@exam-ple.org today"),
            (2, "call 415-555-0000 or 415 555 0000"),
            (3, "the spark stream is a vector thing"),
            (4, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["clean"]
        for r in df.select(
            "doc_id", scrubbing.scrubbed(F.col("text")).alias("clean")
        ).collect()
    }
    assert out[1] == "mail me at <PII> today"
    assert out[2] == "call <PII> or <PII>"
    assert out[3] == "the <TERM> <TERM> is a <TERM> thing"
    assert out[4] == "nothing sensitive here"


def test_pii_scrub_stats_accounting(spark, sf_dir):
    rows = scrubbing.pii_scrub_stats(spark, sf_dir).collect()
    assert rows, "corpus must produce one row per doc"
    for r in rows:
        # synthetic corpus carries no real PII
        assert r["n_email"] == 0 and r["n_phone"] == 0
        # len_delta is fully explained by the denylist substitutions
        # only when no PII matched; every replaced term is 5-6 chars
        # vs the 6-char <TERM> token, so the delta is small and ≥ 0
        if r["n_denylist"] == 0:
            assert r["len_delta"] == 0


def test_sequence_packing_invariants(spark, sf_dir):
    rows = chunking.sequence_packing_plan(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_sequences"] == math.ceil(
            r["total_tokens"] / chunking.PACK_CAPACITY
        )
        assert 0 <= r["n_split_docs"] < r["n_docs"] + 1
        assert 0.0 < r["fill_ratio"] <= 1.0


def test_knn_label_vote_majority(spark, sf_dir):
    votes = similarity.knn_label_vote(spark, sf_dir).collect()
    assert len(votes) == similarity.N_QUERIES
    for r in votes:
        assert 1 <= r["votes"] <= similarity.TOP_K
        assert 1 <= r["best_rank"] <= similarity.TOP_K
    # recompute one query's vote from the exact top-k to pin semantics
    topk = similarity.ann_cosine_topk(spark, sf_dir)
    labels = similarity._emb(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"), "label"
    )
    q0 = (
        topk.filter(F.col("query_id") == votes[0]["query_id"])
        .join(labels, "neighbor_id")
        .collect()
    )
    counts: dict[int, int] = {}
    best_rank: dict[int, int] = {}
    for r in q0:
        counts[r["label"]] = counts.get(r["label"], 0) + 1
        best_rank[r["label"]] = min(
            best_rank.get(r["label"], 99), r["rank"]
        )
    want = min(
        counts, key=lambda lb: (-counts[lb], best_rank[lb], lb)
    )
    assert votes[0]["label"] == want
    assert votes[0]["votes"] == counts[want]


def test_cross_source_matrix_conserves_pairs(spark, sf_dir):
    n_pairs = dedup.dedup_minhash_lsh(spark, sf_dir).count()
    rows = dedup.cross_source_dup_matrix(spark, sf_dir).collect()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    for r in rows:
        assert r["source_a"] <= r["source_b"]


def test_quality_percentile_filter_drops_exact_quartile(spark, sf_dir):
    rows = curation.quality_percentile_filter(spark, sf_dir).collect()
    assert rows
    for r in rows:
        dropped = (
            r["n_docs"] * curation.PCTL_DROP_NUM
        ) // curation.PCTL_DROP_DEN
        assert r["n_kept"] == r["n_docs"] - dropped
        assert r["min_kept_words"] is not None


def test_min_cost_supplier_is_unique_per_part(spark, sf_dir):
    df = subqueries.min_cost_supplier(spark, sf_dir)
    rows = df.collect()
    parts = [r["p_partkey"] for r in rows]
    assert len(parts) == len(set(parts)), "argmax must yield one row/part"
    assert all(r["min_spend"] > 0 for r in rows)
    assert all(r["p_size"] >= 40 for r in rows)


def test_priority_return_orders_matches_distinct_join(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.catalog import load_table

    got = {
        r["o_orderpriority"]: r["n_orders"]
        for r in subqueries.QUERIES["priority_return_orders"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
    )
    want = {
        r["o_orderpriority"]: r["n"]
        for r in orders.join(returned, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want  # semi-join must not double-count multi-line orders


def test_disjunctive_band_revenue_branches(spark, sf_dir):
    rows = subqueries.QUERIES["disjunctive_band_revenue"](spark, sf_dir).collect()
    brands = {r["p_brand"] for r in rows}
    assert brands <= {"Brand#12", "Brand#23", "Brand#15"}
    assert all(r["revenue"] > 0 and r["n_lines"] > 0 for r in rows)


def test_nation_year_profit_shape(spark, sf_dir):
    rows = subqueries.QUERIES["nation_year_profit"](spark, sf_dir).collect()
    assert rows
    keys = [(r["n_name"], r["o_year"]) for r in rows]
    assert len(keys) == len(set(keys))
    # years descend within a nation (the Q9 presentation order)
    per_nation: dict[str, list[int]] = {}
    for n, y in keys:
        per_nation.setdefault(n, []).append(y)
    for years in per_nation.values():
        assert years == sorted(years, reverse=True)


def test_important_parts_value_threshold(spark, sf_dir):
    rows = subqueries.QUERIES["important_parts_value"](spark, sf_dir).collect()
    assert rows
    # every survivor is above 1.4x the average share (1/n_parts)
    n_parts = len(
        set(
            r["l_partkey"]
            for r in __import__(
                "tableau_dashboard_performance_etl_automation_spark.catalog",
                fromlist=["load_table"],
            )
            .load_table(spark, sf_dir, "lineitem")
            .select("l_partkey")
            .distinct()
            .collect()
        )
    )
    for r in rows:
        assert r["value_share"] > 1.4 / n_parts * 0.999
    vals = [r["part_value"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_excess_stock_suppliers_relative_cutoff(spark, sf_dir):
    rows = subqueries.QUERIES["excess_stock_suppliers"](spark, sf_dir).collect()
    for r in rows:
        assert r["red_qty"] > 0
        assert r["s_name"] and r["n_name"]
    qtys = [r["red_qty"] for r in rows]
    assert qtys == sorted(qtys, reverse=True)


def test_embedding_centroids_exact_sums(spark, sf_dir):
    rows = similarity.embedding_centroid_by_label(spark, sf_dir).collect()
    assert rows
    dims = {r["dim"] for r in rows}
    assert dims == set(range(similarity.EMB_DIM))
    # recompute one (label, dim) cell exactly
    import math

    target = rows[0]
    vecs = [
        r["vec"]
        for r in similarity._emb(spark, sf_dir)
        .filter(F.col("label") == target["label"])
        .collect()
    ]
    want = sum(
        int(math.floor(v[target["dim"]] * 1e6 + 0.5))
        if v[target["dim"]] >= 0
        else -int(math.floor(-v[target["dim"]] * 1e6 + 0.5))
        for v in vecs
    )
    assert target["sum_micro"] == want
    assert target["n_vecs"] == len(vecs)


def test_rolling_distinct_users_7d_window_semantics(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        relational_ext,
    )

    rows = relational_ext.rolling_distinct_users_7d(spark, sf_dir).collect()
    assert rows
    days = [r["day"] for r in rows]
    assert days == sorted(days)
    # the 7-day rolling count can never drop below the single-day count
    from tableau_dashboard_performance_etl_automation_spark.catalog import load_table

    single = {
        r["day"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .select(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias(
                "day"
            ),
            "user_id",
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["users_7d"] >= single[r["day"]]


def test_revenue_pareto_is_minimal_prefix(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        relational_ext,
    )

    rows = relational_ext.revenue_pareto_customers(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1 <= r["top80_customers"] <= r["n_customers"]
        assert 0.8 <= r["top80_share"] <= 1.0
