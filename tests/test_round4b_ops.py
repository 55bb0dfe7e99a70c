"""Round-4b operators: plan contracts + semantic sanity.

Oracle parity runs in the driver gate (and locally via
``tools/check_correctness.py``); these tests pin the scale contracts
(partitioned windows, broadcast joins, no cartesians) and invariants
an oracle diff can't express (MERGE branch totality on synthetic
orphans, winsorized-mean bracketing, lateness non-negativity).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators import (
    analytics,
    history,
    similarity,
    textops,
)
from tableau_dashboard_performance_etl_automation_spark.plans import (
    formatted_plan,
    has_cartesian_product,
)


def test_boilerplate_stats_conserves_docs_and_bounds(spark, sf_dir):
    df = textops.boilerplate_ngram_stats(spark, sf_dir)
    assert not has_cartesian_product(df)
    rows = df.collect()
    for r in rows:
        assert 0 <= r.n_boilerplate <= r.n_shingles
        assert 0 <= r.n_heavy_docs <= r.n_docs
        assert 0.0 <= r.bp_frac <= 1.0
    # every doc with >=3 words is accounted to exactly one source
    docs = load_table(spark, sf_dir, "documents")
    n_eligible = docs.filter(
        F.size(F.split("text", " ")) >= 3
    ).count()
    assert sum(r.n_docs for r in rows) == n_eligible


def test_boilerplate_flags_injected_template(spark):
    """A shared 3-gram template across most docs must be counted as
    boilerplate in every doc containing it."""
    template = "copyright footer nav"
    docs = spark.createDataFrame(
        [(i, f"{template} unique{i} words{i} here{i}", "en", "web", 0)
         for i in range(10)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        rows = textops.boilerplate_ngram_stats(spark, td).collect()
    assert len(rows) == 1
    # the template gram (df=10 >= ceil(10*1%)=1) is boilerplate in
    # all 10 docs; the unique-suffix grams are too at this tiny scale
    # only when df crosses the threshold — at ceil=1 everything is,
    # so the sharper check is the heavy-doc flag
    assert rows[0].n_heavy_docs == 10


def test_oov_rate_accounts_every_token(spark, sf_dir):
    df = textops.oov_rate_by_source(spark, sf_dir)
    rows = df.collect()
    docs = load_table(spark, sf_dir, "documents")
    total_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("n")
    ).collect()[0].n
    assert sum(r.n_tokens for r in rows) == total_tokens
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert 0.0 <= r.oov_rate <= 1.0
    # vocab covers the corpus-global top-20: the overall OOV mass is
    # the tail mass, strictly less than half the corpus here
    assert sum(r.n_oov for r in rows) < total_tokens / 2


def test_winsorized_mean_bracketed_by_thresholds(spark, sf_dir):
    df = analytics.winsorized_event_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert "windowspecdefinition(event_type" in plan  # per-key rank only
    for r in df.collect():
        assert r.p_lo <= r.p_hi
        # clipped values live in [lo, hi], so their mean must too
        assert r.p_lo - 0.01 <= r.winsor_mean <= r.p_hi + 0.01
        assert r.n_events > 0


def test_winsorized_clips_synthetic_outlier(spark):
    """One extreme outlier among uniform values moves the raw mean
    but not the winsorized mean."""
    rows = [(i, "2024-01-01 00:00:00", i, "buy", 10.0, "{}") for i in range(99)]
    rows.append((99, "2024-01-01 00:00:00", 99, "buy", 100000.0, "{}"))
    e = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    ).withColumn("ts", F.to_timestamp("ts"))
    with tempfile.TemporaryDirectory() as td:
        e.write.parquet(f"{td}/events.parquet")
        out = analytics.winsorized_event_stats(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert r.raw_mean > 1000  # outlier dominates the raw mean
    assert r.winsor_mean == 10.0  # clip restores the robust center


def test_event_lateness_nonnegative_partitioned(spark, sf_dir):
    df = analytics.event_lateness_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert "windowspecdefinition(user_id" in plan  # per-user watermark
    for r in df.collect():
        assert r.n_late <= r.n_events
        assert r.max_late_s >= 0.0
        assert r.mean_late_s >= 0.0


def test_cdc_upsert_merge_branches_on_synthetic_orphans(spark):
    """All three MERGE branches: snapshot keys 0..4, changelog keys
    3..6 → 0-2 unchanged, 3-4 update, 5-6 insert; the output key set
    is exactly the union."""
    cust = spark.createDataFrame(
        [(k, f"c{k}", 0, 0.0, "SEG") for k in range(5)],
        "c_custkey BIGINT, c_name STRING, c_nationkey INT,"
        " c_acctbal DOUBLE, c_mktsegment STRING",
    )
    orders = spark.createDataFrame(
        [
            (100 + k + d, k, "O", 10.0 * k, f"2024-01-0{d + 1} 00:00:00", "1-URGENT")
            for k in range(3, 7)
            for d in range(2)
        ],
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate STRING, o_orderpriority STRING",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    with tempfile.TemporaryDirectory() as td:
        cust.write.parquet(f"{td}/customer.parquet")
        orders.write.parquet(f"{td}/orders.parquet")
        rows = {r.custkey: r for r in history.cdc_upsert_customers(spark, td).collect()}
    assert set(rows) == set(range(7))
    assert [rows[k].action for k in range(7)] == (
        ["unchanged"] * 3 + ["update"] * 2 + ["insert"] * 2
    )
    # the argmax picked the LATEST order per key (d=1 → orderkey +1)
    for k in range(3, 7):
        assert rows[k].last_orderkey == 100 + k + 1


def test_embedding_dim_stats_shape_and_moments(spark, sf_dir):
    df = similarity.embedding_dim_stats(spark, sf_dir)
    rows = df.collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    dims = [r.dim for r in rows]
    assert dims == list(range(len(dims)))  # every dim exactly once
    for r in rows:
        assert r.n_vecs == n_vecs
        assert r.var_pop >= 0.0
        assert 0.0 <= r.zero_frac <= 1.0
        assert r.min_val <= r.mean_val <= r.max_val


def test_kmv_estimate_tracks_exact_and_small_groups_exact(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import sketches

    rows = sketches.kmv_distinct_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.n_exact < sketches.KMV_K:
            assert r.kmv_estimate == float(r.n_exact)  # sketch is exact
        else:
            # K=64 → stderr ~1/sqrt(62) ≈ 13%; 2x is a generous gate
            assert r.n_exact / 2 <= r.kmv_estimate <= r.n_exact * 2


def test_kmv_small_group_synthetic_exact(spark):
    """A group with fewer than K distinct keys must report exactly."""
    from tableau_dashboard_performance_etl_automation_spark.operators import sketches

    e = spark.createDataFrame(
        [(i, "2024-01-01 00:00:00", i % 7, "tiny", 1.0, "{}") for i in range(100)],
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    ).withColumn("ts", F.to_timestamp("ts"))
    with tempfile.TemporaryDirectory() as td:
        e.write.parquet(f"{td}/events.parquet")
        rows = sketches.kmv_distinct_users(spark, td).collect()
    assert len(rows) == 1
    assert rows[0].n_exact == 7
    assert rows[0].kmv_estimate == 7.0
    assert rows[0].rel_err == 0.0


def test_bloom_decontaminate_one_sided_vs_exact(spark, sf_dir):
    """Bloom membership can only OVERcount: per doc, bloom hits =
    exact hits + false positives, and every exactly-contaminated doc
    is bloom-flagged (no false negatives)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import dedup

    bloom = {r.doc_id: r for r in dedup.bloom_decontaminate(spark, sf_dir).collect()}
    exact = {
        r.doc_id: r
        for r in dedup.benchmark_decontaminate(spark, sf_dir).collect()
    }
    assert set(bloom) == set(exact)
    for doc_id, b in bloom.items():
        assert b.n_bloom_hits == b.n_exact_hits + b.n_false_pos
        if exact[doc_id].contaminated:
            assert b.bloom_contaminated == 1


def test_transition_matrix_rows_normalize_and_conserve(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import analytics as an

    df = an.event_transition_matrix(spark, sf_dir)
    plan = formatted_plan(df)
    assert "windowspecdefinition(user_id" in plan  # per-user sequence only
    rows = df.collect()
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for from_type, cells in by_from.items():
        assert abs(sum(c.p for c in cells) - 1.0) < 0.01  # row-stochastic
    e = load_table(spark, sf_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    # each user's sequence of length L contributes L-1 transitions
    assert sum(r.n_transitions for r in rows) == n_events - n_users


def test_equidepth_bins_balanced_and_ordered(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import analytics as an

    rows = an.QUERIES["equidepth_value_bins"](spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    e = load_table(spark, sf_dir, "events")
    type_counts = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for etype, bins in by_type.items():
        bins.sort(key=lambda r: r.bin)
        assert [b.bin for b in bins] == list(range(1, an.N_VALUE_BINS + 1))
        sizes = [b.n_events for b in bins]
        assert max(sizes) - min(sizes) <= 1  # equal depth
        assert sum(sizes) == type_counts[etype]  # partition of the type
        for b in bins:
            assert b.lo <= b.mean_val + 0.01 and b.mean_val <= b.hi + 0.01
        for prev, nxt in zip(bins, bins[1:]):
            assert prev.hi <= nxt.lo + 0.011  # boundaries non-decreasing


def test_correlations_bounded_and_perfect_on_synthetic(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling as pf

    rows = pf.lineitem_price_correlations(spark, sf_dir).collect()
    assert len(rows) == 6  # C(4,2) pairs
    for r in rows:
        assert -1.0 <= r.pearson_r <= 1.0
    # synthetic: price = 1000*quantity exactly → r(quantity, price) = 1
    li = spark.createDataFrame(
        [(i, i, i, 1, float(i % 50 + 1), float((i % 50 + 1) * 1000),
          0.01 * (i % 10), 0.01 * ((i * 7) % 8),
          "N", "O", "2024-01-01 00:00:00")
         for i in range(200)],
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,"
        " l_linestatus STRING, l_shipdate STRING",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    with tempfile.TemporaryDirectory() as td:
        li.write.parquet(f"{td}/lineitem.parquet")
        out = {
            (r.col_x, r.col_y): r.pearson_r
            for r in pf.lineitem_price_correlations(spark, td).collect()
        }
    r_qty_price = out.get(("l_extendedprice", "l_quantity")) or out.get(
        ("l_quantity", "l_extendedprice")
    )
    assert r_qty_price == 1.0


def test_expectations_pass_on_corpus_and_catch_synthetic_violations(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling as pf

    rows = {r.expectation: r for r in pf.table_expectations(spark, sf_dir).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r.passed == 1 and r.n_failed == 0  # clean corpus
    # synthetic violations: dup orderkey, NULL custkey, bad status,
    # non-positive price, and a custkey absent from customer
    orders = spark.createDataFrame(
        [
            (1, 10, "O", 5.0, "2024-01-01 00:00:00", "1-URGENT"),
            (1, 10, "F", 5.0, "2024-01-01 00:00:00", "1-URGENT"),
            (2, None, "X", -1.0, "2024-01-01 00:00:00", "1-URGENT"),
            (3, 99, "P", 5.0, "2024-01-01 00:00:00", "1-URGENT"),
        ],
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate STRING, o_orderpriority STRING",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    cust = spark.createDataFrame(
        [(10, "c", 0, 0.0, "SEG")],
        "c_custkey BIGINT, c_name STRING, c_nationkey INT,"
        " c_acctbal DOUBLE, c_mktsegment STRING",
    )
    with tempfile.TemporaryDirectory() as td:
        orders.write.parquet(f"{td}/orders.parquet")
        cust.write.parquet(f"{td}/customer.parquet")
        bad = {r.expectation: r for r in pf.table_expectations(spark, td).collect()}
    assert bad["o_orderkey_unique"].passed == 0
    assert bad["o_custkey_not_null"].n_failed == 1
    assert bad["o_orderstatus_accepted_values"].n_failed == 1
    assert bad["o_totalprice_positive"].n_failed == 1
    assert bad["o_custkey_in_customer"].n_failed == 1  # custkey 99 orphan


def test_json_key_census_detects_drifted_keys(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling as pf

    rows = pf.props_json_key_census(spark, sf_dir).collect()
    assert [r.key for r in rows] == ["k"]  # corpus emits one key
    assert rows[0].coverage == 1.0
    # drifted payloads: a second key on half the stream
    e = spark.createDataFrame(
        [(i, "2024-01-01 00:00:00", i, "t", 1.0,
          '{"k": 1, "new_field": "x"}' if i % 2 else '{"k": 1}')
         for i in range(10)],
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    ).withColumn("ts", F.to_timestamp("ts"))
    with tempfile.TemporaryDirectory() as td:
        e.write.parquet(f"{td}/events.parquet")
        drift = {r.key: r for r in pf.props_json_key_census(spark, td).collect()}
    assert drift["k"].coverage == 1.0
    assert drift["new_field"].coverage == 0.5


def test_restatement_totals_decompose(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import analytics as an

    for r in an.late_data_restatement(spark, sf_dir).collect():
        assert abs(r.final_total - (r.prompt_total + r.restated_delta)) < 0.011
        assert (r.needs_restatement == 1) == (r.n_late > 0)
        assert r.n_late <= r.n_events


def test_survivorship_flags_synthetic_conflicts(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import dedup

    # corpus rows (sf0.001/0.01 have no exact dups → empty audit is
    # the legitimate outcome; sf0.1 carries 8 conflicted groups)
    for r in dedup.dedup_survivorship_conflicts(spark, sf_dir).collect():
        assert r.n_copies > 1
    docs = spark.createDataFrame(
        [
            (0, "same text here", "en", "web", 0),
            (1, "same text here", "de", "web", 0),   # lang conflict
            (2, "other text here", "en", "web", 0),
            (3, "other text here", "en", "web", 0),  # clean dup
            (4, "unique text here", "en", "web", 0),
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        rows = dedup.dedup_survivorship_conflicts(spark, td).collect()
    by_keep = {r.keep_id: r for r in rows}
    assert set(by_keep) == {0, 2}  # the two dup groups, keyed by survivor
    assert by_keep[0].has_conflict == 1 and by_keep[0].n_langs == 2
    assert by_keep[2].has_conflict == 0
