"""Plan-quality contracts: broadcast choices, predicate pushdown,
column pruning, and absence of accidental cartesian products.

These are the 100 TB guarantees — a plan regression here means an
operator stopped scaling even if its results are still correct.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__
from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators import (
    analytics,
    dedup,
    similarity,
    tabjolt,
)
from tableau_dashboard_performance_etl_automation_spark.plans import (
    formatted_plan,
    has_broadcast_hash_join,
    has_cartesian_product,
    pushed_filters,
    range_exchanges,
    shuffle_count,
)
from tableau_dashboard_performance_etl_automation_spark.sources import warehouse


def read_schemas(df) -> list[str]:
    """ReadSchema of each scan — the column-pruning evidence."""
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


#: The registered queries whose plan keeps a range-partitioning exchange:
#: their final ``orderBy`` sorts a result that grows with the data, so it
#: stays spread over many partitions. Grouped by why the output grows.
#: Every other query either sorts a bounded result on one partition
#: (``.repartition(1).orderBy``) or needs no exchange to sort (README
#: "Result ordering"). Bounded means bounded by the query's own
#: construction: its constants, bins, top-k limits and iteration counts,
#: or a categorical column of the schema. A row count that stays flat
#: from one generated scale to the next is not enough: the generator
#: draws names, dates and values from fixed pools that real data outgrows.
RANGE_SORTED = (
    # one row per document, chunk or embedding: the corpus itself
    "char_bigram_lm_scores",
    "curate_corpus",
    "dataset_split",
    "dedup_canonical",
    "dedup_exact",
    "dedup_subdoc_blocks",
    "doc_char_entropy",
    "doc_chunks",
    "doc_ngram_novelty",
    "doc_rarity",
    "doc_readability",
    "doc_repetition",
    "doc_top_terms",
    "embedding_quantize",
    "global_shuffle_shards",
    "lang_label_propagation",
    "leakfree_split_assign",
    "multimodal_content_dedup",
    "pii_scrub_stats",
    "quantile_normalized_quality",
    "text_fingerprint",
    "text_lang_id",
    "text_quality",
    "text_token_count",
    "word_bigram_kn_scores",
    # per-row pandas-UDF outputs keyed by doc_id; the range exchange sits
    # before the UDF, over the scan
    "multimodal_audio_windows",
    "multimodal_binary_meta",
    "multimodal_frame_sample",
    "multimodal_thumbnail",
    # documents or vectors a filter, sample or prune keeps: a share of the corpus
    "benchmark_decontaminate",
    "bloom_decontaminate",
    "cluster_balanced_sample",
    "dedup_incremental_newbatch",
    "dedup_weighted_sample",
    "embedding_decontaminate",
    "poisson_token_sample",
    "pps_systematic_sample",
    "semantic_dedup_prune",
    "stratified_sample",
    "winnow_decontaminate",
    # near-duplicate and candidate pairs, groups and graph histograms: grow
    # with the duplicates
    "dedup_clusters",
    "dedup_containment",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_prefix_filter_pairs",
    "dedup_simhash",
    "dedup_subdoc_neardup",
    "dedup_survivorship_conflicts",
    "dup_cluster_size_histogram",
    "neardup_degree_histogram",
    "neardup_embedding_cosine",
    "neardup_link_prediction",
    "neardup_triangles",
    "part_sorted_neighborhood",
    "winnowing_overlap_pairs",
    # one row per k-means cluster: the codebook size grows with the corpus
    "cluster_centroid_margin",
    "cluster_lang_purity",
    "semantic_dedup_summary",
    # one row per user, session, customer, order, part, part name, supplier,
    # event or lineitem zone: keys of the fact tables
    "active_high_value_buyers",
    "buyer_cohort_setops",
    "cdc_upsert_customers",
    "closed_sessions_final",
    "customers_without_orders",
    "dedup_replayed_events",
    "excess_stock_suppliers",
    "extreme_orders_union",
    "important_parts_value",
    "min_cost_supplier",
    "mode_event_type_per_user",
    "order_last_shippers",
    "part_golden_records",
    "part_record_linkage",
    "purchase_click_attribution_final",
    "purchase_click_outer_final",
    "purchase_click_window_join",
    "purchases_with_last_click",
    "scd2_user_bands",
    "session_window_stats",
    "skyline_orders",
    "supplier_lead_time_percentiles",
    "time_decay_attribution",
    "user_activity_merge",
    "user_activity_span",
    "user_first_purchase",
    "user_running_balance",
    "user_sequence_perplexity",
    "user_sessionization",
    "value_outliers",
    "zonemap_pruning_stats",
    # one row per day, week or year of the data's span: calendar series
    # (a year window fixed by the query, as in nation_market_share, is bounded)
    "cohort_ltv_curve",
    "daily_active_users",
    "daily_metric_pivot",
    "daily_metric_unpivot",
    "daily_open_close",
    "daily_peak_concurrency",
    "daily_value_twap",
    "dp_noisy_daily_counts",
    "dp_user_level_daily_counts",
    "events_in_anomaly_windows",
    "gapfilled_daily_counts",
    "incremental_agg_refresh",
    "late_data_restatement",
    "multi_touch_attribution",
    "nation_trade_flows",
    "nation_year_profit",
    "promo_revenue_share",
    "rolling_distinct_users_7d",
    "rolling_p95_value_7d",
    "session_bounce_rate_daily",
    "user_retention_cohorts",
    "weekly_cohort_retention",
    # one row per value the data defines, not the query: JSON keys, order
    # counts per customer, length buckets, value decades, suppliers tied at
    # the top revenue
    "customer_order_distribution",
    "doc_length_histogram",
    "props_json_key_census",
    "small_cell_suppression_report",
    "top_supplier_revenue",
)


#: Artifacts that one reader alone uses, each with the measured reason
#: it stays stored: a reader is a registered query or another artifact's
#: build (``registry`` below). Every other artifact has two or more
#: readers, so its one build is reused. An artifact with one reader pays
#: only when that reader re-runs: as lineage, each run re-pays the build.
#: A reason gives the build and the reader's steady cell from
#: ``BENCH_DETAIL.json`` (sf0.1, 4 cores), or why lineage would run the
#: build more than once. This dict may only shrink: a new artifact needs
#: a second reader, or plain lineage.
SINGLE_READER = {
    "bloom_decon_doc": "4.01 s build; bloom_decontaminate reads it in "
    "0.08 s",
    "bp_doc_stats": "2.17 s build; boilerplate_ngram_stats reads it in "
    "0.11 s, a query the timed query_mix passes run",
    "cust_brand": "1.44 s build; brand_affinity_topk reads it in 1.02 s",
    "emb_neardup_pairs": "2.80 s build; neardup_embedding_cosine reads it "
    "in 0.08 s, a query the timed query_mix passes run",
    "kn_bigram_scores": "1.27 s build; word_bigram_kn_scores reads it in "
    "0.24 s",
    "kn_doc_scores": "1.24 s build; word_bigram_kn_scores reads it in "
    "0.24 s",
    "minhash_band_index": "the bucketed band index dedup_incremental_newbatch "
    "probes with no exchange on the index side (0.52 s build, 0.47 s "
    "steady); as lineage each run re-shuffles the existing corpus's bands",
    "order_brands": "1.40 s build; market_basket_brand_pairs reads it in "
    "0.87 s",
    "part_match_labels": "0.81 s build of the scored-pair labelling; "
    "part_golden_records reads it in 0.34 s",
    "pq_codebook": "the Lloyd-trained codebook (3.79 s build), collected "
    "to the driver; the pq_topk_scores build reads it once per corpus, and "
    "its tag has no re-rank dials, so a re-rank change does not retrain",
    "pq_codes": "the encoded corpus (0.52 s build) that the pq_topk_scores "
    "build's ADC scan reads; its tag has no re-rank dials, so a re-rank "
    "change does not re-encode",
    "pq_topk_scores": "5.77 s build; ann_pq_topk reads it in 0.11 s",
    "prefix_index": "1.64 s build; both sides of the prefix_pairs build's "
    "self-join read it, so as lineage its census and window run twice",
    "prefix_repsets": "0.59 s build; both sides of the prefix_pairs "
    "build's verification join read it, so as lineage its collect_list "
    "aggregate runs twice",
    "simhash_sigs": "1.67 s build; dedup_simhash reads it in 0.22 s",
    "subdoc_pair_counts": "2.42 s build; dedup_subdoc_neardup reads it in "
    "0.08 s",
}


#: Every registered query builder, by name.
QUERIES = __spark_entry__.queries()


def _artifact_kind(name: str) -> str:
    """An artifact's name without its corpus slug or path digest."""
    return re.sub(r"_[0-9a-f]{8}(?=_|$)", "", name.split("/")[0])


@pytest.fixture(scope="module")
def registry(spark, sf_dir):
    """Every registered query built once at sf0.001, with the reader
    probe on: ``(frames, readers)``, where ``readers`` maps each
    artifact kind to the queries and artifact builds that read it.

    Each stamped-artifact lookup (one ``warehouse.ARTIFACT_EVENTS``
    entry) is credited to the artifact build in progress, else to the
    query being built. The warehouse's stamps are revoked first, so
    every artifact is built inside its first reader and the reads of
    nested builds are seen; the session memo is emptied before each
    query, so reads behind a session value are credited to every
    query that uses it."""
    readers: dict[str, set[str]] = {}
    stack: list[str] = []
    lookup = warehouse._stamped_artifact

    def probed(spark_, name, tag, write, value, reuse=None):
        kind = _artifact_kind(name)
        readers.setdefault(kind, set()).add(stack[-1])

        def traced_write(path):
            stack.append(f"build:{kind}")
            try:
                write(path)
            finally:
                stack.pop()

        return lookup(spark_, name, tag, traced_write, value, reuse)

    warehouse.invalidate_artifacts()
    frames = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(warehouse, "_stamped_artifact", probed)
        for name, build in QUERIES.items():
            warehouse._MEMO.clear()
            stack[:] = [name]
            frames[name] = build(spark, sf_dir)
    return frames, readers


def test_every_artifact_is_reused_or_named(registry):
    """Every artifact the registry reads has two or more readers, or
    is in ``SINGLE_READER`` with its reason; an entry whose artifact
    gained a reader or is gone leaves the dict."""
    _frames, readers = registry
    single = {kind for kind, who in readers.items() if len(who) < 2}
    assert sorted(single - set(SINGLE_READER)) == []
    assert sorted(set(SINGLE_READER) - single) == []


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_warm_build_starts_no_spark_job(spark, sf_dir, jobs_started, name):
    """Building a query a second time on the same corpus runs no Spark
    job before the caller's action: table and artifact schemas are
    known, artifacts are trusted by a file read and driver values come
    from the session memo."""
    build = QUERIES[name]
    build(spark, sf_dir)
    _df, jobs = jobs_started(lambda: build(spark, sf_dir))
    assert jobs == [], f"{name}: {len(jobs)} Spark job(s) while building"


def test_regressions_baseline_broadcasts(spark, sf_dir):
    plan = formatted_plan(tabjolt.q_regressions(spark, sf_dir))
    # the ≤#keys baseline side must broadcast-hash-join into the fact
    assert "BroadcastHashJoin" in plan
    # fact side must not shuffle for the join: no sort-merge join
    assert "SortMergeJoin" not in plan


def test_shuffle_count_counts_each_exchange_once(spark):
    """Two shuffles (a round-robin repartition and the aggregate's hash
    exchange) and one broadcast, which is not a shuffle."""
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .repartition(4)
        .join(F.broadcast(spark.range(10)), "id")
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
    )
    assert "BroadcastExchange" in formatted_plan(df)
    assert shuffle_count(df) == 2


def test_report_summary_is_one_scan_one_expand(spark, sf_dir):
    """The five summary metrics, the trend series and the per-key
    baselines come from one grouping-sets aggregate over one scan of
    ``events``: one Expand, the aggregate's exchange and the
    one-partition exchange under the window."""
    plan = formatted_plan(tabjolt.q_report_summary(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Expand", plan, re.M)) == 1, plan
    assert shuffle_count(tabjolt.q_report_summary(spark, sf_dir)) == 2, plan
    assert "Join" not in plan


def test_report_window_scan_has_no_exchange(spark, sf_dir):
    """The report's window scan takes its anchor and baselines as
    literals: no exchange, no max(event_date) aggregate broadcast and
    cross-joined into the fact scan."""
    df = tabjolt.window_rows(spark, sf_dir, "2024-01-30", {"view": 50.3, "error": None})
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not re.search(r"max\(event_date", plan), plan


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    df = analytics.QUERIES["pricing_summary"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed  # date filter reaches the scan
    schemas = " ".join(read_schemas(df))
    # column pruning: a 16-col table read with only the needed columns
    assert "l_orderkey" not in schemas
    assert "l_quantity" in schemas


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = analytics.QUERIES["region_revenue"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastExchange") >= 1
    assert not has_cartesian_product(df)


def test_samples_filter_pushdown(spark, sf_dir):
    df = tabjolt.q_samples_today(spark, sf_dir)
    # rlike/ilike predicates can't push to parquet (computed column),
    # but the scan must still prune to the referenced columns only
    schemas = " ".join(read_schemas(df))
    assert "event_id" not in schemas


def test_dedup_joins_are_equi_joins(spark, sf_dir):
    for fn in (dedup.dedup_minhash_lsh, dedup.dedup_simhash):
        df = fn(spark, sf_dir)
        assert not has_cartesian_product(df), fn.__name__


def test_ann_scores_corpus_in_place(spark, sf_dir):
    """The exact scan must stream the corpus through the Arrow
    scorer (queries ride the closure, bounded) — no corpus-moving
    join, no cartesian product, and the post-scorer window shuffles
    only margin-pruned candidates."""
    # round-9: the registered query scans the persisted ground-truth
    # scores; the plan contract audits the exposed BUILD plan
    df = similarity._exact_scored_build(spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert not has_cartesian_product(df)
    steady = formatted_plan(similarity.ann_cosine_topk(spark, sf_dir))
    assert "exact_topk_scores" in steady


def test_ivf_join_is_hash_join_on_centroid(spark, sf_dir):
    df = similarity.ann_ivf_topk(spark, sf_dir)
    assert has_broadcast_hash_join(df)


def test_neardup_blocks_on_lsh_not_label(spark, sf_dir):
    """Candidate generation must be an equi-join on (band, sig) —
    never an all-pairs join inside a fixed-cardinality block like
    ``label`` (the round-1 scale hazard). Round 8 persists the
    verified pairs, so the contract is audited on the BUILD plan
    (the registered query's steady state is the artifact scan)."""
    df = similarity._neardup_pair_build(spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = formatted_plan(df)
    assert "label" not in plan  # blocking key is the LSH signature
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = similarity._band_signatures(
        emb, similarity.lsh_band_bits(emb.count())
    )
    # every vector emits one signature per band
    n_vec = sigs.select("vec_id").distinct().count()
    assert sigs.count() == n_vec * similarity.LSH_BANDS


def test_funnel_window_is_per_user_not_global(spark, sf_dir):
    """No cartesian in the funnel plan, and the round-11 cumulative
    flag windows are PARTITIONED BY user_id — per-user sort state,
    same bound as the sessionized operators, never a global sort.
    (Renamed from test_funnel_stages_are_equi_joins per r11 ADVICE:
    after the window rewrite there are no stage joins to assert on,
    so the partitioning IS the scale contract.)"""
    df = analytics.event_funnel(spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = formatted_plan(df)
    assert "Window" in plan
    # the flag windows' one exchange hashes on user_id (a global-sort
    # funnel would need a rangepartitioning exchange below the Window)
    assert "hashpartitioning(user_id" in plan


def test_cube_is_single_expand_aggregate(spark, sf_dir):
    """CUBE must compile to one Expand + hash aggregate over the
    scan — not a union of four aggregate plans (4× the scan cost)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        relational_ext,
    )

    df = relational_ext.part_cube_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Expand") >= 1
    assert "Union" not in plan  # not 4 unioned aggregate plans
    assert plan.count("Location: InMemoryFileIndex") == 1  # one scan


def test_rolling_window_sees_daily_rows_not_events(spark, sf_dir):
    """The moving-average window must sit above the daily aggregate:
    a hash aggregate appears below the window sort, so the
    single-partition section only ever handles ~days rows."""
    df = analytics.QUERIES["rolling_value_7d"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" in plan
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1


def test_forecast_revenue_predicates_reach_scan(spark, sf_dir):
    """Q6's selectivity only pays off if the band predicates push to
    parquet — all three filter columns must appear in PushedFilters."""
    df = analytics.QUERIES["forecast_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col


def test_shipping_priority_broadcasts_customers(spark, sf_dir):
    df = analytics.QUERIES["shipping_priority"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    assert not has_cartesian_product(df)
    # top-10 must be TakeOrderedAndProject, not a full global sort
    assert "TakeOrderedAndProject" in plan


def test_new_tpch_shapes_broadcast_and_no_cartesian(spark, sf_dir):
    """Round-3 shapes: the part dimension must broadcast into the
    fact scan (never shuffle it), and the per-part average join in
    the Q17 shape must stay an equi-join."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        relational_ext,
    )

    for fn in (
        relational_ext.promo_revenue_share,
        relational_ext.brand_supplier_counts,
        relational_ext.quantity_band_revenue,
    ):
        df = fn(spark, sf_dir)
        assert has_broadcast_hash_join(df), fn.__name__
        assert not has_cartesian_product(df), fn.__name__
    df = relational_ext.small_quantity_revenue(spark, sf_dir)
    assert not has_cartesian_product(df)


def test_new_users_daily_pushes_purchase_filter(spark, sf_dir):
    df = analytics.QUERIES["new_users_daily"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "event_type" in pushed  # purchase filter reaches the scan
    schemas = " ".join(read_schemas(df))
    assert "props" not in schemas  # column pruning holds


def test_robust_stats_has_no_python_stage(spark, sf_dir):
    """The round-3 rewrite must keep median/MAD fully JVM-side — no
    Arrow/Python evaluation anywhere in the plan."""
    for name in ("event_type_robust_stats", "value_robust_outlier_rates"):
        plan = formatted_plan(analytics.QUERIES[name](spark, sf_dir))
        assert "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_starjoin_dims_broadcast_facts_shuffle(spark, sf_dir):
    """Q5/Q7/Q8/Q10 shapes: every dimension side broadcasts; no
    cartesian products; the lineitem scan is column-pruned."""
    from tableau_dashboard_performance_etl_automation_spark.operators import starjoins

    for fn in (
        starjoins.QUERIES["local_supplier_revenue"],
        starjoins.QUERIES["nation_trade_flows"],
        starjoins.QUERIES["nation_market_share"],
        starjoins.QUERIES["returned_item_revenue"],
    ):
        df = fn(spark, sf_dir)
        assert has_broadcast_hash_join(df), fn.__name__
        assert not has_cartesian_product(df), fn.__name__
        schemas = " ".join(read_schemas(df))
        assert "l_comment" not in schemas and "l_tax" not in schemas, (
            fn.__name__
        )


def test_returned_items_topk_is_heap_not_sort(spark, sf_dir):
    """Q10's LIMIT 20 must compile to TakeOrderedAndProject
    (per-partition heaps), never a global sort of all customers."""
    from tableau_dashboard_performance_etl_automation_spark.operators import starjoins

    plan = formatted_plan(starjoins.QUERIES["returned_item_revenue"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_top_supplier_scalar_max_broadcasts(spark, sf_dir):
    """Q15's scalar-max compare must be a 1-row broadcast into the
    per-supplier aggregate, not a shuffle or a second full scan
    feeding a sort."""
    from tableau_dashboard_performance_etl_automation_spark.operators import starjoins

    plan = formatted_plan(starjoins.QUERIES["top_supplier_revenue"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert not has_cartesian_product(
        starjoins.QUERIES["top_supplier_revenue"](spark, sf_dir)
    )


def test_chunking_is_single_scan_no_python(spark, sf_dir):
    """Chunking/pair-count/mixture passes: one documents scan each,
    no Python stages, no joins at all except the 1-row broadcast
    total in the mixture query."""
    from tableau_dashboard_performance_etl_automation_spark.operators import chunking

    for fn, max_scans in (
        (chunking.doc_chunks, 1),
        (chunking.bpe_pair_counts, 1),
        # the mixture query's 1-row total re-derives from the grouped
        # aggregate, which Spark plans as a second (narrow) scan
        (chunking.source_mixture_weights, 2),
    ):
        df = fn(spark, sf_dir)
        plan = formatted_plan(df)
        assert "ArrowEvalPython" not in plan, fn.__name__
        assert "BatchEvalPython" not in plan, fn.__name__
        assert len(read_schemas(df)) <= max_scans, fn.__name__


def test_scd2_is_one_scan_one_window(spark, sf_dir):
    """The SCD2 build must stay a single events scan + per-user
    window + aggregate — no self-join, no Python stage."""
    from tableau_dashboard_performance_etl_automation_spark.operators import history

    df = history.scd2_user_bands(spark, sf_dir)
    plan = formatted_plan(df)
    assert len(read_schemas(df)) == 1
    assert "ArrowEvalPython" not in plan
    assert not has_cartesian_product(df)


def test_fk_audit_anti_joins_broadcast_dimension_parents(spark, sf_dir):
    """FK audit: anti joins only, no cartesian; dimension-sized
    parents (nation/region/part/supplier/customer) broadcast."""
    from tableau_dashboard_performance_etl_automation_spark.operators import history

    df = history.QUERIES["fk_integrity_audit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert not has_cartesian_product(df)
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_priority_return_orders_is_left_semi(spark, sf_dir):
    """Q4 shape: EXISTS must plan as a semi join (one probe per
    order, build side deduped) with the returnflag filter pushed to
    the lineitem scan."""
    from tableau_dashboard_performance_etl_automation_spark.operators import subqueries

    df = subqueries.QUERIES["priority_return_orders"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert not has_cartesian_product(df)
    assert "l_returnflag" in " ".join(pushed_filters(df))


def test_min_cost_supplier_no_window_no_join_back(spark, sf_dir):
    """Q2 shape: the decorrelated argmax must stay an aggregate —
    no rank window over the (part, supplier) spend table and no
    re-scan join-back of lineitem."""
    from tableau_dashboard_performance_etl_automation_spark.operators import subqueries

    df = subqueries.min_cost_supplier(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan
    # exactly one lineitem scan: ReadSchema mentioning l_extendedprice
    li_scans = [s for s in read_schemas(df) if "l_extendedprice" in s]
    assert len(li_scans) == 1
    assert "BroadcastHashJoin" in plan  # supplier dim broadcasts


def test_nation_year_profit_dims_broadcast(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import subqueries

    df = subqueries.QUERIES["nation_year_profit"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert not has_cartesian_product(df)


def test_disjunctive_band_revenue_pushes_envelope(spark, sf_dir):
    """Q19 shape: the OR's bounding envelope must reach both scans;
    the join must stay an equi-join on partkey."""
    from tableau_dashboard_performance_etl_automation_spark.operators import subqueries

    df = subqueries.QUERIES["disjunctive_band_revenue"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed
    assert "p_size" in pushed
    assert not has_cartesian_product(df)


def test_pii_scrub_is_single_scan_no_python(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import scrubbing

    df = scrubbing.pii_scrub_stats(spark, sf_dir)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert len(read_schemas(df)) == 1
    schemas = " ".join(read_schemas(df))
    assert "lang" not in schemas  # pruned to (doc_id, text)


def test_packing_plan_single_scan_one_window(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import chunking

    df = chunking.sequence_packing_plan(spark, sf_dir)
    plan = formatted_plan(df)
    assert len(read_schemas(df)) == 1
    assert "ArrowEvalPython" not in plan
    assert not has_cartesian_product(df)


def test_rolling_distinct_anchors_broadcast(spark, sf_dir):
    """The interval join must broadcast the calendar-sized anchor set;
    the distinct pre-aggregation must come before the fanout."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        relational_ext,
    )

    df = relational_ext.rolling_distinct_users_7d(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    # the range condition rides a broadcast nested-loop whose build
    # side is the anchor list — bounded 7x fanout, not a cartesian
    # over raw events (the pre-join distinct is in the plan)
    assert "BroadcastNestedLoopJoin" in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """A selective filter on one join side must semi-propagate into
    the fact scan as a runtime bloom filter when the sizes warrant it.
    Default thresholds fire at 10 GB scans (the 100 TB regime);
    lowered here only to make the toy-scale plan demonstrate the
    contract."""
    from pyspark.sql import functions as F

    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan  # built from the filtered side
        assert "might_contain" in plan  # applied on the fact scan side
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_poisson_sample_is_narrow_zero_shuffle(spark, sf_dir):
    """The Poisson sampler must compile to a pure scan+filter+project
    — zero exchanges — or it is not the per-row-independent shape
    that makes it streaming/distribution-safe."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        sampling,
    )

    df = sampling.poisson_token_sample(spark, sf_dir)
    # the trailing orderBy exists for deterministic driver hashing;
    # contract applies to the sampling computation itself
    body = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in body and "Aggregate" not in body
    assert not has_cartesian_product(df)


def test_cms_grid_broadcasts_to_probes(spark, sf_dir):
    """The D×W counter grid (≤1024 cells) must broadcast into the
    probe join — shipping the grid, never shuffling the keys to it."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        sketches,
    )

    df = sketches.heavy_hitter_users_cms(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    assert not has_cartesian_product(df)


def test_incremental_newbatch_is_equijoin_probe(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        dedup,
    )

    df = dedup.dedup_incremental_newbatch(spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_incremental_newbatch_index_side_joins_with_no_exchange(
    spark, sf_dir
):
    """The probe must read the persisted band index bucket-co-located:
    the index side contributes a bucketed scan with NO Exchange above
    it — cost of an incremental dedup stays ∝ batch, never ∝ corpus."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        dedup,
    )

    df = dedup.dedup_incremental_newbatch(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Bucketed: true" in plan, "probe is not reading the bucketed index"
    # walk the formatted-plan operator tree: the index scan's
    # ancestors up to the probe join must contain no Exchange
    idx_scan = next(
        line
        for line in plan.splitlines()
        if "Scan" in line and dedup.BAND_INDEX_TABLE in line
    )
    scan_id = idx_scan.split("(")[1].split(")")[0]
    # formatted plans list each operator with "Input [n]: ..." blocks;
    # simpler and robust: no ShuffleExchange may reference the index
    # scan's output attributes. The index columns are existing_id /
    # band sides only — assert no Exchange hashpartitioning on
    # existing_id at all (the only index-exclusive attribute).
    for line in plan.splitlines():
        if "Exchange" in line and "existing_id" in line:
            raise AssertionError(
                f"index-side exchange found: {line.strip()} (scan {scan_id})"
            )


def test_banding_precision_no_cartesian_no_python(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        dedup,
    )

    df = dedup.minhash_banding_precision(spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_decayed_scores_anchor_is_broadcast(spark, sf_dir):
    """The 1-row max-date anchor must ride a broadcast, and the heavy
    aggregate must be the bounded (type, age_day) pre-aggregate."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        analytics,
    )

    df = analytics.decayed_event_scores(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _window_fed_by_aggregate(plan: str) -> bool:
    """True iff every Window operator's input subtree reaches a
    HashAggregate before any parquet scan — i.e. windows sort
    COMPACTIONS (value domains), never raw rows. The tree prints
    parents above children, so scan the lines below each Window."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window (" not in line:
            continue
        for below in lines[i + 1 :]:
            if "HashAggregate" in below:
                break
            if "Scan parquet" in below:
                return False
    return True


def test_order_quartiles_window_sorts_values_not_rows(spark, sf_dir):
    """The boundary-based NTILE rewrite: the per-priority window must
    run over the (priority, price, count) COMPACTION — i.e. a hash
    aggregate feeds the window — so no task ever sorts a priority's
    raw row set (the r4 plan's 100×-scale killer)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import relational_ext

    df = relational_ext.order_quartiles(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # r11: the per-key total folds into a whole-partition window sum
    # over the same partitioning — no totals join of any kind remains
    # (was: second aggregate of the compaction + broadcast join-back)
    assert "Join" not in plan
    assert _window_fed_by_aggregate(plan)


def test_pareto_window_runs_over_revenue_compaction(spark, sf_dir):
    """customer_revenue_pareto's cumulative window must consume the
    (revenue, count) compaction (hash aggregate upstream), and the
    totals/threshold sides must broadcast."""
    from tableau_dashboard_performance_etl_automation_spark.operators import cohorts

    df = cohorts.customer_revenue_pareto(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the 1-row totals / 4-row thresholds attach as BROADCAST nested
    # loop joins (no equi keys exist), never a shuffled cross product
    assert "BroadcastNestedLoopJoin" in plan
    assert _window_fed_by_aggregate(plan)


def test_funnel_stages_join_without_cartesian_or_python(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import cohorts

    df = cohorts.session_funnel_conversion(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan  # pure JVM pipeline


def test_tfidf_topk_compiles_to_take_ordered(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import textstats

    df = textstats.tfidf_top_terms(spark, sf_dir)
    plan = formatted_plan(df)
    # sort+limit must fuse: no global sort materializes for the top-k
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ivf_postings_scan_prunes_to_probed_clusters(spark, sf_dir):
    """The persisted IVF posting lists (parquet partitioned by
    cent_id) must be read with DYNAMIC PARTITION PRUNING from the
    broadcast query side — the scan touches only probed clusters'
    files, the read behavior a real IVF index exists to provide."""
    from tableau_dashboard_performance_etl_automation_spark.operators import similarity

    df = similarity.ann_ivf_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ivf_postings" in plan
    assert "dynamicpruning" in plan


def test_semantic_prune_is_equijoin_over_postings(spark, sf_dir):
    df = similarity.semantic_dedup_prune(spark, sf_dir)
    plan = formatted_plan(df)
    # within-cluster pairs come from an equi-join on cent_id over the
    # persisted posting lists — never a cartesian pair enumeration
    assert not has_cartesian_product(df)
    # extraction is JVM-side: no Python stage anywhere in the plan
    assert "Python" not in plan


def test_winnowing_has_no_window_and_no_cartesian(spark, sf_dir):
    df = dedup.winnowing_overlap_pairs(spark, sf_dir)
    plan = formatted_plan(df)
    # fingerprint extraction is array-side inside a projection; the
    # per-doc window-sort formulation must not creep back in
    assert "Window" not in plan
    assert not has_cartesian_product(df)
    assert "Python" not in plan


def test_dedup_weighted_sample_broadcasts_family_sizes(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering

    df = clustering.dedup_weighted_sample(spark, sf_dir)
    plan = formatted_plan(df)
    # the family-size side is label-census sized → must broadcast
    # into the corpus scan, not shuffle the corpus
    assert "BroadcastHashJoin" in plan
    assert not has_cartesian_product(df)


def test_hll_is_two_hash_aggregates_no_join_on_corpus(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import sketches

    df = sketches.hll_distinct_users(spark, sf_dir)
    plan = formatted_plan(df)
    # register maxima + per-type reduction: hash aggregates with
    # map-side partial combine; no sort-based aggregation path
    assert "HashAggregate" in plan
    assert not has_cartesian_product(df)
    assert "Python" not in plan


def test_consistent_hash_rebalance_broadcast_interval_probe(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling

    df = profiling.consistent_hash_rebalance(spark, sf_dir)
    plan = formatted_plan(df)
    # ownership = range probe against the S·V+1 broadcast interval
    # table (replaced the ring-literal lambda fold, which cost ~3.5 s
    # of per-run driver analysis); the corpus side must not shuffle
    # and the ring must arrive as a broadcast, never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert not has_cartesian_product(df)
    # the ring arrives as local-collection DATA (an ExistingRDD scan
    # mentioning "PythonRDD" — driver-side, 129/145 rows); what must
    # NOT appear is a per-row Python execution stage
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_sorted_neighborhood_has_no_join(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import linkage

    df = linkage.part_sorted_neighborhood(spark, sf_dir)
    plan = formatted_plan(df)
    # pair generation is lead() inside block windows, never a join
    assert "Join" not in plan
    assert not has_cartesian_product(df)


def test_gini_window_runs_over_value_compaction(spark, sf_dir):
    """nation_revenue_gini's per-nation cumulative window must consume
    the (nation, revenue, count) compaction — a hash aggregate feeds
    the window, so no task sorts a nation's raw customer set — and the
    25-row nation dim must attach as a broadcast."""
    from tableau_dashboard_performance_etl_automation_spark.operators import cohorts

    df = cohorts.nation_revenue_gini(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert has_broadcast_hash_join(df)
    assert _window_fed_by_aggregate(plan)


def test_lorenz_grids_broadcast_over_compaction_window(spark, sf_dir):
    """customer_revenue_lorenz: cumulative window over the (revenue,
    count) compaction; the 1-row totals and 10-row decile grid attach
    as broadcast nested-loop joins (range predicate — no equi keys),
    never a shuffled cross product."""
    from tableau_dashboard_performance_etl_automation_spark.operators import cohorts

    df = cohorts.customer_revenue_lorenz(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert _window_fed_by_aggregate(plan)


def test_erasure_audit_cascade_is_semi_joins(spark, sf_dir):
    """customer_erasure_audit: the cascade must compile to LeftSemi
    joins (orders against the purged-customer keys, lineitem against
    the purged-order keys) — no row duplication anywhere — and the
    per-table totals must ride broadcasts."""
    from tableau_dashboard_performance_etl_automation_spark.operators import scrubbing

    df = scrubbing.customer_erasure_audit(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_prefix_filter_join_no_cartesian_no_python(spark, sf_dir):
    """dedup_prefix_filter_pairs: candidates come from an equi-join on
    prefix shingles and verification from equi-joins on doc keys — no
    cartesian stage, no Python stage anywhere (pure codegen path)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import dedup

    df = dedup.dedup_prefix_filter_pairs(spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_link_prediction_wedge_join_no_cartesian_no_python(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering

    df = clustering.neardup_link_prediction(spark, sf_dir)
    plan = formatted_plan(df)
    # wedge enumeration + anti-join must stay equi-join shaped
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_brand_affinity_broadcasts_dims_and_totals(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import relational_ext

    df = relational_ext.brand_affinity_topk(spark, sf_dir)
    plan = formatted_plan(df)
    # part dim and the |brands|-row totals broadcast; the pair stage
    # is an equi-join on the customer key, never a cartesian
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_brand_affinity_warm_run_reads_artifact_not_facts(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.operators import relational_ext

    # first call may build the persisted (customer, brand) artifact;
    # the SECOND call's plan must read the artifact scan only — the
    # lineitem/orders fact join exists solely inside the build
    relational_ext.brand_affinity_topk(spark, sf_dir).count()
    df = relational_ext.brand_affinity_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert "cust_brand" in plan
    assert "lineitem" not in plan
    assert "orders.parquet" not in plan


def test_price_rank_gaps_topk_is_group_limited_not_full_sort(spark, sf_dir):
    """The two-phase leaderboard rewrite: phase 1 must compile to
    WindowGroupLimit (Partial+Final) partitioned on
    (priority, spark_partition_id) — so only ~11 rows per group leave
    the map side and no task ever sorts a whole priority's rows — and
    percent_rank must be gone from the plan (computed arithmetically
    from the broadcast per-key count instead of a full-partition
    window)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import relational_ext

    df = relational_ext.price_rank_gaps(spark, sf_dir)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "_spid" in plan  # local window bounded by the input split
    assert "percent_rank" not in plan
    assert has_broadcast_hash_join(df)  # per-key n attaches broadcast
    assert "CartesianProduct" not in plan


def test_quantile_normalized_quality_windows_are_tie_group_bounded(
    spark, sf_dir
):
    """The value-domain percent_rank rewrite: no percent_rank window
    survives; the cumulative-offset window runs over the
    (source, quality) COMPACTION, and the only raw-row window is the
    tie-group row_number — partitioned by (source, quality), never by
    source alone, so its state is one rounded-score tie group."""
    import re

    from tableau_dashboard_performance_etl_automation_spark.operators import textops

    df = textops.quantile_normalized_quality(spark, sf_dir)
    plan = formatted_plan(df)
    assert "percent_rank" not in plan
    assert "CartesianProduct" not in plan
    # every row_number windowspec includes quality in its partition
    for spec in re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)", plan):
        assert "quality" in spec, spec


def test_quality_percentile_filter_folds_to_value_domain(spark, sf_dir):
    """The adaptive-quartile filter must contain NO per-row window:
    the single window runs over the (source, n_words, count)
    compaction (hash aggregate upstream) and row_number is absent —
    the straddling tie group's members share one n_words value, so no
    doc-level rank is ever materialized."""
    from tableau_dashboard_performance_etl_automation_spark.operators import curation

    df = curation.quality_percentile_filter(spark, sf_dir)
    plan = formatted_plan(df)
    assert "row_number" not in plan
    assert _window_fed_by_aggregate(plan)
    assert "CartesianProduct" not in plan


def test_brand_affinity_cold_build_join_has_no_fact_exchange(
    spark, sf_dir
):
    """The cold (customer, brand) build over bucketed facts: with
    non-hinted broadcasts disabled (forcing the join shape a 256×
    corpus would force anyway), the orders⋈lineitem join must read
    both bucketed layouts co-located — NO shuffle Exchange keyed on
    either order key.  (The distinct() exchange on (custkey, brand)
    and the explicit part broadcast are expected.)"""
    from tableau_dashboard_performance_etl_automation_spark.operators import relational_ext

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = relational_ext._cold_cb_build(spark, sf_dir)
        plan = formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "orderkey" in line:
            raise AssertionError(
                f"fact-side exchange found: {line.strip()}"
            )


def test_golden_records_warm_run_reads_label_artifact(spark, sf_dir):
    """Warm entity-resolution runs must read the persisted
    part_match_labels artifact — the FS candidate joins and the CC
    fixpoint exist only inside the first-ever build for a corpus."""
    from tableau_dashboard_performance_etl_automation_spark.operators import linkage

    linkage.part_golden_records(spark, sf_dir).count()  # may build
    df = linkage.part_golden_records(spark, sf_dir)
    plan = formatted_plan(df)
    assert "part_match_labels" in plan
    # the artifact scan replaces the blocked self-join: levenshtein
    # (the FS scorer) must be gone from the warm plan
    assert "levenshtein" not in plan
    assert "CartesianProduct" not in plan


def test_skewsafe_join_exchanges_on_salted_key(spark, sf_dir):
    """The salted join's contract: the fact side exchanges on
    (user_id, salt) — never on user_id alone — and the dim side is
    the replicated (explode) build, so one hot user's rows spread
    over JOIN_SALTS reducers."""
    from tableau_dashboard_performance_etl_automation_spark.operators import relational_ext

    df = relational_ext.skewsafe_user_join(spark, sf_dir)
    plan = formatted_plan(df)
    assert "salt" in plan
    assert "explode" in plan.lower()
    assert "CartesianProduct" not in plan


def test_perf_budget_gate_heavies_carry_scale_evidence():
    """Registration-time perf budget (round-7): any query whose last
    recorded sf0.1 bench time exceeds the budget must appear in
    PERF.md — the convention (previously manual discipline) that a
    heavy query ships WITH its scale evidence: a ladder cell or a
    worked cost analysis. The budget floor is 2 s, HOST-NORMALIZED
    (round-11): bench.py records a fixed synthetic calibration probe
    (``host_probe_seconds``) whose only variable is box speed —
    0.70 s on the builder box — so on a slower recording host the
    floor scales by probe/0.70 instead of flagging host drift as a
    query regression (round 9→10: a uniform ~1.24× box slowdown with
    zero plan changes pushed one query over the fixed floor). The
    3×-median relative guard stays as a second, probe-free defense."""
    import json
    import os
    import statistics

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    detail = os.path.join(root, "BENCH_DETAIL.json")
    if not os.path.exists(detail):
        import pytest

        pytest.skip("no BENCH_DETAIL.json recorded yet")
    with open(detail) as fh:
        bench = json.load(fh)
    timings = bench["queries"]
    if not timings:
        return
    # builder-box reference for bench.host_probe IN ITS RECORDING
    # CONTEXT (inside bench.py after the full warm-up pass, where the
    # JVM is hotter than a standalone session): in-bench samples
    # 0.445 / 0.556 → 0.50. Recalibrate if the probe workload or its
    # position in the harness ever changes.
    host_probe_ref = 0.50
    host_factor = max(
        1.0, bench.get("host_probe_seconds", host_probe_ref) / host_probe_ref
    )
    # Core-count handicap (round 12): the floor is calibrated for the
    # standard 32-core regime; a reduced-core scaling-probe run (the
    # driver benches at a lower SPARK_GRAFT_CPUS to measure per-query
    # scaling) slows the CPU-parallel scan/agg heavies near-linearly
    # while the synthetic probe does NOT capture that (it normalizes
    # box speed, not core count — observed: the driver's r11 c8
    # refresh landed as the committed BENCH_DETAIL and six
    # plan-unchanged TPC-H scan heavies tripped the 32-core floor).
    # Scale the absolute floor by the core deficit; the 3×-median
    # relative guard below is core-count-free and stays as-is.
    core_factor = max(1.0, 32.0 / max(1, bench.get("cpus", 32)))
    budget = max(
        2.0 * host_factor * core_factor,
        3.0 * statistics.median(timings.values()),
    )
    with open(os.path.join(root, "PERF.md")) as fh:
        perf = fh.read()
    missing = sorted(
        name
        for name, sec in timings.items()
        if sec > budget and name not in perf
    )
    assert not missing, (
        f"queries over the {budget:.2f}s bench budget without PERF.md "
        f"scale evidence (add a ladder cell via `tools/ladder.py "
        f"fact|corpus`, or a worked cost analysis): "
        f"{missing}"
    )


def test_range_exchanges_sees_python_input(spark):
    """``range_exchanges`` flags a range exchange fed by a pandas UDF,
    not one over the scan below it, and sees none under a one-partition
    sort."""

    def ident(batches):
        yield from batches

    base = spark.range(100)
    udf_then_sort = base.mapInPandas(ident, "id long").orderBy("id")
    range_then_udf = base.repartitionByRange("id").mapInPandas(ident, "id long")
    assert range_exchanges(udf_then_sort) == [True]
    assert range_exchanges(range_then_udf) == [False]
    assert range_exchanges(base.repartition(1).orderBy("id")) == []


def test_range_sorts_are_the_growing_results(registry):
    """Every registered query at sf0.001: its plan has a range exchange
    exactly when it is in ``RANGE_SORTED``, and no range exchange is fed
    by a Python stage, whose UDF the range-bounds sampling job would
    run a second time."""
    assert len(set(RANGE_SORTED)) == len(RANGE_SORTED)
    frames, _readers = registry
    ranged, python_fed = set(), set()
    for name, df in frames.items():
        exchanges = range_exchanges(df)
        if exchanges:
            ranged.add(name)
        if any(exchanges):
            python_fed.add(name)
    assert sorted(ranged - set(RANGE_SORTED)) == []
    assert sorted(set(RANGE_SORTED) - ranged) == []
    assert sorted(python_fed) == []


@pytest.mark.parametrize(
    "name,keys",
    [
        ("multimodal_binary_meta", ("doc_id",)),
        ("multimodal_frame_sample", ("doc_id", "frame_idx")),
        ("multimodal_thumbnail", ("doc_id",)),
        ("multimodal_audio_windows", ("doc_id", "win_idx")),
    ],
)
def test_per_row_udf_results_keep_global_order(spark, sf_dir, name, keys):
    """Range-partitioned on ``doc_id`` before the UDF and sorted within
    each partition after it, the rows still come back in global key
    order, also with every range kept as its own partition."""
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        df = QUERIES[name](spark, sf_dir)
        rows = [tuple(r) for r in df.select(*keys).collect()]
    finally:
        spark.conf.set(conf, saved)
    assert len(rows) > 1
    assert rows == sorted(rows)
