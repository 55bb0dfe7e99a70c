"""Invariant tests for the round-5b operators (SemDeDup semantic
prune, DSIR importance scores, hand-rolled HyperLogLog). Value-level
parity with DuckDB is the mirror/driver gate's job; these pin the
semantic invariants that must hold on ANY corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.operators import (
    dedup,
    sketches,
    similarity,
    textops,
)

SF = "/root/testdata/sf0.001"


def test_semantic_prune_dominators_are_lower_id_and_kept_closed(spark):
    pruned = similarity.semantic_dedup_prune(spark, SF).collect()
    assert pruned, "expected at least one semantic duplicate"
    pruned_ids = {r.vec_id for r in pruned}
    for r in pruned:
        # min-id dominance: the dominating duplicate is strictly older
        assert r.dup_of < r.vec_id
        assert r.cos4 >= similarity.SEMDEDUP_TAU
    # a vector pruned BY r.dup_of may itself be pruned only by an even
    # lower id — so the set of dominators that are themselves unpruned
    # must be non-empty (the kept side is never empty per cluster used)
    assert any(r.dup_of not in pruned_ids for r in pruned)


def test_semantic_summary_accounts_for_every_vector(spark):
    summary = similarity.semantic_dedup_summary(spark, SF).collect()
    n_corpus = (
        similarity._emb(spark, SF).count()
    )
    assert sum(r.n_vecs for r in summary) == n_corpus
    pruned = similarity.semantic_dedup_prune(spark, SF).count()
    assert sum(r.n_pruned for r in summary) == pruned
    for r in summary:
        assert r.n_kept + r.n_pruned == r.n_vecs
        assert 0.0 <= r.prune_frac <= 1.0


def test_dsir_selects_target_language_disproportionately(spark):
    sel = textops.dsir_target_scores(spark, SF).collect()
    assert len(sel) == min(
        textops.DSIR_TOP_N,
        spark.read.parquet(f"{SF}/documents.parquet").count(),
    )
    # scores are sorted descending under the registered tie order
    scores = [r.dsir_score for r in sel]
    assert scores == sorted(scores, reverse=True)
    # the point of DSIR: the selected slice is enriched in the target
    # language relative to the corpus base rate
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = (
        docs.filter(F.col("lang") == textops.DSIR_TARGET_LANG).count()
        / docs.count()
    )
    sel_rate = sum(
        1 for r in sel if r.lang == textops.DSIR_TARGET_LANG
    ) / len(sel)
    assert sel_rate > base


def test_hll_estimate_tracks_exact_within_sketch_error(spark):
    rows = sketches.hll_distinct_users(spark, SF).collect()
    assert rows
    # 1.04/sqrt(m) standard error; allow 4 sigma before calling the
    # estimator broken
    tol = 4 * 1.04 / (sketches.HLL_M ** 0.5)
    for r in rows:
        assert r.n_exact > 0
        assert abs(r.rel_err) <= tol, (
            f"{r.event_type}: rel_err {r.rel_err} beyond {tol}"
        )
        assert abs(r.hll_estimate / r.n_exact - 1 - r.rel_err) < 1e-3


def test_hll_registers_merge_pointwise(spark):
    """The sketch state must be mergeable: register maxima computed
    on two disjoint halves of the events table, merged by pointwise
    max, must equal the single-pass register maxima — the property
    that lets the sketch partial-aggregate map-side and merge across
    executors/streams."""
    events = spark.read.parquet(f"{SF}/events.parquet")
    h = F.md5(F.col("user_id").cast("string"))
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import md5_hex_int

    reg = md5_hex_int(h, 1, 2) % sketches.HLL_M
    w = (
        md5_hex_int(h, 3, 4).cast("bigint") * 65536
        + md5_hex_int(h, 7, 4).cast("bigint")
    )
    rho = (
        F.length(
            F.regexp_extract(F.lpad(F.bin(w), 32, "0"), "^0*", 0)
        )
        + 1
    )
    tagged = events.select(
        "event_type",
        reg.alias("reg"),
        rho.alias("rho"),
        (F.col("event_id") % 2).alias("half"),
    )
    whole = {
        (r.event_type, r.reg): r.m
        for r in tagged.groupBy("event_type", "reg")
        .agg(F.max("rho").alias("m"))
        .collect()
    }
    halves = (
        tagged.groupBy("event_type", "reg", "half")
        .agg(F.max("rho").alias("m"))
        .collect()
    )
    merged: dict = {}
    for r in halves:
        k = (r.event_type, r.reg)
        merged[k] = max(merged.get(k, 0), r.m)
    assert merged == whole


def test_attribution_twin_clicks_precede_within_gap(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import streaming_twins

    rows = streaming_twins.purchase_click_attribution_final(
        spark, SF
    ).collect()
    assert rows, "expected attributed pairs"
    gap_ms = streaming_twins.CLICK_WINDOW_MIN * 60 * 1000
    for r in rows:
        assert 0 <= r.purchase_ms - r.click_ms <= gap_ms


def test_cluster_balanced_sample_flattens_quota(spark):
    sample = similarity.cluster_balanced_sample(spark, SF).collect()
    assert sample
    per = {}
    for r in sample:
        per.setdefault(r.cent_id, []).append(r.pick_rank)
    sizes = {
        r.cent_id: r.n_vecs
        for r in similarity.semantic_dedup_summary(spark, SF).collect()
    }
    for cid, ranks in per.items():
        want = min(similarity.CLUSTER_SAMPLE_PER, sizes[cid])
        assert sorted(ranks) == list(range(1, want + 1))
    # every cluster with any vectors is represented
    assert set(per) == {cid for cid, n in sizes.items() if n > 0}


def test_dedup_weighted_sample_downweights_families(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering

    kept = clustering.dedup_weighted_sample(spark, SF).collect()
    assert kept
    for r in kept:
        assert r.cluster_size >= 1
        # HT weight = 1/p = cluster_size / base_rate
        assert abs(
            r.ht_weight
            - r.cluster_size * 100.0 / clustering.DWS_BASE_PCT
        ) < 1e-6
    # singletons keep at roughly the base rate; the md5 uniform makes
    # this deterministic per corpus, so pin loose structural bounds
    singles = [r for r in kept if r.cluster_size == 1]
    docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < len(singles) <= docs


def test_winnowing_fingerprints_match_python_oracle(spark):
    """Replay Schleimer et al.'s winnowing in plain Python for a few
    documents and compare against the operator's window-min pipeline
    (engine-level check; cross-engine parity is the mirror's job)."""
    import hashlib

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(5)
        .collect()
    )
    K, W = dedup.WINNOW_K, dedup.WINNOW_W

    def py_fps(text: str) -> set:
        w = text.split(" ")
        grams = [
            " ".join(w[i : i + K]) for i in range(len(w) - K + 1)
        ]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return {
            min(hs[i : i + W]) for i in range(len(hs) - W + 1)
        }

    from pyspark.sql import functions as SF_
    from pyspark.sql.window import Window
    from tableau_dashboard_performance_etl_automation_spark.functions.text import word_shingles, words

    arr = word_shingles(k=K)
    sh = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(SF_.col("doc_id").isin([r.doc_id for r in docs]))
        .withColumn("w", words())
        .filter(SF_.size("w") >= K)
        .select(
            "doc_id",
            SF_.size(arr).alias("nsh"),
            SF_.posexplode(arr).alias("pos", "sh"),
        )
        .withColumn("h", SF_.md5("sh"))
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        0, W - 1
    )
    got: dict = {}
    for r in (
        sh.withColumn("fp", SF_.min("h").over(win))
        .filter(SF_.col("pos") <= SF_.col("nsh") - W)
        .select("doc_id", "fp")
        .distinct()
        .collect()
    ):
        got.setdefault(r.doc_id, set()).add(r.fp)
    for d in docs:
        want = py_fps(d.text)
        if len(d.text.split(" ")) - K + 1 >= W:
            assert got.get(d.doc_id) == want, f"doc {d.doc_id}"
        else:
            assert d.doc_id not in got


def test_winnowing_pairs_are_valid(spark):
    rows = dedup.winnowing_overlap_pairs(spark, SF).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.n_shared >= dedup.WINNOW_MIN_SHARED
        assert 0.0 < r.overlap_frac <= 1.0


def test_ivf_centroid_dial():
    assert similarity.ivf_n_centroids(0) == similarity.IVF_MIN_CENTROIDS
    assert similarity.ivf_n_centroids(500) == 16      # test corpora
    assert similarity.ivf_n_centroids(2000) == 40     # sf0.1
    assert similarity.ivf_n_centroids(32000) == 176
    # sqrt scaling keeps within-cluster pair space ~n^1.5
    assert similarity.ivf_n_centroids(10**9) == 31616
    assert (
        similarity.ivf_n_centroids(10**10)
        == similarity.IVF_MAX_CENTROIDS
    )


def test_leakfree_split_keeps_families_together(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering

    assign = {
        r.doc_id: (r.rep_id, r.split)
        for r in clustering.leakfree_split_assign(spark, SF).collect()
    }
    labels = {
        r.doc_id: r.cluster_id
        for r in clustering._lsh_cluster_labels(spark, SF).collect()
    }
    assert assign, "expected assignments"
    # every member of a duplicate family gets the family's split
    by_cluster: dict = {}
    for doc, cid in labels.items():
        by_cluster.setdefault(cid, []).append(doc)
    for cid, docs in by_cluster.items():
        splits = {assign[d][1] for d in docs}
        assert len(splits) == 1, f"cluster {cid} split across {splits}"
    # singletons represent themselves
    for doc, (rep, _) in assign.items():
        if doc not in labels:
            assert rep == doc


def test_leakage_report_consistent_with_pairs(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering

    rows = clustering.split_leakage_report(spark, SF).collect()
    n_pairs = dedup.dedup_minhash_lsh(spark, SF).count()
    assert sum(r.n_pairs for r in rows) == n_pairs
    for r in rows:
        assert r.leaks == int(r.split_a != r.split_b)


def test_rrf_fusion_scores_and_membership(spark):
    fused = textops.hybrid_rank_fusion(spark, SF).collect()
    assert fused and len(fused) <= textops.RRF_TOP
    k = textops.RRF_K
    for r in fused:
        want = 0.0
        if r.rank_bm25 is not None:
            want += 1.0 / (k + r.rank_bm25)
        if r.rank_dsir is not None:
            want += 1.0 / (k + r.rank_dsir)
        assert abs(r.rrf_score - round(want, 6)) < 1e-9
        assert r.rank_bm25 is not None or r.rank_dsir is not None
    # docs in BOTH lists dominate same-rank docs in one list
    scores = [r.rrf_score for r in fused]
    assert scores == sorted(scores, reverse=True)


def test_small_cell_report_flags_below_k(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import scrubbing

    rows = scrubbing.small_cell_suppression_report(spark, SF).collect()
    assert rows
    assert any(r.suppress == 1 for r in rows)
    for r in rows:
        assert r.suppress == int(r.n_users < scrubbing.K_ANON)
        assert 0 <= r.dow <= 6
        assert r.n_events >= r.n_users >= 1


def test_token_packing_balances_bins(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import sampling

    bins = sampling.token_packed_bins(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r.n_docs for r in bins) == docs.count()
    totals = [r.total_tokens for r in bins]
    # longest-first striping: bin token totals stay within one
    # max-document of each other is too strict for striping, but the
    # relative imbalance must be small on any non-degenerate corpus
    assert max(totals) - min(totals) <= max(r.max_tokens for r in bins) * 2
    assert max(r.n_docs for r in bins) - min(r.n_docs for r in bins) <= 1


def test_kmv_overlap_tracks_exact_jaccard(spark):
    rows = sketches.kmv_type_overlap(spark, SF).collect()
    assert rows, "expected type pairs"
    # sketch Jaccard standard error ~ 1/sqrt(K); allow 4 sigma
    tol = 4 / (sketches.KMV_K ** 0.5)
    for r in rows:
        assert r.type_a < r.type_b
        assert 0.0 <= r.kmv_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert r.abs_err <= tol, (
            f"{r.type_a}/{r.type_b}: err {r.abs_err} beyond {tol}"
        )


def test_scd2_pit_join_accounts_every_purchase(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import history

    rows = history.scd2_point_in_time_purchases(spark, SF).collect()
    assert rows
    n_joined = sum(r.n_purchases for r in rows)
    n_purchases = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where("event_type = 'purchase'")
        .count()
    )
    # every purchase falls inside its user's own history (it helped
    # build it); boundary double-matches can only add, never drop
    assert n_joined >= n_purchases
    for r in rows:
        assert r.value_cents > 0


def test_bootstrap_ci_brackets_the_mean(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import sampling

    row = sampling.bootstrap_mean_tokens_ci(spark, SF).collect()[0]
    assert row.n_replicates == sampling.BOOT_B
    # half-sample replicate means scatter AROUND the corpus mean;
    # the 95% band must contain it on any non-adversarial corpus
    assert row.ci_lo <= row.mean_tokens <= row.ci_hi
    assert row.ci_lo < row.ci_hi


def test_ht_estimator_is_near_unbiased(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import sampling

    row = sampling.ht_estimated_token_total(spark, SF).collect()[0]
    assert row.n_sampled > 0
    assert row.est_total_tokens > 0
    # a PPS-with-cap HT estimate from a single draw: allow generous
    # but finite error before calling the weights wrong
    assert abs(row.rel_err) < 0.25


def test_cluster_purity_and_margin_shapes(spark):
    purity = similarity.cluster_lang_purity(spark, SF).collect()
    margin = similarity.cluster_centroid_margin(spark, SF).collect()
    assert {r.cent_id for r in purity} == {r.cent_id for r in margin}
    n_corpus = similarity._emb(spark, SF).count()
    assert sum(r.n_vecs for r in purity) == n_corpus
    for r in purity:
        assert 0.0 < r.top_share <= 1.0
        assert r.lang_entropy >= 0.0
        # one-language cluster iff zero entropy
        assert (r.top_share == 1.0) == (r.lang_entropy == 0.0)
    for r in margin:
        # a member's own centroid need not win, but the margin is
        # bounded by the cosine range
        assert -2.0 <= r.min_margin6 <= r.mean_margin6 <= 2.0


def test_winnow_decon_subset_of_kgram_decon(spark):
    """Winnowed fingerprints are a subset of all k-grams, so a doc
    the winnowing pass flags must also hold a shared k-gram with the
    benchmark slice under the same K (no false positives vs the
    denser variant)."""
    win = {
        r.doc_id
        for r in dedup.winnow_decontaminate(spark, SF).collect()
        if r.contaminated
    }
    kgram = {
        r.doc_id
        for r in dedup.benchmark_decontaminate(spark, SF).collect()
        if r.contaminated
    }
    assert win <= kgram


def test_ivf_train_sample_dial():
    # dense rule at gate corpora (bit-identical results guaranteed)
    assert similarity.ivf_train_permille(500, 16) is None
    assert similarity.ivf_train_permille(2000, 40) is None
    # adaptive past the O(K) target; pure integer arithmetic
    t = similarity.TRAIN_TARGET_PER_CENTROID
    pm = similarity.ivf_train_permille(128000, 352)
    assert pm == (1000 * t * 352) // 128000
    # never zero: some training sample always survives
    assert similarity.ivf_train_permille(10**9, 16) >= 1


def test_zorder_shrinks_both_dim_spans(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling

    rows = {
        r.layout: r
        for r in profiling.zorder_layout_stats(spark, SF).collect()
    }
    lin, zo = rows["linear_orderkey"], rows["zorder_cust_day"]
    assert lin.n_buckets > 1 and zo.n_buckets > 1
    # the whole point: z-order's day span must beat linear's
    # (orderkey order carries no day locality), while not giving the
    # customer dimension back up to full width
    full = (1 << profiling.ZORDER_BITS) - 1
    assert zo.avg_day_span < lin.avg_day_span
    assert zo.avg_cust_span < full


def test_es_sample_prefers_heavy_docs(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import sampling

    sel = sampling.weighted_sample_es(spark, SF).collect()
    assert len(sel) == sampling.ES_SAMPLE_N
    assert len({r.doc_id for r in sel}) == len(sel)  # no replacement
    keys = [r.es_key9 for r in sel]
    assert keys == sorted(keys, reverse=True)
    # weighting check: the sample's mean token count exceeds the
    # corpus mean (inclusion odds grow with length)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus_mean = (
        docs.selectExpr("avg(size(split(text, ' ')))").collect()[0][0]
    )
    sample_mean = sum(r.tokens for r in sel) / len(sel)
    assert sample_mean > corpus_mean


def test_markov_stationary_is_a_distribution(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering

    rows = clustering.event_markov_stationary(spark, SF).collect()
    assert rows
    total = sum(r.stationary_micro for r in rows)
    # floor ops shed at most one micro-unit per matrix cell per
    # iteration — the mass stays within rounding of 1.0
    assert (
        clustering.MARKOV_UNIT * 0.999
        <= total
        <= clustering.MARKOV_UNIT
    )
    for r in rows:
        assert r.stationary_micro >= 0
        assert abs(
            r.stationary
            - round(r.stationary_micro / clustering.MARKOV_UNIT, 6)
        ) < 1e-12
