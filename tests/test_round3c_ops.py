"""Round-3c additions: sub-document block dedup, canonicalized dedup,
binary content dedup, and embedding-space decontamination."""

from __future__ import annotations

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.operators import (
    dedup,
    multimodal,
    similarity,
)


def test_subdoc_blocks_accounting(spark, sf_dir):
    out = dedup.dedup_subdoc_blocks(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert 1 <= r.n_blocks
        assert 0 <= r.n_dup_blocks <= r.n_blocks
        assert 0.0 <= r.retained_frac <= 1.0
    # every LATER copy of an exact-duplicate text must retain nothing:
    # all of its blocks were first seen at the keeper's offsets
    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )

    by_text: dict[str, list[int]] = {}
    for r in load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect():
        by_text.setdefault(r.text, []).append(r.doc_id)
    later_copies = {
        d for ids in by_text.values() if len(ids) > 1
        for d in sorted(ids)[1:]
    }
    by_doc = {r.doc_id: r for r in out}
    for d in later_copies:
        assert by_doc[d].retained_frac == 0.0
        assert by_doc[d].n_dup_blocks == by_doc[d].n_blocks


def test_subdoc_blocks_duplicate_doc_retains_zero(spark, sf_dir):
    """Append an exact copy of the corpus' first doc under a larger
    doc_id: the shipped pipeline must flag every one of its blocks."""
    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    first = docs.orderBy("doc_id").limit(1)
    copy = first.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    stats = dedup.subdoc_block_stats(docs.unionByName(copy))
    row = stats.filter(F.col("doc_id") >= 10_000_000).collect()[0]
    assert row.n_dup_blocks == row.n_blocks
    assert row.retained_frac == 0.0


def test_canonical_groups_merge_exact_variants(spark, sf_dir):
    out = dedup.dedup_canonical(spark, sf_dir).collect()
    assert len(out) > 0
    total_members = sum(r.n_members for r in out)
    n_docs = dedup.dedup_exact(spark, sf_dir).agg(
        F.sum("n_copies")
    ).collect()[0][0]
    assert total_members == n_docs  # partition of the corpus
    for r in out:
        assert 1 <= r.n_exact_variants <= r.n_members
    # canonicalization can only merge groups, never split them
    n_exact_groups = dedup.dedup_exact(spark, sf_dir).count()
    assert len(out) <= n_exact_groups


def test_content_dedup_partitions_corpus(spark, sf_dir):
    out = multimodal.multimodal_content_dedup(spark, sf_dir)
    rows = out.collect()
    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    assert sum(r.n_copies for r in rows) == docs.count()
    assert len(rows) == docs.select("text").distinct().count()
    for r in rows:
        assert r.byte_len >= 0 and len(r.content_sig) == 32


def test_embedding_decontaminate_shape_and_flags(spark, sf_dir):
    out = similarity.embedding_decontaminate(spark, sf_dir).collect()
    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )

    n = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") >= similarity.N_QUERIES
    ).count()
    assert len(out) == n
    for r in out:
        assert r.contaminated in (0, 1)
        assert r.max_benchmark_cos <= 1.0001
        assert (r.max_benchmark_cos >= similarity.NEARDUP_COSINE) == bool(
            r.contaminated
        )


def test_incremental_newbatch_probe(spark, sf_dir):
    out = dedup.dedup_incremental_newbatch(spark, sf_dir).collect()
    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_new = docs.filter(
        F.col("doc_id") % dedup.NEWBATCH_MOD == dedup.NEWBATCH_REM
    ).count()
    assert len(out) == n_new  # every new-batch doc gets a verdict
    for r in out:
        # dup_of must point into the existing corpus, never the batch
        if r.is_dup:
            assert r.dup_of % dedup.NEWBATCH_MOD != dedup.NEWBATCH_REM
            assert r.n_index_hits >= 1
        else:
            assert r.dup_of is None and r.n_index_hits == 0


def test_cms_heavy_hitters_matches_python_replay(spark, sf_dir):
    """The operator's output must equal an exact Python replay of the
    sketch (same seeded-md5 buckets, same min-over-rows, same
    ordering) — deterministic for any corpus, unlike a top-rank
    membership claim, which CMS's one-sided bound does not make."""
    import hashlib

    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        sketches,
    )

    users = [
        r.user_id
        for r in load_table(spark, sf_dir, "events")
        .select("user_id")
        .collect()
    ]

    def bucket(row: int, uid: int) -> int:
        return int(
            hashlib.md5(f"{row}|{uid}".encode()).hexdigest()[:2], 16
        )

    cells: dict[tuple[int, int], int] = {}
    exact: dict[int, int] = {}
    for uid in users:
        exact[uid] = exact.get(uid, 0) + 1
        for r in range(sketches.CMS_DEPTH):
            k = (r, bucket(r, uid))
            cells[k] = cells.get(k, 0) + 1
    est = {
        uid: min(
            cells[(r, bucket(r, uid))] for r in range(sketches.CMS_DEPTH)
        )
        for uid in exact
    }
    expect = sorted(est.items(), key=lambda kv: (-kv[1], kv[0]))[
        : sketches.TOP_N
    ]

    out = sketches.heavy_hitter_users_cms(spark, sf_dir).collect()
    assert [(r.user_id, r.est_count) for r in out] == expect
    for r in out:
        assert r.exact_count == exact[r.user_id]
        assert r.overcount == r.est_count - r.exact_count >= 0


def test_poisson_sample_keep_rule_and_weights(spark, sf_dir):
    """Keep decisions must match a Python md5 replay exactly, and
    Horvitz-Thompson weights must invert the inclusion probability."""
    import hashlib

    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        sampling,
    )

    docs = {
        r.doc_id: len(r.text.split(" "))
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    expect = set()
    for doc_id, toks in docs.items():
        u = int(hashlib.md5(f"pois|{doc_id}".encode()).hexdigest()[:4], 16)
        if u * sampling.POISSON_CAP < toks * (1 << 16):
            expect.add(doc_id)
    out = sampling.poisson_token_sample(spark, sf_dir).collect()
    assert {r.doc_id for r in out} == expect
    for r in out:
        assert r.ht_weight >= 1.0
        if r.tokens < sampling.POISSON_CAP:
            assert abs(r.ht_weight - round(sampling.POISSON_CAP / r.tokens, 6)) < 1e-9


def test_decayed_scores_bounded_by_totals(spark, sf_dir):
    """Decay weights lie in (0, 1], so each type's decayed count is
    positive and at most its raw count (equality only if everything
    happened on the anchor day)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        analytics,
    )
    from tableau_dashboard_performance_etl_automation_spark.catalog import (
        load_table,
    )

    totals = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = analytics.decayed_event_scores(spark, sf_dir).collect()
    assert {r.event_type for r in out} == set(totals)
    for r in out:
        assert 0 < r.decayed_count <= totals[r.event_type]


def test_banding_precision_partitions_candidates(spark, sf_dir):
    """Rows partition the LSH candidate set, confirm counts are
    bounded, and confirm rate is monotone-friendly at the top: the
    max-band bucket (signature-identical pairs) must confirm at a
    rate >= the 1-band bucket's."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        dedup,
    )

    out = {r.band_overlap: r for r in
           dedup.minhash_banding_precision(spark, sf_dir).collect()}
    n_cand = dedup.dedup_minhash_lsh(spark, sf_dir).count()
    assert sum(r.n_pairs for r in out.values()) == n_cand
    for r in out.values():
        assert 0 <= r.n_confirmed <= r.n_pairs
        assert 0.0 <= r.confirm_rate <= 1.0
    if 1 in out and max(out) > 1:
        assert out[max(out)].confirm_rate >= out[1].confirm_rate


def test_daily_anomaly_scores_warmup_and_flags(spark, sf_dir):
    """The first ANOMALY_WINDOW_DAYS days have no full trailing
    baseline (NULL z, never flagged); afterwards the flag must track
    |z| > threshold exactly."""
    from tableau_dashboard_performance_etl_automation_spark.operators import (
        analytics,
    )

    out = analytics.QUERIES["daily_anomaly_scores"](spark, sf_dir).collect()
    assert len(out) > analytics.ANOMALY_WINDOW_DAYS
    for i, r in enumerate(out):
        if i < analytics.ANOMALY_WINDOW_DAYS:
            assert r.z_score is None and r.is_anomaly == 0
        if r.z_score is None:
            assert r.is_anomaly == 0
        else:
            assert (abs(r.z_score) > analytics.ANOMALY_Z) == bool(
                r.is_anomaly
            )
