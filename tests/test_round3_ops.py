"""Round-3 unit tests: self-executing LSH band dial, IVF codebook
memoization, robust-stats median and zero-scale quantization
guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.operators import similarity


def test_lsh_band_bits_dial_turns_itself():
    # test-corpus sizes stay on the 8-bit floor (256 signatures/band)
    assert similarity.lsh_band_bits(500) == 8
    assert similarity.lsh_band_bits(2_000) == 8
    # a 100k-vector corpus widens so buckets stay ~TARGET_BUCKET deep
    mid = similarity.lsh_band_bits(100_000)
    assert 8 < mid < 16
    assert 2 ** mid >= 100_000 / similarity.LSH_TARGET_BUCKET
    assert 2 ** (mid - 1) < 100_000 / similarity.LSH_TARGET_BUCKET
    # a 1e9-vector corpus hits the 16-bit clamp (65,536 signatures)
    assert similarity.lsh_band_bits(10 ** 9) == similarity.LSH_MAX_BAND_BITS
    # degenerate inputs stay on the floor
    assert similarity.lsh_band_bits(0) == similarity.LSH_MIN_BAND_BITS


def test_codebook_is_memoized_per_session(spark, sf_dir):
    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
        _MEMO,
    )

    _MEMO.pop("ivf_codebook", None)
    e = similarity._emb(spark, sf_dir)
    c1 = similarity._codebook(spark, sf_dir, e)
    key = (spark.sparkContext.applicationId, sf_dir)
    assert _MEMO["ivf_codebook"][0] == key
    cached = _MEMO["ivf_codebook"][1]
    c2 = similarity._codebook(spark, sf_dir, e)
    # second call must reuse the cached rows object (no retraining)
    assert _MEMO["ivf_codebook"] == (key, cached)
    assert _MEMO["ivf_codebook"][1] is cached
    assert sorted(r.cent_id for r in c1.collect()) == sorted(
        r.cent_id for r in c2.collect()
    )
    # single-entry cap: a different sf_dir's entry is replaced
    _MEMO["ivf_codebook"] = (("stale", "dir"), [(0, [0.0])])
    c3 = similarity._codebook(spark, sf_dir, e)
    assert _MEMO["ivf_codebook"][0] == key
    assert sorted(r.cent_id for r in c3.collect()) == sorted(
        r.cent_id for r in c1.collect()
    )


def test_grouped_median_matches_statistics_median(spark):
    """``percentile_cont(0.5)`` per group, the median of the
    robust-statistics texts, is the exact middle (or mean of the two
    middles) of each group's values."""
    import statistics

    data = [("a", v) for v in [5, 1, 9, 3, 3, 7]] + [
        ("b", v) for v in [10, 20, 30]
    ]
    df = spark.createDataFrame(data, "k string, v bigint")
    got = {
        r.k: r.med
        for r in spark.sql(
            "SELECT k, percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS med"
            " FROM {df} GROUP BY k",
            df=df,
        ).collect()
    }
    assert got["a"] == statistics.median([5, 1, 9, 3, 3, 7])
    assert got["b"] == statistics.median([10, 20, 30])


def test_quantize_zero_vector_yields_zero_codes(spark):
    df = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, -2.0, 0.5, 0.0])],
        "vec_id bigint, vec array<double>",
    )
    out = (
        df.withColumn(
            "scale",
            F.expr("array_max(transform(vec, x -> abs(x)))") / F.lit(127.0),
        )
        .withColumn(
            "code",
            F.expr(
                "transform(vec, x -> CASE WHEN scale = 0 THEN 0"
                " ELSE CAST(floor(x / scale + 0.5) AS INT) END)"
            ),
        )
        .collect()
    )
    by_id = {r.vec_id: r.code for r in out}
    assert by_id[1] == [0, 0, 0, 0]  # no NaN/NULL from 0/0
    assert min(by_id[2]) == -127  # max-|x| element maps to ±127


def test_simhash_width_dial():
    from tableau_dashboard_performance_etl_automation_spark.operators import dedup

    cut = dedup.SIMHASH_TARGET_BUCKET * (2 ** 16)
    assert dedup.simhash_fingerprint_bits(500) == 64
    assert dedup.simhash_fingerprint_bits(cut) == 64
    assert dedup.simhash_fingerprint_bits(cut + 1) == 128
    assert dedup.simhash_fingerprint_bits(10 ** 9) == 128


def test_simhash_128bit_two_word_fingerprint(spark):
    """The >512k-doc regime: 128-bit fingerprints over two BIGINT
    words. Identical docs must pair at hamming 0; unrelated docs must
    not pair within the radius."""
    from tableau_dashboard_performance_etl_automation_spark.operators.dedup import (
        simhash_pairs_from_signatures,
        simhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "one two three four five six seven"),
            (4, "one two three four five six seven"),
            (5, "completely different vocabulary entirely here now"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs_from_signatures(
            simhash_signatures(docs, 128), 128
        ).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(3, 4)] == 0
    assert not any(5 in k for k in got)
