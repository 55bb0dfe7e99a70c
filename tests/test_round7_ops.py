"""Round-7 contracts: the ann_auto_topk oracle-scope declaration, the
stdlib PNG decoder, the numpy cosine fold and the empty-query-set ANN
path.
Value-level parity with DuckDB remains the mirror/driver gate's job;
these pin the dispatch semantics on ANY corpus."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_ann_auto_oracle_is_corpus_invariant(spark, monkeypatch):
    """Round-8 rework of the round-7 ORACLE_SCOPE contract: the
    registered oracle now folds the COUNT(*) dispatch into the SQL
    itself, so BOTH sides of the crossover are hash-comparable at any
    corpus size and the pin-the-exact-path side channel is gone."""
    import duckdb

    import __spark_entry__ as entry
    from tableau_dashboard_performance_etl_automation_spark.operators import similarity

    # the side channel is deleted — the driver never read it
    assert not hasattr(entry, "oracle_scope")
    assert not hasattr(similarity, "ORACLE_SCOPE")
    # baked-in oracle carries both branches gated on the corpus count
    sql = entry.oracle_sql()["ann_auto_topk"]
    assert "UNION ALL" in sql and str(similarity.ANN_AUTO_EXACT_MAX) in sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{SF}/embeddings.parquet'"
    )

    def _run(sql_text):
        return [tuple(r) for r in con.sql(sql_text).fetchall()]

    # BELOW the crossover (the default here): live dispatch is the
    # exact scan and the oracle's first branch reproduces it
    live = [tuple(r) for r in similarity.ann_auto_topk(spark, SF).collect()]
    exact = [
        tuple(r) for r in similarity.ann_cosine_topk(spark, SF).collect()
    ]
    assert live == exact
    assert sorted(_run(sql)) == sorted(live)

    # ABOVE the crossover (constant forced to 0 — flips BOTH the live
    # dispatcher and a fresh oracle bake together, by construction):
    # live dispatch is the IVF nprobe=2 probe, and the re-baked
    # oracle's second branch reproduces THAT — full value parity
    monkeypatch.setattr(similarity, "ANN_AUTO_EXACT_MAX", 0)
    ivf = [
        tuple(r)
        for r in similarity.ann_ivf_topk(spark, SF, nprobe=2).collect()
    ]
    live_hi = [
        tuple(r) for r in similarity.ann_auto_topk(spark, SF).collect()
    ]
    assert live_hi == ivf
    assert sorted(_run(similarity._ann_auto_oracle())) == sorted(ivf)


def test_png_decode_roundtrip_and_reference_golden():
    """decode_png must invert encode_png exactly, and must decode a
    REAL library-written PNG: the reference golden chart
    (average_time_graph.png, matplotlib output, 1000×600 RGBA with
    mixed scanline filters incl. Paeth)."""
    import os

    from tableau_dashboard_performance_etl_automation_spark.reports import png_mini

    cv = png_mini.Canvas(37, 23, bg=(255, 255, 255, 255))
    cv.line(0, 0, 36, 22, (31, 119, 180, 255), thick=2)
    cv.disc(18, 11, 4, (255, 0, 0, 255))
    cv.text(2, 2, "A1", (0, 0, 0, 255))
    data = png_mini.encode_png(cv)
    w, h, ch, samples = png_mini.decode_png(data)
    assert (w, h, ch) == (37, 23, 4)
    assert samples == bytes(cv.buf)

    golden = "/root/reference/average_time_graph.png"
    if os.path.exists(golden):
        with open(golden, "rb") as fh:
            gdata = fh.read()
        w, h, ch, samples = png_mini.decode_png(gdata)
        assert (w, h, ch) == (1000, 600, 4)
        assert len(samples) == 1000 * 600 * 4
        # a chart raster: mostly light background, some non-white ink
        px = memoryview(samples)
        whiteish = sum(
            1
            for i in range(0, len(px), 4 * 997)  # ~600 samples
            if px[i] > 200 and px[i + 1] > 200 and px[i + 2] > 200
        )
        inked = sum(
            1
            for i in range(0, len(px), 4 * 997)
            if px[i] < 100 or px[i + 1] < 100
        )
        assert whiteish > 300 and inked > 5


def test_numpy_sequential_fold_bit_identical_to_hof_cosine(spark):
    """Executable proof of the round-8 optimization's safety claim
    (PERF.md "Round 7 addendum"): an Arrow/numpy scorer that
    accumulates SEQUENTIALLY over dimensions — ``acc = acc + a_d·b_d``
    for d = 0..D-1, vectorized over rows — performs the exact IEEE
    operation sequence of Spark's ``F.aggregate``/``zip_with`` fold
    (functions/vectors.py), so dot / norm / guarded cosine come out
    bit-identical double-for-double. (np.dot would NOT: BLAS uses
    pairwise/blocked summation with a different add order.)"""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from tableau_dashboard_performance_etl_automation_spark.functions.vectors import (
        cosine,
        dot,
        norm,
    )

    rng = random.Random(7)
    dim = 17
    rows = [
        (
            i,
            [rng.uniform(-1, 1) for _ in range(dim)],
            [rng.uniform(-1, 1) for _ in range(dim)],
        )
        for i in range(256)
    ]
    rows.append((256, [0.0] * dim, [1.0] * dim))  # zero-norm guard
    df = spark.createDataFrame(rows, "id BIGINT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    spark_out = {
        r.id: (r.d, r.na, r.c)
        for r in df.select(
            "id",
            dot(F.col("a"), F.col("b")).alias("d"),
            norm(F.col("a")).alias("na"),
            cosine(F.col("a"), F.col("b")).alias("c"),
        ).collect()
    }

    A = np.array([r[1] for r in rows], dtype=np.float64)
    B = np.array([r[2] for r in rows], dtype=np.float64)
    n = len(rows)
    d_acc = np.zeros(n)
    na_acc = np.zeros(n)
    nb_acc = np.zeros(n)
    for k in range(dim):  # sequential over dims == the HOF fold order
        d_acc = d_acc + A[:, k] * B[:, k]
        na_acc = na_acc + A[:, k] * A[:, k]
        nb_acc = nb_acc + B[:, k] * B[:, k]
    na = np.sqrt(na_acc)
    denom = na * np.sqrt(nb_acc)
    for i, (rid, _, _) in enumerate(rows):
        sd, sna, sc = spark_out[rid]
        assert sd == d_acc[i]  # exact, not approx
        assert sna == na[i]
        if denom[i] == 0.0:
            assert sc is None
        else:
            assert sc == d_acc[i] / denom[i]


def test_ann_int8_topk_empty_query_set_returns_empty(spark, tmp_path):
    """Round-8 ADVICE: an embeddings table with no vec_id below
    N_QUERIES must yield an empty result (the replaced SQL pipeline's
    behavior), not a np.vstack ValueError at plan-build time."""
    from pyspark.sql import functions as F

    from tableau_dashboard_performance_etl_automation_spark.operators import similarity

    p = str(tmp_path / "sf")
    spark.createDataFrame(
        [(similarity.N_QUERIES + 7, 0, [0.1, 0.2])],
        "vec_id LONG, label INT, embedding ARRAY<FLOAT>",
    ).write.parquet(f"{p}/embeddings.parquet")
    out = similarity.ann_int8_topk(spark, p)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "qcosine", "rank"]
    # dtypes match the non-empty path so unions/oracle compares hold
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint", "bigint", "double", "int",
    ]
