"""Round-7 contracts: the ann_auto_topk oracle-scope declaration and
the DataFrame-resident iteration dispatch for PageRank / Markov.
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

    # a post-import ENV change must affect NEITHER side — the knob is
    # pinned at import so dispatcher and oracle cannot skew (round-9
    # ADVICE #2); set-before-launch is the contract
    monkeypatch.setenv("SPARK_GRAFT_ANN_AUTO_EXACT_MAX", "0")
    still_exact = [
        tuple(r) for r in similarity.ann_auto_topk(spark, SF).collect()
    ]
    assert still_exact == exact
    assert str(similarity._ANN_AUTO_EXACT_MAX_PINNED) in similarity._ann_auto_oracle()

    # ABOVE the crossover (pin forced to 0 — flips BOTH the live
    # dispatcher and a fresh oracle bake together, by construction):
    # live dispatch is the IVF nprobe=2 probe, and the re-baked
    # oracle's second branch reproduces THAT — full value parity
    monkeypatch.setattr(similarity, "_ANN_AUTO_EXACT_MAX_PINNED", 0)
    ivf = [
        tuple(r)
        for r in similarity.ann_ivf_topk(spark, SF, nprobe=2).collect()
    ]
    live_hi = [
        tuple(r) for r in similarity.ann_auto_topk(spark, SF).collect()
    ]
    assert live_hi == ivf
    assert sorted(_run(similarity._ann_auto_oracle())) == sorted(ivf)


def test_pagerank_df_resident_matches_driver_path(spark, monkeypatch):
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering
    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
        _MEMO,
    )

    _MEMO.pop("nation_pagerank", None)
    driver = clustering.nation_pagerank(spark, SF).collect()
    assert isinstance(_MEMO["nation_pagerank"][1], dict)
    # force the dispatch bound below the 25-node nation graph: the
    # DataFrame-resident iteration must produce bit-identical ranks
    _MEMO.pop("nation_pagerank")
    monkeypatch.setenv("SPARK_GRAFT_PR_MAX_DRIVER_NODES", "1")
    distributed = clustering.nation_pagerank(spark, SF).collect()
    assert not isinstance(_MEMO["nation_pagerank"][1], dict)
    _MEMO.pop("nation_pagerank")
    assert distributed == driver


def test_pagerank_df_resident_synthetic_large_domain(spark):
    """A 300-node synthetic graph (ring + hub + dangling tail) runs
    the distributed helper directly and must equal a pure-Python
    replica of the driver-path arithmetic."""
    import math

    from pyspark.sql import functions as F

    from tableau_dashboard_performance_etl_automation_spark.operators import clustering

    n_nodes = 300
    edges = []  # (src, dst, w)
    for i in range(n_nodes - 50):  # last 50 nodes dangle (no out-edges)
        edges.append((i, (i + 1) % (n_nodes - 50), 10 + i % 7))
        edges.append((i, n_nodes - 1, 3 + i % 5))  # hub in dangling set
    edf = spark.createDataFrame(edges, "src BIGINT, dst BIGINT, w BIGINT")
    outw = edf.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = edf.join(outw, "src")
    nodes = (
        edf.select(F.col("src").alias("node"))
        .union(edf.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    got = {
        r.node: r.r
        for r in clustering._pagerank_df_resident(spark, ew, nodes, n).collect()
    }

    # pure-Python replica of the driver-dict semantics
    node_list = sorted(got)
    base = int(clustering.PR_UNIT // n)
    teleport = int((1 - clustering.PR_DAMPING) * clustering.PR_UNIT / n)
    out = {}
    for s, _, w in edges:
        out[s] = out.get(s, 0) + w
    ranks = {v: base for v in node_list}
    for _ in range(clustering.PR_ITERS):
        contribs = {}
        for s, d, w in edges:
            c = int(
                math.floor(clustering.PR_DAMPING * ranks[s] * w / out[s])
            )
            contribs[d] = contribs.get(d, 0) + c
        dangling = sum(v for k, v in ranks.items() if k not in out)
        dshare = int(clustering.PR_DAMPING * dangling / n)
        ranks = {
            v: teleport + dshare + contribs.get(v, 0) for v in node_list
        }
    assert got == ranks


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


def test_markov_df_resident_matches_driver_path(spark, monkeypatch):
    from tableau_dashboard_performance_etl_automation_spark.operators import clustering

    driver = clustering.event_markov_stationary(spark, SF).collect()
    monkeypatch.setenv("SPARK_GRAFT_MARKOV_MAX_CELLS", "1")
    distributed = clustering.event_markov_stationary(spark, SF).collect()
    assert [tuple(r) for r in distributed] == [tuple(r) for r in driver]


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
