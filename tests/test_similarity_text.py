"""Similarity search, text analysis, and multimodal plumbing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.functions.vectors import (
    as_double_array,
    cosine,
)
from tableau_dashboard_performance_etl_automation_spark.operators import (
    multimodal,
    similarity,
    textops,
)


def test_cosine_known_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 0.0])],
        ["a", "b"],
    )
    out = df.select(
        F.round(cosine(as_double_array(F.col("a")), as_double_array(F.col("b"))), 6).alias("c")
    ).collect()
    assert [r.c for r in out] == [1.0, 0.0, None]  # zero-norm guarded


def test_ann_topk_shape_and_rank(spark, sf_dir):
    df = similarity.ann_cosine_topk(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in df:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == similarity.N_QUERIES
    for q, rows in by_q.items():
        assert [r.rank for r in rows] == list(range(1, similarity.TOP_K + 1))
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_ivf_recall_against_brute_force(spark, sf_dir):
    """nprobe=1 IVF must still find a decent fraction of true top-k
    (on random data the clusters are weak; just assert sane overlap
    and that every result is genuinely in the query's cluster)."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_ivf_topk(spark, sf_dir).collect()
    }
    assert len(ivf) == len(brute)
    # IVF results are a subset of each query's cluster → recall in
    # [0, 1]; on this corpus expect at least some overlap
    assert len(brute & ivf) >= 0.2 * len(brute)


def test_ivf_recall_improves_with_nprobe(spark, sf_dir):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
    }

    def recall(nprobe: int) -> float:
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ann_ivf_topk(spark, sf_dir, nprobe=nprobe).collect()
        }
        return len(brute & ivf) / len(brute)

    n_vec = similarity._emb(spark, sf_dir).count()
    r1, r4, rall = (
        recall(1),
        recall(4),
        recall(similarity.ivf_n_centroids(n_vec)),
    )
    assert r1 <= r4 <= rall
    # probing every cluster IS brute force → perfect recall
    assert rall == 1.0


def test_lang_id_predicts_from_markers(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "the cat of the house", "en"),
            (2, "der hund und die katze", "de"),
            (3, "el perro y que gato", "es"),
        ],
        ["doc_id", "text", "lang"],
    )
    p = str(tmp_path / "sf")
    docs.write.parquet(f"{p}/documents.parquet")
    out = {r.doc_id: r.predicted_lang for r in textops.text_lang_id(spark, p).collect()}
    assert out == {1: "en", 2: "de", 3: "es"}


def test_token_count_matches_python(spark, tmp_path):
    text = "hello world 42 don't stop"
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    p = str(tmp_path / "sf")
    docs.write.parquet(f"{p}/documents.parquet")
    row = textops.text_token_count(spark, p).collect()[0]
    assert row.ws_tokens == len(text.split(" "))
    import re

    assert row.bpe_ish_tokens == len(re.findall(textops.BPE_ISH_RE, text))


def test_multimodal_meta_matches_hashlib(spark, tmp_path):
    import hashlib

    docs = spark.createDataFrame([(7, "payload body")], ["doc_id", "text"])
    p = str(tmp_path / "sf")
    docs.write.parquet(f"{p}/documents.parquet")
    row = multimodal.multimodal_binary_meta(spark, p).collect()[0]
    assert row.byte_len == len(b"payload body")
    assert row.content_sig == hashlib.md5(b"payload body").hexdigest()


def test_frame_sampling_is_one_to_n(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "0123456789abcdef"), (2, "xyz")], ["doc_id", "text"]
    )
    p = str(tmp_path / "sf")
    docs.write.parquet(f"{p}/documents.parquet")
    payloads = multimodal.with_binary_payload(
        spark.read.parquet(f"{p}/documents.parquet")
    )
    frames = multimodal.sample_frames(payloads, n_frames=4).collect()
    per_doc: dict[int, int] = {}
    for r in frames:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert per_doc == {1: 4, 2: 4}


def test_resize_thumbnails_shape_and_determinism(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "x" * 100), (2, "abcdefghij" * 30)], ["doc_id", "text"]
    )
    p = str(tmp_path / "sf")
    docs.write.parquet(f"{p}/documents.parquet")
    payloads = multimodal.with_binary_payload(
        spark.read.parquet(f"{p}/documents.parquet")
    )
    out = {r.doc_id: r for r in multimodal.resize_thumbnails(payloads).collect()}
    assert set(out) == {1, 2}
    assert all(r.height == 8 and r.width == 8 for r in out.values())
    # doc 1 is all 'x' (0x78): resized mean must be exactly 120
    assert out[1].pixel_mean == "120.0000"
