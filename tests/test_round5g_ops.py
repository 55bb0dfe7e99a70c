"""Invariant tests for the round-5g operators (link prediction over
the near-dup graph, item-item brand affinity). Value-level parity
with DuckDB is the mirror/driver gate's job; these pin the
mathematical invariants each operator must satisfy on ANY input."""

from __future__ import annotations

import math

from tableau_dashboard_performance_etl_automation_spark.operators import (
    clustering,
    dedup,
    relational_ext,
)

SF = "/root/testdata/sf0.001"


def test_link_prediction_flags_edges_correctly(spark):
    edges = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, SF).collect()
    }
    preds = clustering.neardup_link_prediction(spark, SF).collect()
    # adjacency: canonical a < b; is_edge agrees with the edge list
    for p in preds:
        assert p.doc_a < p.doc_b
        assert p.is_edge == (1 if (p.doc_a, p.doc_b) in edges else 0)
        assert p.common >= 1
        assert 0.0 < p.neighbor_jaccard <= 1.0


def test_link_prediction_scores_match_reference_recompute(spark):
    edges = [
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, SF).collect()
    ]
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    # every wedge-connected canonical pair, scored
    want: dict[tuple[int, int], tuple[int, float]] = {}
    for b, ns in nbrs.items():
        ns_sorted = sorted(ns)
        for i, a in enumerate(ns_sorted):
            for c in ns_sorted[i + 1 :]:
                common = len(nbrs[a] & nbrs[c])
                jac = common / (len(nbrs[a]) + len(nbrs[c]) - common)
                want[(a, c)] = (common, jac)
    got = {
        (p.doc_a, p.doc_b): (p.common, p.neighbor_jaccard)
        for p in clustering.neardup_link_prediction(spark, SF).collect()
    }
    assert set(got) == set(want)
    for k, (common, jac) in want.items():
        assert got[k][0] == common
        assert abs(got[k][1] - jac) < 5e-7


def test_brand_affinity_ranks_contiguous_and_bounded(spark):
    rows = relational_ext.brand_affinity_topk(spark, SF).collect()
    assert rows, "sf0.001 has co-purchased brands"
    by_brand: dict[str, list] = {}
    for r in rows:
        assert r.rec_brand != r.brand
        assert r.co_cust >= 1
        assert 0.0 < r.cosine <= 1.0
        by_brand.setdefault(r.brand, []).append(r)
    for brand, rs in by_brand.items():
        ranks = [r.rank for r in rs]
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        # ranking is by (cosine desc, co desc, rec_brand asc)
        keys = [(-r.cosine, -r.co_cust, r.rec_brand) for r in rs]
        assert keys == sorted(keys)


def test_brand_affinity_cosine_matches_reference_recompute(spark):
    cb = spark.sql(
        f"""
        SELECT DISTINCT o.o_custkey, p.p_brand
        FROM parquet.`{SF}/lineitem.parquet` l
        JOIN parquet.`{SF}/orders.parquet` o ON o.o_orderkey = l.l_orderkey
        JOIN parquet.`{SF}/part.parquet` p ON p.p_partkey = l.l_partkey
        """
    ).collect()
    custs_by_brand: dict[str, set[int]] = {}
    for r in cb:
        custs_by_brand.setdefault(r.p_brand, set()).add(r.o_custkey)
    for r in relational_ext.brand_affinity_topk(spark, SF).collect():
        ca, cbr = custs_by_brand[r.brand], custs_by_brand[r.rec_brand]
        co = len(ca & cbr)
        assert r.co_cust == co
        assert co <= min(len(ca), len(cbr))
        want = co / math.sqrt(len(ca) * len(cbr))
        assert abs(r.cosine - want) < 5e-7


def test_maha_outliers_match_numpy_recompute(spark):
    import numpy as np

    from tableau_dashboard_performance_etl_automation_spark.operators import similarity

    vecs = {
        r.vec_id: (np.round(np.array(r.embedding, dtype=np.float64) * 1e6), r.label)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    X = np.stack([v for v, _ in vecs.values()])
    mu = X.mean(axis=0)
    var = (X * X).mean(axis=0) - mu * mu
    nz = var > 0
    scores = {
        vid: float((((v[nz] - mu[nz]) ** 2) / var[nz]).sum())
        for vid, (v, _) in zip(vecs, (vecs[k] for k in vecs))
    }
    # population property: the mean Mahalanobis^2 equals the number of
    # live (nonzero-variance) dims exactly under population variance
    assert abs(np.mean(list(scores.values())) - nz.sum()) < 1e-6

    got = similarity.embedding_maha_outliers(spark, SF).collect()
    assert len(got) == min(similarity.MAHA_TOP_N, len(vecs))
    want_order = sorted(
        scores, key=lambda k: (-round(scores[k], 6), k)
    )[: len(got)]
    for row, vid in zip(got, want_order):
        assert row.vec_id == vid
        assert abs(row.maha_sq - scores[vid]) < 1e-3
        assert row.label == vecs[vid][1]


def test_temporal_embargo_split_gap_and_conservation(spark):
    from tableau_dashboard_performance_etl_automation_spark.operators import sampling

    rows = sampling.temporal_embargo_split(spark, SF).collect()
    splits = {r.split for r in rows}
    assert splits <= {"train", "test"}
    train_max = max(r.max_ms for r in rows if r.split == "train")
    test_min = min(r.min_ms for r in rows if r.split == "test")
    # the embargo guarantee: no test event within EMBARGO_MS of the
    # last train event
    assert test_min - train_max > sampling.EMBARGO_MS
    # conservation: train + test + embargo == all events, and the
    # train share respects the percentile cutoff
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    n_total = len(ev)
    n_split = sum(r.n_events for r in rows)
    assert n_split <= n_total
    ms = sorted(int(e.ts.timestamp() * 1000) for e in ev)
    n_train = sum(r.n_events for r in rows if r.split == "train")
    # exact interpolated 0.8-percentile: at least 80% of events are
    # at or before the cutoff minus interpolation slack of one rank
    assert abs(n_train - sampling.EMBARGO_TRAIN_Q * n_total) <= 1 + n_total * 0.01
    n_embargo = sum(
        1
        for m in ms
        if train_max < m <= test_min - 1
    )
    assert n_split + n_embargo == n_total


def test_cuped_matches_numpy_and_reduces_variance(spark):
    import hashlib

    import numpy as np

    from tableau_dashboard_performance_etl_automation_spark.operators import statstests

    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    ms = sorted(int(e.ts.timestamp() * 1000) for e in ev)
    split = float(np.quantile(ms, 0.5, method="linear"))
    per_user: dict[int, list[int]] = {}
    for e in ev:
        t = int(e.ts.timestamp() * 1000)
        cents = round(e.value * 100)
        pre, post = per_user.setdefault(e.user_id, [0, 0])
        if t <= split:
            per_user[e.user_id][0] = pre + cents
        else:
            per_user[e.user_id][1] = post + cents
    arms = {}
    for uid in per_user:
        h = hashlib.md5(str(uid).encode()).hexdigest()
        arms[uid] = "A" if (ord(h[0]) * 256 + ord(h[1])) % 100 % 2 == 0 else "B"
    pre = np.array([per_user[u][0] for u in per_user], dtype=float)
    post = np.array([per_user[u][1] for u in per_user], dtype=float)
    cov = (pre * post).mean() - pre.mean() * post.mean()
    var_pre = (pre * pre).mean() - pre.mean() ** 2
    var_post = (post * post).mean() - post.mean() ** 2
    theta = cov / var_pre
    a = np.array([arms[u] == "A" for u in per_user])
    diff_naive = post[~a].mean() - post[a].mean()
    diff_cuped = diff_naive - theta * (pre[~a].mean() - pre[a].mean())
    rho_sq = cov * cov / (var_pre * var_post)

    row = statstests.conversion_cuped_adjusted(spark, SF).collect()[0]
    assert row.n_a == int(a.sum()) and row.n_b == int((~a).sum())
    assert abs(row.diff_naive_usd - diff_naive / 100) < 1e-3
    assert abs(row.diff_cuped_usd - diff_cuped / 100) < 1e-3
    assert abs(row.theta - theta) < 1e-4
    assert abs(row.var_reduction - rho_sq) < 1e-4
    # CUPED's point: 0 <= rho^2 < 1, and the adjusted estimator's
    # variance is (1 - rho^2) of the naive one by construction
    assert 0.0 <= row.var_reduction < 1.0


def test_ann_auto_dispatch_boundary(spark, monkeypatch):
    from tableau_dashboard_performance_etl_automation_spark.operators import similarity

    # below the crossover: bit-identical to the exact baseline
    exact = similarity.ann_cosine_topk(spark, SF).collect()
    auto = similarity.ann_auto_topk(spark, SF).collect()
    assert auto == exact

    # force the crossover below this corpus: the dispatcher must take
    # the indexed path (same schema, IVF recall may differ)
    monkeypatch.setattr(similarity, "ANN_AUTO_EXACT_MAX", 0)
    ivf = similarity.ann_ivf_topk(spark, SF, nprobe=2).collect()
    auto_big = similarity.ann_auto_topk(spark, SF).collect()
    assert auto_big == ivf


def test_srm_check_counts_and_identity(spark):
    import hashlib

    from tableau_dashboard_performance_etl_automation_spark.operators import statstests

    users = {
        r.user_id
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id")
        .distinct()
        .collect()
    }
    n_a = sum(
        1
        for u in users
        if (lambda h: (ord(h[0]) * 256 + ord(h[1])) % 100 % 2 == 0)(
            hashlib.md5(str(u).encode()).hexdigest()
        )
    )
    row = statstests.ab_sample_ratio_check(spark, SF).collect()[0]
    assert row.n_a == n_a and row.n_b == len(users) - n_a
    want_chi2 = (row.n_a - row.n_b) ** 2 / (row.n_a + row.n_b)
    assert abs(row.chi2 - want_chi2) < 1e-6
    assert row.srm_flag == (1 if want_chi2 > 3.841 else 0)
