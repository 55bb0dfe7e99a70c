"""Invariant tests for the round-6 operators. Value-level parity with
DuckDB is the mirror/driver gate's job; these pin the mathematical
invariants each operator must satisfy on ANY input."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators import (
    profiling,
    relational_ext,
)

SF = "/root/testdata/sf0.001"


def test_content_checksum_is_order_independent(spark):
    """The checksum must not depend on row order or partitioning —
    that is its whole point (verify a copy without sorting 100 TB)."""
    base = {
        r.table_name: (r.n_rows, r.content_checksum)
        for r in profiling.dataset_content_checksums(spark, SF).collect()
    }
    assert set(base) == {"documents", "orders"}
    # recompute the documents fold on a shuffled/repartitioned scan
    docs = load_table(spark, SF, "documents").repartition(7, "source")
    sep = F.lit("|")
    canon = F.concat(
        F.col("doc_id").cast("string"),
        sep,
        F.col("source"),
        sep,
        F.length("text").cast("string"),
        sep,
        F.md5("text"),
    )
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint,
    )

    got = (
        docs.select(
            md5_hex_bigint(
                F.md5(canon), 1, profiling.CHECKSUM_HEX_DIGITS
            ).alias("rh")
        )
        .agg(F.count(F.lit(1)), F.sum("rh"))
        .collect()[0]
    )
    assert (got[0], got[1]) == base["documents"]


def test_content_checksum_detects_single_cell_change(spark):
    """Flipping one cell of one row must change the fingerprint."""
    rows = profiling.dataset_content_checksums(spark, SF).collect()
    base = {r.table_name: r.content_checksum for r in rows}
    docs = load_table(spark, SF, "documents")
    mutated = docs.withColumn(
        "source",
        F.when(F.col("doc_id") == docs.select(F.min("doc_id")).collect()[0][0],
               F.lit("MUTATED")).otherwise(F.col("source")),
    )
    sep = F.lit("|")
    canon = F.concat(
        F.col("doc_id").cast("string"),
        sep,
        F.col("source"),
        sep,
        F.length("text").cast("string"),
        sep,
        F.md5("text"),
    )
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint,
    )

    got = (
        mutated.select(
            md5_hex_bigint(
                F.md5(canon), 1, profiling.CHECKSUM_HEX_DIGITS
            ).alias("rh")
        )
        .agg(F.sum("rh"))
        .collect()[0][0]
    )
    assert got != base["documents"]


def test_md5_hex_bigint_matches_python_md5(spark):
    """The 12-digit fold must equal int(md5[:12], 16) exactly — no
    int32 wrap (the bug the bigint variant exists to prevent)."""
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint,
    )

    vals = ["alpha", "bravo", "charlie", "delta-12345"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {
        r.s: r.h
        for r in df.select(
            "s", md5_hex_bigint(F.md5("s"), 1, 12).alias("h")
        ).collect()
    }
    for v in vals:
        want = int(hashlib.md5(v.encode()).hexdigest()[:12], 16)
        assert got[v] == want, v


def test_skewsafe_join_matches_plain_join(spark):
    """Salting must be invisible in the result: identical rows to the
    unsalted broadcast join."""
    plain = {
        (r.c_mktsegment): (r.n_events, r.n_users, r.total_value)
        for r in (
            load_table(spark, SF, "events")
            .join(
                load_table(spark, SF, "customer").select(
                    F.col("c_custkey").alias("user_id"), "c_mktsegment"
                ),
                "user_id",
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.countDistinct("user_id").cast("bigint").alias("n_users"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("bigint"))
                    / F.lit(100.0)
                ).alias("total_value"),
            )
            .collect()
        )
    }
    salted = {
        (r.c_mktsegment): (r.n_events, r.n_users, r.total_value)
        for r in relational_ext.skewsafe_user_join(spark, SF).collect()
    }
    assert salted == plain


def test_skewsafe_join_spreads_hot_key_over_salts(spark):
    """The fact side must actually carry JOIN_SALTS distinct salt
    values (the mechanism under test), and the dim replication must
    be exactly S× the dim — never fact-sized."""
    e = load_table(spark, SF, "events")
    n_salts = (
        e.select(
            F.pmod(
                F.xxhash64("event_id"), F.lit(relational_ext.JOIN_SALTS)
            ).alias("salt")
        )
        .distinct()
        .count()
    )
    assert n_salts == relational_ext.JOIN_SALTS


def test_snapshot_diff_classes_match_construction(spark):
    """The diff must recover exactly the add/update/delete pattern the
    deterministic v2 construction injected."""
    from tableau_dashboard_performance_etl_automation_spark.operators import history

    rows = {
        r.diff_class: r.n_rows
        for r in history.QUERIES["snapshot_table_diff"](spark, SF).collect()
    }
    cust = load_table(spark, SF, "customer")
    keys = [r.c_custkey for r in cust.select("c_custkey").collect()]
    removed = [k for k in keys if k % history.DIFF_DELETE_MOD == 0]
    changed = [
        k
        for k in keys
        if k % history.DIFF_DELETE_MOD != 0
        and k % history.DIFF_UPDATE_MOD == 0
    ]
    added = [k for k in keys if k % history.DIFF_INSERT_MOD == 0]
    assert rows.get("removed", 0) == len(removed)
    assert rows.get("changed", 0) == len(changed)
    assert rows.get("added", 0) == len(added)
    assert rows.get("unchanged", 0) == len(keys) - len(removed) - len(changed)


def test_incremental_refresh_equals_full_recompute(spark):
    """The merge of base+delta partial aggregates must equal the
    one-pass rollup — the incremental-maintenance contract."""
    from tableau_dashboard_performance_etl_automation_spark.operators import history

    full = (
        load_table(spark, SF, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
            F.max(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("max_cents"),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "total_cents",
            "max_cents",
        )
    )
    want = {tuple(r) for r in full.collect()}
    got = {
        tuple(r)
        for r in history.QUERIES["incremental_agg_refresh"](spark, SF).collect()
    }
    assert got == want


def test_incremental_refresh_delta_is_nonempty(spark):
    """The cutoff must actually split the corpus — a refresh whose
    delta is empty tests nothing."""
    from tableau_dashboard_performance_etl_automation_spark.operators import history

    ev = load_table(spark, SF, "events").select(F.to_date("ts").alias("day"))
    mx = ev.agg(F.max("day")).collect()[0][0]
    import datetime

    cutoff = mx - datetime.timedelta(days=history.REFRESH_DELTA_DAYS)
    n_delta = ev.filter(F.col("day") > F.lit(cutoff)).count()
    n_base = ev.filter(F.col("day") <= F.lit(cutoff)).count()
    assert n_delta > 0 and n_base > 0


def test_dp_noise_is_deterministic_and_bounded(spark):
    """Same release twice → identical noise (seeded); and the noise
    magnitude obeys the Laplace tail: P(|X| > t/ε) = e^-t, so at
    48-bit uniforms nothing exceeds ~33/ε — a loose sanity bound."""
    from tableau_dashboard_performance_etl_automation_spark.operators import scrubbing

    a = {r.day: r.noisy_count for r in scrubbing.dp_noisy_daily_counts(spark, SF).collect()}
    b = {r.day: r.noisy_count for r in scrubbing.dp_noisy_daily_counts(spark, SF).collect()}
    assert a == b
    rows = scrubbing.dp_noisy_daily_counts(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert abs(r.noisy_count - r.n_true) < 34.0 / scrubbing.DP_EPSILON


def test_source_quota_cap_bounds_and_determinism(spark):
    """Every source keeps min(quota, n_docs) docs, and the kept-set
    checksum is stable across runs (deterministic hash order)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import curation

    a = curation.source_quota_cap(spark, SF).collect()
    b = curation.source_quota_cap(spark, SF).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    for r in a:
        assert r.n_kept == min(curation.SOURCE_QUOTA, r.n_docs)
        assert r.n_dropped == r.n_docs - r.n_kept


def test_fd_audit_matches_pandas_recompute(spark):
    """Violation counts must equal a direct per-group recompute."""
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling

    part = load_table(spark, SF, "part").toPandas()
    got = {
        r.fd: (r.n_lhs_groups, r.n_violating_groups, r.n_rows_in_violations)
        for r in profiling.fd_violation_audit(spark, SF).collect()
    }
    for lhs, rhs in profiling.FD_CANDIDATES:
        g = part.groupby(lhs)[rhs].nunique()
        sizes = part.groupby(lhs)[rhs].size()
        viol = g[g > 1]
        want = (len(g), len(viol), int(sizes[viol.index].sum()))
        assert got[f"{lhs}->{rhs}"] == want


def test_kfold_partitions_users_disjointly(spark):
    """Fold counts must sum to the corpus and every user must land in
    exactly one fold (grouped-CV contract)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import sampling

    rows = sampling.user_kfold_assignment(spark, SF).collect()
    e = load_table(spark, SF, "events")
    assert sum(r.n_events for r in rows) == e.count()
    assert sum(r.n_users for r in rows) == e.select("user_id").distinct().count()
    assert {r.fold for r in rows} <= set(range(sampling.KFOLD_K))


def test_golden_records_survivorship(spark):
    """Clusters must be ≥2 members, transitive over accepted pairs,
    and the golden name must be the min-key member's name."""
    from tableau_dashboard_performance_etl_automation_spark.operators import linkage

    pairs = {
        (r.ka, r.kb)
        for r in linkage._fs_scored_pairs(spark, SF)
        .filter(F.col("fs_weight") >= linkage.FS_GOLD_MIN)
        .collect()
    }
    # union-find reference
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for k in parent:
        clusters.setdefault(find(k), []).append(k)
    want = {
        root: sorted(ms) for root, ms in clusters.items() if len(ms) >= 1
    }
    got = linkage.part_golden_records(spark, SF).collect()
    assert {r.cluster_id for r in got} == set(want)
    part = {
        r.p_partkey: r.p_name
        for r in load_table(spark, SF, "part")
        .select("p_partkey", "p_name")
        .collect()
    }
    for r in got:
        assert r.cluster_size == len(want[r.cluster_id])
        assert r.golden_name == part[r.cluster_id]
        assert r.cluster_size >= 2


def test_user_dp_cap_binds_and_noise_is_seeded(spark):
    """n_capped must equal the true count with every user clipped at
    DP_USER_CAP, and the noise must be deterministic per day."""
    from tableau_dashboard_performance_etl_automation_spark.operators import scrubbing

    rows = scrubbing.dp_user_level_daily_counts(spark, SF).collect()
    again = scrubbing.dp_user_level_daily_counts(spark, SF).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    # pandas recompute of the capped counts
    e = (
        load_table(spark, SF, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .toPandas()
    )
    e = e.sort_values(["user_id", "ts", "event_id"])
    e["rn"] = e.groupby("user_id").cumcount() + 1
    capped = e[e.rn <= scrubbing.DP_USER_CAP]
    want = capped.ts.dt.strftime("%Y-%m-%d").value_counts().to_dict()
    got = {r.day: r.n_capped for r in rows}
    assert got == want
    # the noise obeys the Laplace tail at scale C/eps
    bound = 34.0 * scrubbing.DP_USER_CAP / scrubbing.DP_EPSILON
    for r in rows:
        assert abs(r.noisy_count - r.n_capped) < bound


def test_bfs_hops_match_python_bfs(spark):
    """The hop histogram must equal a reference BFS over the same
    edge list with the same seed rule."""
    from collections import deque

    from tableau_dashboard_performance_etl_automation_spark.operators import (
        clustering,
        dedup,
    )

    edges = [
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, SF).collect()
    ]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seeds = [n for n in adj if n % clustering.BFS_SEED_MOD == 0]
    dist = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if dist[u] >= clustering.BFS_MAX_HOPS:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    want: dict[int, int] = {}
    for d in dist.values():
        want[d] = want.get(d, 0) + 1
    unreachable = len(adj) - len(dist)
    if unreachable:
        want[-1] = unreachable
    got = {
        r.hop: r.n_docs
        for r in clustering.neardup_bfs_hops(spark, SF).collect()
    }
    assert got == want


def test_join_advisor_counts_and_strategy(spark):
    """Counts must equal direct table statistics and the strategy
    must follow the broadcast budget arithmetic."""
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling

    rows = {r.join_name: r for r in profiling.join_strategy_advisor(spark, SF).collect()}
    for name, lt, lk, rt, rk in profiling.JOIN_CANDIDATES:
        l = load_table(spark, SF, lt)
        r_ = load_table(spark, SF, rt)
        row = rows[name]
        assert row.n_left == l.count()
        assert row.ndv_left == l.select(lk).distinct().count()
        assert row.n_right == r_.count()
        assert row.ndv_right == r_.select(rk).distinct().count()
        small = min(
            row.n_left * profiling.ROW_WIDTH_BYTES[lt],
            row.n_right * profiling.ROW_WIDTH_BYTES[rt],
        )
        assert row.est_small_bytes == small
        assert row.strategy == (
            "broadcast"
            if small <= profiling.BROADCAST_BUDGET_BYTES
            else "shuffle"
        )


def test_kanon_ladder_chooses_first_satisfying_level(spark):
    """chosen must mark exactly the first level with min_cell >= k
    (or no level), and coarser levels must never have more cells."""
    from tableau_dashboard_performance_etl_automation_spark.operators import scrubbing

    rows = sorted(
        scrubbing.kanon_generalization_ladder(spark, SF).collect(),
        key=lambda r: r.level,
    )
    cells = [r.n_cells for r in rows]
    assert cells == sorted(cells, reverse=True)
    sat = [r.min_cell >= scrubbing.K_ANON_TARGET for r in rows]
    chosen = [r.chosen for r in rows]
    if any(sat):
        first = sat.index(True)
        assert chosen == [1 if i == first else 0 for i in range(len(rows))]
    else:
        assert chosen == [0] * len(rows)


def test_range_partition_plan_is_contiguous_and_complete(spark):
    """Ranges must tile the value domain contiguously, conserve rows,
    and assign every value to exactly one range."""
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling

    rows = sorted(
        profiling.range_partition_plan(spark, SF).collect(),
        key=lambda r: r.range_id,
    )
    li = load_table(spark, SF, "lineitem")
    n_total = li.count()
    assert sum(r.n_rows for r in rows) == n_total
    for a, b in zip(rows, rows[1:]):
        assert a.hi_cents < b.lo_cents  # disjoint, ordered
    for r in rows:
        assert r.lo_cents <= r.hi_cents
        # balance: no range more than 3x ideal (ties can skew a bin)
        assert r.balance_ratio < 3.0


def test_join_order_advisor_picks_smaller_intermediate(spark):
    """Exactly one order is chosen and it has the (weakly) smaller
    estimated intermediate; the independence-formula estimates must
    match a direct recompute from table statistics."""
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling

    rows = {r.join_order: r for r in profiling.join_order_advisor(spark, SF).collect()}
    assert len(rows) == 2
    li = load_table(spark, SF, "lineitem")
    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    n_li, ndv_li = li.count(), li.select("l_orderkey").distinct().count()
    n_o = o.count()
    ndv_o_ok = o.select("o_orderkey").distinct().count()
    ndv_o_ck = o.select("o_custkey").distinct().count()
    n_c = c.count()
    ndv_c = c.select("c_custkey").distinct().count()
    est_lo = int(n_li * n_o / max(ndv_li, ndv_o_ok))
    est_oc = int(n_o * n_c / max(ndv_o_ck, ndv_c))
    a = rows["(lineitem*orders)*customer"]
    b = rows["lineitem*(orders*customer)"]
    assert a.est_intermediate == est_lo
    assert b.est_intermediate == est_oc
    assert a.est_final == b.est_final
    chosen = [r for r in rows.values() if r.chosen == 1]
    assert len(chosen) >= 1
    m = min(a.est_intermediate, b.est_intermediate)
    for r in rows.values():
        assert (r.chosen == 1) == (r.est_intermediate == m)


def test_join_estimate_accuracy_actuals_are_exact(spark):
    """actual_rows must equal the directly executed join counts and
    the ratio must be actual / max(est, 1)."""
    from tableau_dashboard_performance_etl_automation_spark.operators import profiling

    rows = {
        r.join_name: r
        for r in profiling.join_estimate_accuracy(spark, SF).collect()
    }
    for name, lt, lk, rt, rk in profiling.JOIN_CANDIDATES:
        l = load_table(spark, SF, lt).select(F.col(lk).alias("k"))
        r_ = load_table(spark, SF, rt).select(F.col(rk).alias("k"))
        actual = l.join(r_, "k").count()
        row = rows[name]
        assert row.actual_rows == actual
        assert (
            abs(row.actual_over_est - round(actual / max(row.est_rows, 1), 4))
            < 1e-9
        )


def test_median_ci_brackets_true_median(spark):
    """The interval must contain the exact median, endpoints must be
    actual sample values at the binomial rank bounds, and the
    interval must be ordered."""
    import math

    from tableau_dashboard_performance_etl_automation_spark.operators import statstests

    rows = statstests.median_confidence_interval(spark, SF).collect()
    vals = (
        load_table(spark, SF, "events")
        .select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("c"))
        .toPandas()
    )
    for r in rows:
        s = sorted(vals[vals.event_type == r.event_type].c)
        n = len(s)
        assert r.n == n
        half, spread = n / 2.0, statstests.MEDIAN_CI_Z * math.sqrt(n) / 2.0
        r_lo = max(math.floor(half - spread), 1)
        r_med = math.ceil(half)
        r_hi = min(math.ceil(half + spread), n)
        assert r.ci_lo == s[r_lo - 1] / 100.0
        assert r.median == s[r_med - 1] / 100.0
        assert r.ci_hi == s[r_hi - 1] / 100.0
        assert r.ci_lo <= r.median <= r.ci_hi


def test_time_decay_credit_conserves_per_day(spark):
    """Summed credit per day must equal the number of purchases with
    at least one window click (each such purchase distributes exactly
    one credit unit), and weights must halve per bucket."""
    import datetime

    from tableau_dashboard_performance_etl_automation_spark.operators import asof

    rows = asof.time_decay_attribution(spark, SF).collect()
    per_day: dict[str, float] = {}
    for r in rows:
        per_day[r.purchase_date] = per_day.get(r.purchase_date, 0.0) + r.credit
        assert 0 <= r.decay_bucket <= asof.DECAY_WINDOW_MIN // asof.DECAY_BUCKET_MIN
    e = load_table(spark, SF, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    attributed = (
        p.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (
                F.col("cts")
                >= F.col("pts")
                - F.expr(f"INTERVAL {asof.DECAY_WINDOW_MIN} MINUTES")
            ),
        )
        .select("pid", F.date_format(F.col("pts").cast("date"), "yyyy-MM-dd").alias("d"))
        .distinct()
        .groupBy("d")
        .count()
        .collect()
    )
    want = {r.d: r["count"] for r in attributed}
    assert set(per_day) == set(want)
    for d, total in per_day.items():
        # rounding each bucket to 4 decimals can drift the day sum by
        # at most #buckets * 5e-5
        assert abs(total - want[d]) < 1e-3, d
