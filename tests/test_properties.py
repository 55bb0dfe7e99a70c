"""Property-based tests (hypothesis): invariants that must hold for
arbitrary inputs, not just fixtures — ingestion row conservation,
percentage-difference algebra, shingle counts, salting correctness.

Strategy sizes are kept small (Spark job per example is expensive);
hypothesis still explores the edge space (empty strings, unicode,
boundary floats) far better than hand fixtures.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark.functions.expressions import (
    guarded_pct_diff,
)
from tableau_dashboard_performance_etl_automation_spark.functions.skew import (
    salted,
    salted_count,
)
from tableau_dashboard_performance_etl_automation_spark.functions.text import (
    word_shingles,
    words,
)

_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll",), max_codepoint=0x7F),
    min_size=1,
    max_size=8,
)


@given(st.lists(_word, min_size=1, max_size=12))
@_SETTINGS
def test_shingle_count_invariant(spark, tokens):
    """#shingles == max(n_words - k + 1, 0) for any word list."""
    text = " ".join(tokens)
    df = spark.createDataFrame([(text,)], ["text"]).withColumn("w", words())
    sh = df.select(word_shingles().alias("sh")).collect()[0].sh
    assert len(sh) == max(len(tokens) - 2, 0)
    # every shingle is 3 consecutive words
    for i, s in enumerate(sh):
        assert s == " ".join(tokens[i : i + 3])


@given(
    st.one_of(st.just(0.0), st.floats(min_value=0.01, max_value=1e6)),
    st.floats(min_value=0, max_value=1e6, allow_nan=False),
)
@_SETTINGS
def test_pct_diff_algebra(spark, avg, cur):
    df = spark.createDataFrame([(float(avg), float(cur))], ["a", "c"])
    out = df.select(guarded_pct_diff(F.col("a"), F.col("c")).alias("p")).collect()[0].p
    if avg == 0:
        assert out is None
    else:
        # reference implements Spark's ROUND semantics: HALF_UP on the
        # shortest decimal repr (Python's round() is half-to-even and
        # diverges exactly on .00005 boundaries — hypothesis found one)
        from decimal import ROUND_HALF_UP, Decimal

        want = float(
            Decimal(repr((cur - avg) / avg * 100.0)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )
        assert abs(out - want) < 1e-9


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=-(2**31), max_value=2**31),
        ),
        min_size=0,
        max_size=30,
    )
)
@_SETTINGS
def test_salted_count_equals_plain_count(spark, rows):
    if not rows:
        return
    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    salted = {r.k: r.n for r in salted_count(df, "k", n_salts=4).collect()}
    assert plain == salted


def test_salt_actually_spreads_hot_keys(spark):
    """A single hot key must fan out over >1 salt even when the
    projection carries ONLY the key column — the round-1 regression
    was a column-derived salt that collapsed to one value per key,
    silently turning the two-phase count into a plain groupBy."""
    df = spark.createDataFrame([("hot",)] * 500, ["k"])
    per_key = (
        salted(df, "k", n_salts=16)
        .groupBy("k")
        .agg(F.countDistinct("_salt").alias("n_salts_used"))
        .collect()
    )
    assert per_key[0].n_salts_used > 1


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # key
            st.integers(min_value=0, max_value=50),  # candidate id
            st.floats(
                min_value=-10, max_value=10,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_struct_argmax_equals_rank_window_top1(spark, rows):
    """MAX(struct(score, -id)) must agree with
    ROW_NUMBER() OVER (ORDER BY score DESC, id) = 1 for any input —
    the equivalence the IVF assignment and jaccard best-match rely
    on (dedup.py / similarity.py)."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(rows, "k INT, id INT, score DOUBLE").dropDuplicates(
        ["k", "id"]
    )
    w = Window.partitionBy("k").orderBy(F.col("score").desc(), F.col("id"))
    via_window = {
        (r.k, r.id)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    best = df.groupBy("k").agg(
        F.max(F.struct("score", (-F.col("id")).alias("neg_id"))).alias("b")
    )
    via_argmax = {
        (r.k, r.best_id)
        for r in best.select("k", (-F.col("b.neg_id")).alias("best_id")).collect()
    }
    assert via_argmax == via_window


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-10_000, max_value=10_000),
        ),
        min_size=1,
        max_size=40,
    )
)
@_SETTINGS
def test_grouped_median_matches_quantile_cont(spark, rows):
    """The grouped median the robust-statistics texts compute,
    ``percentile_cont(0.5) WITHIN GROUP (ORDER BY v)`` on Spark, must
    equal statistics.median (== DuckDB's quantile_cont 0.5) for
    arbitrary grouped integer multisets — including ties, negatives,
    and 1-row groups."""
    import statistics

    df = spark.createDataFrame(rows, "k string, v bigint")
    got = {
        r.k: (r.med, r.n)
        for r in spark.sql(
            "SELECT k, percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS med,"
            " COUNT(*) AS n FROM {df} GROUP BY k",
            df=df,
        ).collect()
    }
    by_key: dict[str, list[int]] = {}
    for k, v in rows:
        by_key.setdefault(k, []).append(v)
    for k, vals in by_key.items():
        assert got[k][0] == statistics.median(vals), k
        assert got[k][1] == len(vals)


@given(
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=20),
    st.integers(min_value=4, max_value=64),
)
@_SETTINGS
def test_packing_boundary_math_matches_reference(spark, toks, capacity):
    """The window-prefix-sum packing arithmetic must agree with a
    direct sequential concat-and-chunk simulation for any doc-length
    sequence and any capacity."""
    from pyspark.sql.window import Window

    rows = [(i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["doc_id", "toks"])
    w = (
        Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = (
        df.withColumn("cum", F.sum("toks").over(w))
        .withColumn("seq_first", F.expr(f"(cum - toks) div {capacity}"))
        .withColumn("seq_last", F.expr(f"(cum - 1) div {capacity}"))
        .orderBy("doc_id")
        .collect()
    )
    # reference simulation: walk the concatenated token stream
    pos = 0
    for r, t in zip(got, toks):
        assert r["seq_first"] == pos // capacity
        assert r["seq_last"] == (pos + t - 1) // capacity
        pos += t
    total = sum(toks)
    n_sequences = got[-1]["seq_last"] + 1
    assert n_sequences == -(-total // capacity)  # ceil division


@given(
    st.lists(
        st.lists(_word, min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
@_SETTINGS
def test_subdoc_block_dedup_matches_bruteforce(spark, docs_words):
    """Per-doc duplicate-block counts from the SHIPPED pipeline
    (dedup.subdoc_block_stats) must equal a Python brute-force
    first-occurrence scan for arbitrary word lists (including docs
    shorter than one block and exact-duplicate docs)."""
    from tableau_dashboard_performance_etl_automation_spark.operators.dedup import (
        BLOCK_WORDS,
        subdoc_block_stats,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs_words)]
    # brute force: blocks in (doc_id, offset) order, first owner wins
    seen: set[str] = set()
    expect: dict[int, tuple[int, int]] = {}
    for doc_id, text in rows:
        ws = text.split(" ")
        n, dups = 0, 0
        for start in range(0, len(ws), BLOCK_WORDS):
            body = " ".join(ws[start : start + BLOCK_WORDS])
            n += 1
            if body in seen:
                dups += 1
            else:
                seen.add(body)
        expect[doc_id] = (n, dups)

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_blocks, r.n_dup_blocks)
        for r in subdoc_block_stats(df).collect()
    }
    assert got == expect


@given(
    st.lists(
        st.lists(_word, min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    )
)
@_SETTINGS
def test_poisson_keep_set_matches_md5_replay(spark, docs_words):
    """The shipped sampler pipeline's keep set and HT weights must
    match an exact Python md5 replay for arbitrary texts."""
    import hashlib

    from tableau_dashboard_performance_etl_automation_spark.operators.sampling import (
        POISSON_CAP,
        poisson_sample_rows,
    )

    rows = [(i, "xx", " ".join(ws)) for i, ws in enumerate(docs_words)]
    expect = {}
    for doc_id, _, text in rows:
        toks = len(text.split(" "))
        u = int(hashlib.md5(f"pois|{doc_id}".encode()).hexdigest()[:4], 16)
        if u * POISSON_CAP < toks * (1 << 16):
            w = 1.0 if toks >= POISSON_CAP else round(POISSON_CAP / toks, 6)
            expect[doc_id] = (toks, w)

    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        r.doc_id: (r.tokens, r.ht_weight)
        for r in poisson_sample_rows(df).collect()
    }
    assert set(got) == set(expect)
    for k, (toks, w) in expect.items():
        assert got[k][0] == toks
        assert abs(got[k][1] - w) < 1e-9


@given(st.lists(_word, min_size=8, max_size=30))
@_SETTINGS
def test_winnowing_guarantee_on_shared_runs(spark, tokens):
    """Schleimer et al.'s detection guarantee, property-tested: two
    documents sharing a run of >= W+K-1 consecutive words MUST share
    at least one winnowing fingerprint. Doc B embeds a guaranteed-
    length slice of doc A inside unrelated padding."""
    import hashlib

    from tableau_dashboard_performance_etl_automation_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_W,
    )

    need = WINNOW_W + WINNOW_K - 1
    if len(tokens) < need:
        return
    shared = tokens[:need]
    pad = [f"zz{i}q" for i in range(WINNOW_W + WINNOW_K)]
    doc_a = " ".join(tokens)
    doc_b = " ".join(pad + shared + [w + "x" for w in pad])

    def fps(text: str) -> set:
        w = text.split(" ")
        grams = [
            " ".join(w[i : i + WINNOW_K])
            for i in range(len(w) - WINNOW_K + 1)
        ]
        hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
        return {
            min(hs[i : i + WINNOW_W])
            for i in range(len(hs) - WINNOW_W + 1)
        }

    assert fps(doc_a) & fps(doc_b), "shared run escaped winnowing"


@given(st.lists(st.integers(min_value=0, max_value=10**6),
                min_size=1, max_size=40))
@_SETTINGS
def test_hll_register_fold_is_permutation_invariant(spark, uids):
    """Register maxima must not depend on arrival order — the
    mergeability property that lets per-partition HLL registers
    combine by max."""
    import hashlib

    from tableau_dashboard_performance_etl_automation_spark.operators.sketches import HLL_M

    def regs(order):
        r = [0] * HLL_M
        for uid in order:
            h = hashlib.md5(str(uid).encode()).hexdigest()
            reg = int(h[0:2], 16) % HLL_M
            w = int(h[2:10], 16)
            rho = 33 - w.bit_length()
            r[reg] = max(r[reg], rho)
        return r

    assert regs(uids) == regs(list(reversed(uids)))
    assert regs(uids) == regs(sorted(uids))
