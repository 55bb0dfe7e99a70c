"""Statistical testing & monitoring — the hypothesis-test /
drift-detection layer a production data pipeline runs on top of its
marts (reference scope: tabjolt_email.py:385,387 flags regressions
with a fixed ±% threshold; these are the same comparisons done with
real test statistics: CUSUM excursions, EWMA smoothing, Mann-Whitney
rank tests, Kolmogorov-Smirnov distribution drift, two-proportion
z-tests, and chance-corrected agreement).

Numeric discipline shared by the file (the
``analytics.daily_anomaly_scores`` contract): every engine-side
reduction is an EXACT integer (cents, counts, rank sums that are
exact half-integers, micro-unit covariance cells) so accumulation
order can never differ between Spark and the DuckDB oracle; each test
statistic is ONE closed-form double expression of those integers,
rounded once.  Scale shape shared by the file: raw tables are touched
once by a map-side-combinable hash aggregate onto a BOUNDED domain
(days, sources, arms, label pairs, value compactions); windows only
ever order that bounded/compacted domain, never corpus rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.functions.expressions import (
    dow_sunday0_sql,
)
from tableau_dashboard_performance_etl_automation_spark.functions.text import words
from tableau_dashboard_performance_etl_automation_spark.operators.sampling import (
    _bucket,
)

#: Mann-Whitney comparison pair (two document sources).
MW_SRC_A = "src0"
MW_SRC_B = "src1"

#: KS drift split: days 1..KS_SPLIT_DAYS after the corpus min date
#: form the reference period, the rest the current period.
KS_SPLIT_DAYS = 14

#: Water-filling token budget as a percent of the corpus total.
WATERFILL_BUDGET_PCT = 60


def daily_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift series: per day, the cumulative deviation of event
    value volume from a uniform daily rate (``cum(s_d) - t*S/D``) —
    the control-chart curve whose excursions localize WHEN a rate
    change happened (a fixed-threshold daily alarm like the
    reference's ±20% flag cannot).

    The day aggregate is one map-side-combinable hash aggregate onto
    the bounded day domain; the cumulative window orders those ~30
    day rows, never events. ``cum_s`` is an exact BIGINT cents sum;
    the deviation subtracts one double product per row."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").alias("s"))
    )
    totals = F.broadcast(
        daily.agg(
            F.sum("s").alias("grand_s"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    t = F.row_number().over(Window.orderBy("d"))
    return (
        daily.crossJoin(totals)
        .select(
            "d",
            F.round(F.col("s") / 100.0, 2).alias("daily_value"),
            F.sum("s").over(w).alias("cum_s"),
            t.alias("t"),
            "grand_s",
            "n_days",
        )
        .select(
            "d",
            "daily_value",
            F.round(
                (
                    F.col("cum_s")
                    - F.col("t") * (F.col("grand_s") / F.col("n_days"))
                )
                / 100.0,
                4,
            ).alias("cusum_dev"),
            F.round(
                (
                    F.col("cum_s")
                    - F.col("t") * (F.col("grand_s") / F.col("n_days"))
                )
                * 100.0
                / F.col("grand_s"),
                4,
            ).alias("dev_share_pct"),
        )
        .orderBy("d")
    )


# Decay per day r = 0.5 (one-day half-life), chosen because 2^t weight
# scaling is EXACT in binary floating point (a shifted integer, not
# libm pow), so both engines build bit-identical weights.
def daily_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-smoothed daily mean value (pandas ``adjust=True``
    semantics: ``ewma_t = sum(r^(t-i) x_i) / sum(r^(t-i))``) — the
    denoised trend line the drift tests compare against.

    The r^t scaling cancels between numerator and denominator, so
    each is a cumulative sum of ``x_i * 2^(i-D)`` / ``2^(i-D)``
    (D = series length) — and the weights are built as reciprocals
    of integer shifts (``1 / (1 << (D-i))``), EXACT in both engines,
    never libm ``pow`` whose last ulp may differ. Anchoring at the
    series END keeps every shift in 0..62 no matter how long the
    series grows (a raw ``1 << t`` would silently wrap past 62
    days); history older than 62 days gets weight exactly 0.0 in
    both engines — numerically indistinguishable from its true
    < 2^-63 contribution. The window orders the aggregated day
    rows."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").alias("s"),
        )
    )
    t = F.row_number().over(Window.orderBy("d"))
    mean = F.col("s") / F.col("n") / 100.0
    # SQL shiftleft accepts a column shift amount (the Python API
    # wrapper does not); the shift amount D-t stays in 0..62
    wt = F.expr(
        "CASE WHEN dd - t <= 62 THEN"
        " 1.0 / CAST(shiftleft(CAST(1 AS BIGINT), CAST(dd - t AS INT))"
        " AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = F.broadcast(daily.agg(F.count(F.lit(1)).alias("dd")))
    return (
        daily.crossJoin(dd)
        .withColumn("t", t)
        .withColumn("day_mean", mean)
        .withColumn("u", F.col("day_mean") * wt)
        .withColumn("v", wt)
        .select(
            "d",
            F.round("day_mean", 4).alias("day_mean"),
            F.round(
                F.sum("u").over(w) / F.sum("v").over(w), 4
            ).alias("ewma"),
        )
        .orderBy("d")
    )


def quality_mannwhitney_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test on document length (``n_chars``) between
    sources ``MW_SRC_A`` and ``MW_SRC_B`` — the nonparametric "is
    this source systematically longer?" check that a mean-difference
    test gets wrong on heavy-tailed length distributions.

    Rank arithmetic runs on the VALUE-DOMAIN compaction (per distinct
    n_chars: counts per group), so the ordering window sorts distinct
    lengths, never documents. Tied ranks use the average-rank
    convention; every rank sum is an exact half-integer (exact in
    doubles), the tie correction an exact BIGINT, and z one final
    closed-form expression."""
    docs = load_table(spark, sf_dir, "documents")
    both = docs.filter(F.col("source").isin(MW_SRC_A, MW_SRC_B))
    comp = both.groupBy(F.col("n_chars").alias("v")).agg(
        F.sum((F.col("source") == MW_SRC_A).cast("bigint")).alias("ca"),
        F.sum((F.col("source") == MW_SRC_B).cast("bigint")).alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = comp.withColumn("ct", F.col("ca") + F.col("cb")).withColumn(
        "avg_rank",
        (F.sum(F.col("ca") + F.col("cb")).over(w) - (F.col("ca") + F.col("cb")))
        + (F.col("ca") + F.col("cb") + 1) / 2.0,
    )
    sums = ranked.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(F.col("ca") * F.col("avg_rank")).alias("ra"),
        F.sum(
            F.col("ct") * F.col("ct") * F.col("ct") - F.col("ct")
        ).cast("bigint").alias("tie3"),
    )
    n = F.col("na") + F.col("nb")
    u_a = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0
    var = (
        F.col("na")
        * F.col("nb")
        / 12.0
        * ((n + 1) - F.col("tie3") / (n * (n - 1.0)))
    )
    z = (u_a - F.col("na") * F.col("nb") / 2.0) / F.sqrt(var)
    return sums.select(
        "na",
        "nb",
        F.round(u_a, 1).alias("u_a"),
        F.round(F.when(var > 0, z), 4).alias("z"),
    )


def daily_value_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the event
    value distribution of the first ``KS_SPLIT_DAYS`` days and the
    rest of the period — the distribution-level drift test that
    catches shape changes PSI's fixed bins smear out.

    The ECDF sup-difference is maximized in EXACT integers: per
    distinct cent value, cross-multiplied cumulative counts
    ``|cum_a*nb - cum_b*na|`` (BIGINT; headroom to ~3e9 rows per
    side, then move to DECIMAL(38,0)) — so the argmax value is
    deterministic and D divides once at the end. The window orders
    the cents compaction, never events; the pivot date derives from
    the data (broadcast 1-row aggregate), never the wall clock."""
    events = load_table(spark, sf_dir, "events")
    pivot = F.broadcast(
        events.agg(
            F.date_add(F.min(F.to_date("ts")), KS_SPLIT_DAYS - 1).alias(
                "pivot_d"
            )
        )
    )
    comp = (
        events.crossJoin(pivot)
        .select(
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            (F.to_date("ts") <= F.col("pivot_d")).cast("bigint").alias(
                "in_a"
            ),
        )
        .groupBy("cents")
        .agg(
            F.sum("in_a").alias("ca"),
            F.sum(1 - F.col("in_a")).alias("cb"),
        )
    )
    # side totals AND the sup-difference peak fold into
    # whole-partition window aggregates over the SAME cents ordering
    # the cumulative window establishes — the broadcast-totals /
    # broadcast-peak spelling re-executed the corpus compaction once
    # per consumer (~5 corpus scans, 24 exchanges)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    diffs = comp.select(
        "cents",
        F.sum("ca").over(wt).cast("bigint").alias("na"),
        F.sum("cb").over(wt).cast("bigint").alias("nb"),
        F.abs(
            F.sum("ca").over(w) * F.sum("cb").over(wt).cast("bigint")
            - F.sum("cb").over(w) * F.sum("ca").over(wt).cast("bigint")
        ).alias("diff_int"),
    ).withColumn("max_diff", F.max("diff_int").over(wt))
    return (
        diffs.filter(F.col("diff_int") == F.col("max_diff"))
        .groupBy("na", "nb", "max_diff")
        .agg(F.min("cents").alias("at_cents"))
        .select(
            "na",
            "nb",
            # degenerate-input parity: an empty period gives 0/0
            # (NaN, whose hash differs between engines) — both
            # engines return NULL instead
            F.round(
                F.when(
                    F.col("na") * F.col("nb") > 0,
                    F.col("max_diff") / (F.col("na") * F.col("nb") * 1.0),
                ),
                6,
            ).alias("ks_d"),
            F.round(F.col("at_cents") / 100.0, 2).alias("at_value"),
        )
    )


def embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective rank (participation ratio) of the embedding space:
    ``trace(C)^2 / ||C||_F^2`` — a closed-form spectral-concentration
    diagnostic (how many dimensions carry the variance) that needs NO
    eigendecomposition, so it stays a pure aggregate at any corpus
    size.  A collapsing embedding model shows up here as eff_rank
    falling toward 1 long before retrieval metrics degrade.

    Composes :func:`similarity.covariance_cells` (the upper-triangle
    covariance from exact micro-unit moments, rounded to 8): the
    rounded cells are re-quantized to exact 1e-8 integer units, so
    trace and Frobenius sums are exact BIGINTs (off-diagonal cells
    count twice) and the ratio is one final division."""
    from tableau_dashboard_performance_etl_automation_spark.operators.similarity import (
        covariance_cells,
    )

    cov = covariance_cells(spark, sf_dir)
    u = cov.select(
        "dim_i",
        "dim_j",
        F.round(F.col("cov") * 1e8).cast("bigint").alias("cu"),
    )
    diag = F.col("dim_i") == F.col("dim_j")
    sums = u.agg(
        F.sum(F.when(diag, 1).otherwise(0)).cast("int").alias("n_dims"),
        F.sum(F.when(diag, F.col("cu")).otherwise(0)).alias("tr_u"),
        F.sum(
            F.when(diag, F.col("cu") * F.col("cu")).otherwise(
                2 * F.col("cu") * F.col("cu")
            )
        ).alias("fro2_u"),
    )
    return sums.select(
        "n_dims",
        F.round(F.col("tr_u") / 1e8, 8).alias("trace_cov"),
        F.round(
            F.col("tr_u") * F.col("tr_u") / (F.col("fro2_u") * 1.0), 4
        ).alias("effective_rank"),
    )


def conversion_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase conversion between two
    deterministically hash-assigned user arms — the A/B readout every
    experimentation pipeline ends in.  Arm assignment replays the
    engine's split primitive (md5 bucket parity,
    ``sampling._bucket``), so assignment is stable across runs,
    engines, and cluster sizes.

    Per-user conversion is one map-side-combinable aggregate on
    ``user_id``; arms collapse to a 2-row table; z is a closed form
    of four exact integers."""
    events = load_table(spark, sf_dir, "events")
    users = (
        events.groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("bigint")
            ).alias("converted")
        )
        .select(
            F.when(_bucket(F.col("user_id")) % 2 == 0, "A")
            .otherwise("B")
            .alias("arm"),
            "converted",
        )
    )
    arms = users.groupBy().agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    p1 = F.col("conv_a") / F.col("n_a")
    p2 = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return arms.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p1, 4).alias("rate_a"),
        F.round(p2, 4).alias("rate_b"),
        F.round(F.when(se > 0, (p1 - p2) / se), 4).alias("z"),
    )


def lang_id_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the language-ID heuristic and the
    labeled ``lang`` column — chance-corrected agreement, the honest
    version of the raw accuracy `lang_id_confusion` reports (a
    degenerate labeler that answers the majority class every time
    scores high accuracy but kappa ~ 0).

    Kappa reduces to EXACT integers: ``(N*agree - sum(rt*ct)) /
    (N^2 - sum(rt*ct))`` over the bounded label domain — marginals
    are two tiny aggregates joined on the 5-value label key, then one
    final division."""
    from tableau_dashboard_performance_etl_automation_spark.operators.textops import (
        text_lang_id,
    )

    pred = text_lang_id(spark, sf_dir).select("lang", "predicted_lang")
    overall = pred.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            (F.col("lang") == F.col("predicted_lang")).cast("bigint")
        ).alias("agree"),
    )
    rt = pred.groupBy(F.col("lang").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("row_tot")
    )
    ct = pred.groupBy(F.col("predicted_lang").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("col_tot")
    )
    chance = F.broadcast(
        rt.join(ct, "label").agg(
            F.sum(F.col("row_tot") * F.col("col_tot")).alias("exp_agree")
        )
    )
    return (
        F.broadcast(overall)
        .crossJoin(chance)
        .select(
            "n_docs",
            F.round(F.col("agree") * 100.0 / F.col("n_docs"), 4).alias(
                "agreement_pct"
            ),
            F.round(
                (F.col("n_docs") * F.col("agree") - F.col("exp_agree"))
                / (
                    F.col("n_docs") * F.col("n_docs")
                    - F.col("exp_agree")
                    * 1.0
                ),
                6,
            ).alias("kappa"),
        )
    )


def mixture_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling across sources: allocate a budget
    of ``WATERFILL_BUDGET_PCT``% of corpus tokens uniformly, capped
    at each source's available tokens (``alloc_s = min(c_s, theta)``
    with theta chosen so allocations sum to the budget) — the
    mixture-balancing step of training-data budgeting (uniform
    sampling with per-source availability caps).

    The breakpoint search is integer-exact: on the source compaction
    sorted by availability, position i is a valid cap boundary iff
    ``budget - cum_i >= c_i * (K - i)`` (all BIGINT); theta divides
    once at the argmax boundary.  Every window orders the BOUNDED
    source domain (~20 rows after one map-side-combining aggregate
    over the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.size(words()).cast("bigint").alias("toks"))
        .groupBy("source")
        .agg(F.sum("toks").alias("c"))
    )
    wo = Window.orderBy("c", "source")
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    # every step below is a window over the ≤|sources|-row per-source
    # frame, so the plan is one chain over one corpus aggregate: no
    # branch re-executes the corpus tokenize
    everything = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_src.select(
        "source",
        "c",
        F.sum("c").over(everything).alias("total_toks"),
        F.count(F.lit(1)).over(everything).cast("bigint").alias("k"),
        F.row_number().over(wo).cast("bigint").alias("i"),
        F.sum("c").over(wc).alias("cum"),
    ).withColumn(
        "budget", F.expr(f"total_toks * {WATERFILL_BUDGET_PCT} DIV 100")
    )
    # boundary i is valid iff capping sources 1..i leaves a water
    # level still above c_i; i=0 (nothing capped) is always valid
    valid = F.col("budget") - F.col("cum") >= F.col("c") * (
        F.col("k") - F.col("i")
    )
    starred = ranked.withColumn(
        "i_star",
        F.coalesce(
            F.max(F.when(valid, F.col("i"))).over(everything),
            F.lit(0).cast("bigint"),
        ),
    ).withColumn(
        "cum_star",
        F.coalesce(
            F.sum(
                F.when(F.col("i") <= F.col("i_star"), F.col("c"))
            ).over(everything),
            F.lit(0).cast("bigint"),
        ),
    )
    theta = (F.col("budget") - F.col("cum_star")) / (
        F.col("k") - F.col("i_star") * 1.0
    )
    return (
        starred.select(
            "source",
            F.col("c").alias("available_tokens"),
            (F.col("i") > F.col("i_star")).cast("int").alias("at_cap"),
            F.round(
                F.when(F.col("i") <= F.col("i_star"), F.col("c")).otherwise(
                    theta
                ),
                2,
            ).alias("alloc_tokens"),
            F.round(theta, 2).alias("water_level"),
        )
        .repartition(1)
        .orderBy("source")
    )


def _cov_oracle() -> str:
    """The embedding_covariance oracle, reused as a subquery (DuckDB
    allows a full WITH...SELECT inside a CTE body)."""
    from tableau_dashboard_performance_etl_automation_spark.operators.similarity import (
        ORACLE_SQL as _SIM_ORACLE,
    )

    return _SIM_ORACLE["embedding_covariance"]


QUERIES = {
    "daily_cusum_drift": daily_cusum_drift,
    "daily_value_ewma": daily_value_ewma,
    "quality_mannwhitney_sources": quality_mannwhitney_sources,
    "daily_value_ks_test": daily_value_ks_test,
    "embedding_effective_rank": embedding_effective_rank,
    "conversion_ab_ztest": conversion_ab_ztest,
    "lang_id_cohens_kappa": lang_id_cohens_kappa,
    "mixture_water_filling": mixture_water_filling,
}


def _oracle_sql() -> dict[str, str]:
    from tableau_dashboard_performance_etl_automation_spark.operators.textops import (
        _lang_oracle,
    )

    return {
        "daily_cusum_drift": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS d,
                       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
                FROM events GROUP BY 1
            ),
            tot AS (
                SELECT SUM(s) AS grand_s, COUNT(*) AS n_days FROM daily
            ),
            cum AS (
                SELECT d,
                       s,
                       SUM(s) OVER (ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS cum_s,
                       CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
                FROM daily
            )
            SELECT d,
                   ROUND(s / 100.0, 2) AS daily_value,
                   ROUND((cum_s - t * (CAST(grand_s AS DOUBLE) / n_days))
                         / 100.0, 4) AS cusum_dev,
                   ROUND((cum_s - t * (CAST(grand_s AS DOUBLE) / n_days))
                         * 100.0 / grand_s, 4) AS dev_share_pct
            FROM cum CROSS JOIN tot
            ORDER BY d
        """,
        "daily_value_ewma": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS d,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
                FROM events GROUP BY 1
            ),
            cnt AS (SELECT COUNT(*) AS dd FROM daily),
            r AS (
                SELECT d,
                       CAST(s AS DOUBLE) / n / 100.0 AS day_mean,
                       CASE WHEN dd - ROW_NUMBER() OVER (ORDER BY d)
                                 <= 62
                            THEN 1.0 / CAST(1::BIGINT <<
                                 (dd - ROW_NUMBER() OVER (ORDER BY d))
                                 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END AS wt
                FROM daily CROSS JOIN cnt
            )
            SELECT d,
                   ROUND(day_mean, 4) AS day_mean,
                   ROUND(SUM(day_mean * wt) OVER w / SUM(wt) OVER w, 4)
                       AS ewma
            FROM r
            WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
            ORDER BY d
        """,
        "quality_mannwhitney_sources": f"""
            WITH comp AS (
                SELECT n_chars AS v,
                       SUM(CASE WHEN source = '{MW_SRC_A}' THEN 1
                                ELSE 0 END) AS ca,
                       SUM(CASE WHEN source = '{MW_SRC_B}' THEN 1
                                ELSE 0 END) AS cb
                FROM documents
                WHERE source IN ('{MW_SRC_A}', '{MW_SRC_B}')
                GROUP BY n_chars
            ),
            ranked AS (
                SELECT ca, cb, ca + cb AS ct,
                       (SUM(ca + cb) OVER (ORDER BY v
                            ROWS UNBOUNDED PRECEDING) - (ca + cb))
                           + (ca + cb + 1) / 2.0 AS avg_rank
                FROM comp
            ),
            s AS (
                SELECT CAST(SUM(ca) AS BIGINT) AS na,
                       CAST(SUM(cb) AS BIGINT) AS nb,
                       SUM(ca * avg_rank) AS ra,
                       CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie3
                FROM ranked
            )
            SELECT na, nb,
                   ROUND(ra - na * (na + 1) / 2.0, 1) AS u_a,
                   ROUND(CASE WHEN na * nb / 12.0
                             * ((na + nb + 1)
                                - tie3 / ((na + nb) * (na + nb - 1.0))) > 0
                        THEN (ra - na * (na + 1) / 2.0 - na * nb / 2.0)
                             / sqrt(na * nb / 12.0
                                    * ((na + nb + 1)
                                       - tie3 / ((na + nb)
                                                 * (na + nb - 1.0))))
                        END, 4) AS z
            FROM s
        """,
        "daily_value_ks_test": f"""
            WITH piv AS (
                SELECT MIN(CAST(ts AS DATE))
                           + INTERVAL {KS_SPLIT_DAYS - 1} DAY AS pivot_d
                FROM events
            ),
            comp AS (
                SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
                       SUM(CASE WHEN CAST(ts AS DATE) <= pivot_d
                                THEN 1 ELSE 0 END) AS ca,
                       SUM(CASE WHEN CAST(ts AS DATE) <= pivot_d
                                THEN 0 ELSE 1 END) AS cb
                FROM events CROSS JOIN piv
                GROUP BY 1
            ),
            tot AS (
                SELECT CAST(SUM(ca) AS BIGINT) AS na,
                       CAST(SUM(cb) AS BIGINT) AS nb
                FROM comp
            ),
            diffs AS (
                SELECT cents, na, nb,
                       ABS(SUM(ca) OVER w * nb - SUM(cb) OVER w * na)
                           AS diff_int
                FROM comp CROSS JOIN tot
                WINDOW w AS (ORDER BY cents ROWS UNBOUNDED PRECEDING)
            ),
            peak AS (SELECT MAX(diff_int) AS max_diff FROM diffs)
            SELECT na, nb,
                   ROUND(CASE WHEN na * nb > 0
                              THEN max_diff / (na * nb * 1.0) END, 6)
                       AS ks_d,
                   ROUND(MIN(cents) / 100.0, 2) AS at_value
            FROM diffs CROSS JOIN peak
            WHERE diff_int = max_diff
            GROUP BY na, nb, max_diff
        """,
        "embedding_effective_rank": f"""
            WITH cov AS ({_cov_oracle()}),
            u AS (
                SELECT dim_i, dim_j,
                       CAST(ROUND(cov * 1e8) AS BIGINT) AS cu
                FROM cov
            ),
            s AS (
                SELECT CAST(SUM(CASE WHEN dim_i = dim_j THEN 1
                                     ELSE 0 END) AS INTEGER) AS n_dims,
                       SUM(CASE WHEN dim_i = dim_j THEN cu
                                ELSE 0 END) AS tr_u,
                       SUM(CASE WHEN dim_i = dim_j THEN cu * cu
                                ELSE 2 * cu * cu END) AS fro2_u
                FROM u
            )
            SELECT n_dims,
                   ROUND(tr_u / 1e8, 8) AS trace_cov,
                   ROUND(tr_u * tr_u / (fro2_u * 1.0), 4)
                       AS effective_rank
            FROM s
        """,
        "conversion_ab_ztest": """
            WITH users AS (
                SELECT user_id,
                       MAX(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS converted,
                       CASE WHEN (ascii(substr(md5(
                                      CAST(user_id AS STRING)), 1, 1)) * 256
                                  + ascii(substr(md5(
                                      CAST(user_id AS STRING)), 2, 1)))
                                 % 100 % 2 = 0
                            THEN 'A' ELSE 'B' END AS arm
                FROM events GROUP BY user_id
            ),
            arms AS (
                SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_a,
                       CAST(SUM(CASE WHEN arm = 'A' THEN converted
                                     ELSE 0 END) AS BIGINT) AS conv_a,
                       CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_b,
                       CAST(SUM(CASE WHEN arm = 'B' THEN converted
                                     ELSE 0 END) AS BIGINT) AS conv_b
                FROM users
            )
            SELECT n_a, conv_a, n_b, conv_b,
                   ROUND(conv_a * 1.0 / n_a, 4) AS rate_a,
                   ROUND(conv_b * 1.0 / n_b, 4) AS rate_b,
                   ROUND(CASE WHEN
                         sqrt((conv_a + conv_b) * 1.0 / (n_a + n_b)
                              * (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                              * (1.0 / n_a + 1.0 / n_b)) > 0
                         THEN (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
                              / sqrt((conv_a + conv_b) * 1.0 / (n_a + n_b)
                                     * (1 - (conv_a + conv_b) * 1.0
                                            / (n_a + n_b))
                                     * (1.0 / n_a + 1.0 / n_b))
                         END, 4) AS z
            FROM arms
        """,
        "lang_id_cohens_kappa": f"""
            WITH pred AS ({_lang_oracle()}),
            overall AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(CASE WHEN lang = predicted_lang
                                     THEN 1 ELSE 0 END) AS BIGINT) AS agree
                FROM pred
            ),
            rt AS (
                SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS row_tot
                FROM pred GROUP BY lang
            ),
            ct AS (
                SELECT predicted_lang AS label,
                       CAST(COUNT(*) AS BIGINT) AS col_tot
                FROM pred GROUP BY predicted_lang
            ),
            chance AS (
                SELECT SUM(row_tot * col_tot) AS exp_agree
                FROM rt JOIN ct USING (label)
            )
            SELECT n_docs,
                   ROUND(agree * 100.0 / n_docs, 4) AS agreement_pct,
                   ROUND((n_docs * agree - exp_agree)
                         / (n_docs * n_docs - exp_agree * 1.0), 6) AS kappa
            FROM overall CROSS JOIN chance
        """,
        "mixture_water_filling": f"""
            WITH per_src AS (
                SELECT source,
                       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                           AS c
                FROM documents GROUP BY source
            ),
            tot AS (
                SELECT SUM(c) AS total_toks,
                       CAST(COUNT(*) AS BIGINT) AS k
                FROM per_src
            ),
            ranked AS (
                SELECT source, c, total_toks, k,
                       total_toks * {WATERFILL_BUDGET_PCT} // 100
                           AS budget,
                       CAST(ROW_NUMBER() OVER (ORDER BY c, source)
                            AS BIGINT) AS i,
                       SUM(c) OVER (ORDER BY c, source
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM per_src CROSS JOIN tot
            ),
            boundary AS (
                SELECT COALESCE(MAX(i), 0) AS i_star
                FROM ranked
                WHERE budget - cum >= c * (k - i)
            ),
            cut AS (
                SELECT COALESCE(SUM(c), 0) AS cum_star
                FROM ranked CROSS JOIN boundary
                WHERE i <= i_star
            )
            SELECT source,
                   c AS available_tokens,
                   CAST(CASE WHEN i > i_star THEN 1 ELSE 0 END
                        AS INTEGER) AS at_cap,
                   ROUND(CASE WHEN i <= i_star THEN CAST(c AS DOUBLE)
                              ELSE (budget - cum_star)
                                   / (k - i_star * 1.0) END, 2)
                       AS alloc_tokens,
                   ROUND((budget - cum_star) / (k - i_star * 1.0), 2)
                       AS water_level
            FROM ranked CROSS JOIN boundary CROSS JOIN cut
            ORDER BY source
        """,
    }


class _LazyOracle(dict):
    """Defer oracle assembly (it imports sibling modules) to first
    access, keeping import order cycle-free.

    The fill guard is a FLAG, not ``if not self``: direct
    ``ORACLE_SQL[name] = ...`` registrations at module scope (the
    convention every other module uses) make the dict non-empty
    before first access, and an emptiness guard would then silently
    drop every lazily-assembled entry (caught by
    ``test_queries_and_oracles_share_rotation`` when round 5g
    appended two stats ops this way)."""

    _filled = False

    def _fill(self) -> None:
        if self._filled:
            return
        # flag is set only AFTER every builder succeeds: a builder
        # raising (e.g. transient import error) must not leave later
        # accesses silently serving a permanently partial dict
        # (round-5 ADVICE item) — collect first, publish atomically
        assembled: dict = {}
        for builder in (
            _oracle_sql,
            _oracle_sql2,
            _oracle_sql3,
            _oracle_sql4,
            _oracle_sql5,
            _oracle_sql6,
            _oracle_sql7,
            _oracle_sql8,
            _oracle_sql9,
            _oracle_sql10,
        ):
            assembled.update(builder())
        self.update(assembled)
        self._filled = True

    def __getitem__(self, key):  # noqa: D105
        self._fill()
        return super().__getitem__(key)

    def keys(self):  # noqa: D102
        self._fill()
        return super().keys()

    def items(self):  # noqa: D102
        self._fill()
        return super().items()

    def __iter__(self):  # noqa: D105
        self._fill()
        return super().__iter__()


ORACLE_SQL = _LazyOracle()


#: Lead-lag scan range (days) for the cross-correlation query.
LEADLAG_MAX = 3

#: Series compared by the lead-lag cross-correlation.
LEADLAG_X = "click"
LEADLAG_Y = "purchase"


def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order prices — the
    data-quality / fraud screen: a synthetically generated or
    manipulated money column deviates from ``P(d) = log10(1+1/d)``
    long before any per-row rule can see it.

    First digits come from string arithmetic on the exact integer
    part (no libm log on data); the digit spine 1..9 is generated so
    absent digits still report a row. One map-side-combinable
    aggregate onto 9 cells; expected shares apply log10 to the nine
    CONSTANTS only."""
    orders = load_table(spark, sf_dir, "orders")
    digits = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    total = F.broadcast(digits.agg(F.sum("obs").alias("n")))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    exp = F.col("n") * benford
    return (
        spine.join(F.broadcast(digits), "digit", "left")
        .withColumn("obs", F.coalesce("obs", F.lit(0).cast("bigint")))
        .crossJoin(total)
        .select(
            "digit",
            F.col("obs").alias("n_orders"),
            F.round(F.col("obs") * 100.0 / F.col("n"), 4).alias("obs_pct"),
            F.round(benford * 100.0, 4).alias("benford_pct"),
            F.round((F.col("obs") - exp) * (F.col("obs") - exp) / exp, 6)
            .alias("chi_term"),
        )
        .repartition(1)
        .orderBy("digit")
    )


def daily_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best changepoint in the daily event-value series:
    the day split maximizing the between-segment sum of squares
    (binary-segmentation step 1) — the "WHEN did the level shift"
    answer to what `daily_cusum_drift` plots.

    Every candidate split's objective ``S1²/N1 + S2²/N2`` is a
    closed form of exact BIGINT prefix sums on the ~30-row day
    compaction (cents headroom to ~3e9 cents of daily volume per
    side, then DECIMAL); the objective is rounded to 6 BEFORE the
    argmax so near-ties collapse to exact ties broken by earliest
    day — deterministic in both engines."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").alias("s"),
        )
    )
    # grand totals AND the objective peak fold into whole-partition
    # window aggregates over the SAME day ordering the prefix window
    # establishes — the broadcast-totals / broadcast-peak spelling
    # re-executed the day compaction once per consumer (the
    # daily_value_ks_test fold, same plan disease)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = F.row_number().over(Window.orderBy("d"))
    pre = (
        daily.withColumn("t", t)
        .withColumn("cumn", F.sum("n").over(w))
        .withColumn("cums", F.sum("s").over(w))
        .withColumn("nn", F.sum("n").over(wt))
        .withColumn("ss", F.sum("s").over(wt))
        .withColumn("n_days", F.count(F.lit(1)).over(wt))
        .filter(F.col("t") < F.col("n_days"))
    )
    n2 = F.col("nn") - F.col("cumn")
    s2 = F.col("ss") - F.col("cums")
    obj = F.round(
        F.col("cums") * F.col("cums") / (F.col("cumn") * 1.0)
        + s2 * s2 / (n2 * 1.0),
        6,
    )
    cand = pre.select(
        "d", "cumn", "cums", "nn", "ss", obj.alias("obj")
    ).withColumn(
        "best",
        F.max("obj").over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return (
        cand.filter(F.col("obj") == F.col("best"))
        .groupBy("nn", "ss", "best")
        .agg(
            F.min("d").alias("split_day"),
            F.min_by(
                F.struct("cumn", "cums"), F.struct("d")
            ).alias("pref"),
        )
        .select(
            F.col("split_day"),
            F.round(
                F.col("pref.cums") / (F.col("pref.cumn") * 100.0), 4
            ).alias("mean_before"),
            F.round(
                (F.col("ss") - F.col("pref.cums"))
                / ((F.col("nn") - F.col("pref.cumn")) * 100.0),
                4,
            ).alias("mean_after"),
            F.round(
                (
                    F.col("best")
                    - F.col("ss") * F.col("ss") / (F.col("nn") * 1.0)
                )
                / F.col("nn")
                / 1e4,
                6,
            ).alias("between_var_gain"),
        )
    )


def event_type_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily ``LEADLAG_X``
    and ``LEADLAG_Y`` event-count series at lags −3..+3 days — the
    "do clicks lead purchases?" diagnostic behind attribution
    windows. Positive lag correlates today's clicks with purchases
    ``lag`` days LATER.

    Both series live on the day spine (absent days count 0, so the
    pairing is dense); each lag is an equi-join of the ~30-row day
    compactions on a date offset, reduced to exact BIGINT power sums
    and one closed-form Pearson r."""
    events = load_table(spark, sf_dir, "events")
    per_day = (
        events.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                (F.col("event_type") == LEADLAG_X).cast("bigint")
            ).alias("x"),
            F.sum(
                (F.col("event_type") == LEADLAG_Y).cast("bigint")
            ).alias("y"),
        )
    )
    lags = spark.range(-LEADLAG_MAX, LEADLAG_MAX + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = per_day.select("d", "x")
    b = per_day.select(F.col("d").alias("d2"), "y")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("d2 = date_add(d, lag)"))
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (
            F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
        ).cast("double")
        * (
            F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")
        ).cast("double")
    )
    return (
        sums.select(
            "lag",
            "n_days",
            F.round(F.when(den > 0, num / den), 6).alias("r"),
        )
        .repartition(1)
        .orderBy("lag")
    )


def dow_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of the daily mean event
    value: per dow (0=Sunday, the `order_seasonality` convention),
    the dow-mean level, its effect vs the overall mean of daily
    means, and the within-dow residual variance — the "is Monday
    really different or just noisy" table.

    Each day's mean is quantized ONCE to exact micro-value BIGINTs
    (``round(1e6·s/n)`` of bit-identical integer quotients), so the
    dow/grand aggregates and the variance closed form run entirely
    on exact integers; divisions happen only in the final
    projection."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").alias("s"),
        )
        .select(
            (F.dayofweek("d") - 1).cast("int").alias("dow"),
            F.round(F.col("s") * 1e4 / F.col("n")).cast("bigint").alias(
                "mu"
            ),
        )
    )
    grand = F.broadcast(
        daily.agg(
            F.sum("mu").alias("gsum"),
            F.count(F.lit(1)).alias("gdays"),
        )
    )
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("mu").alias("dsum"),
        F.sum(F.col("mu") * F.col("mu")).alias("dsum2"),
    )
    dmean = F.col("dsum") / (F.col("n_days") * 1.0)
    gmean = F.col("gsum") / (F.col("gdays") * 1.0)
    return (
        per_dow.crossJoin(grand)
        .select(
            "dow",
            "n_days",
            F.round(dmean / 1e6, 4).alias("dow_mean"),
            F.round((dmean - gmean) / 1e6, 4).alias("effect"),
            F.round(
                (
                    F.col("dsum2") / (F.col("n_days") * 1.0)
                    - dmean * dmean
                )
                / 1e12,
                4,
            ).alias("within_var"),
        )
        .repartition(1)
        .orderBy("dow")
    )


def daily_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily mean value series:
    are above-median and below-median days randomly interleaved, or
    do they clump (trend/regime) or alternate (overcorrection)?

    The median of the ~30 quantized day means is exact (average of
    the two middle order statistics of BIGINT micro-values, selected
    by row_number — a window over the day compaction); days AT the
    median drop (the standard tie rule); runs count via one lag
    window over the remaining day rows; z is the closed form of
    exact integers."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").alias("s"),
        )
        .select(
            "d",
            F.round(F.col("s") * 1e4 / F.col("n")).cast("bigint").alias(
                "mu"
            ),
        )
    )
    rn = F.row_number().over(Window.orderBy("mu", "d"))
    cnt = F.broadcast(daily.agg(F.count(F.lit(1)).alias("dd")))
    med = F.broadcast(
        daily.crossJoin(cnt)
        .withColumn("rn", rn)
        .filter(
            (F.col("rn") == F.expr("(dd + 1) DIV 2"))
            | (F.col("rn") == F.expr("(dd + 2) DIV 2"))
        )
        .agg(F.avg("mu").alias("med"))
    )
    signs = (
        daily.crossJoin(med)
        .filter(F.col("mu") != F.col("med"))
        .select("d", (F.col("mu") > F.col("med")).cast("int").alias("up"))
    )
    flips = signs.select(
        "up",
        (
            F.col("up")
            != F.lag("up", 1, -1).over(Window.orderBy("d"))
        ).cast("bigint").alias("flip"),
    )
    sums = flips.agg(
        F.sum("up").cast("bigint").alias("n1"),
        F.sum(1 - F.col("up")).cast("bigint").alias("n2"),
        F.sum("flip").cast("bigint").alias("runs"),
    )
    n = F.col("n1") + F.col("n2")
    mu_r = 2.0 * F.col("n1") * F.col("n2") / n + 1
    var_r = (
        2.0
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - n)
        / (n * n * (n - 1.0))
    )
    return sums.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("runs").alias("n_runs"),
        F.round(
            F.when(var_r > 0, (F.col("runs") - mu_r) / F.sqrt(var_r)), 4
        ).alias("z"),
    )


def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation OLS trend of monthly order revenue: slope and
    intercept of cents-exact revenue regressed on the month index —
    the per-key regression every KPI dashboard fits (and the honest
    replacement for eyeballing `monthly_revenue_growth`).

    Month revenue is one (nation, month) hash aggregate after the
    orders⋈customer key shuffle (customer carries only its 2-column
    projection); the regression reduces the bounded nation×month
    grid to exact BIGINT power sums; slope/intercept are closed
    forms. Month indexes anchor to the global min order month
    (broadcast 1-row aggregate), so t is small and t·y products stay
    far from BIGINT limits."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
    )
    anchor = F.broadcast(
        orders.agg(
            F.min(
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).alias("m0")
        )
    )
    monthly = (
        orders.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            ),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .crossJoin(anchor)
        .groupBy(
            "n_name", (F.col("m") - F.col("m0")).cast("bigint").alias("t")
        )
        .agg(F.sum("cents").alias("y"))
    )
    sums = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum("t").alias("st"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    det = (
        F.col("n_months") * F.col("stt") - F.col("st") * F.col("st")
    ).cast("double")
    slope = (
        F.col("n_months") * F.col("sty") - F.col("st") * F.col("sy")
    ) / det
    intercept = (
        F.col("sy") - slope * F.col("st")
    ) / F.col("n_months")
    return (
        sums.select(
            "n_name",
            "n_months",
            F.round(F.when(det > 0, slope / 100.0), 4).alias(
                "slope_per_month"
            ),
            F.round(
                F.when(det > 0, intercept / 100.0), 4
            ).alias("intercept"),
        )
        .repartition(1)
        .orderBy("n_name")
    )


QUERIES["benford_price_digits"] = benford_price_digits
QUERIES["daily_changepoint"] = daily_changepoint
QUERIES["event_type_leadlag"] = event_type_leadlag
QUERIES["dow_seasonal_decomposition"] = dow_seasonal_decomposition
QUERIES["daily_runs_test"] = daily_runs_test
QUERIES["nation_revenue_trend"] = nation_revenue_trend


def _oracle_sql2() -> dict[str, str]:
    return {
        "benford_price_digits": """
            WITH digits AS (
                SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                                        AS STRING), 1, 1) AS INTEGER)
                           AS digit,
                       CAST(COUNT(*) AS BIGINT) AS obs
                FROM orders
                WHERE o_totalprice >= 1
                GROUP BY 1
            ),
            spine AS (
                SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit
            ),
            tot AS (SELECT SUM(obs) AS n FROM digits)
            SELECT s.digit,
                   COALESCE(d.obs, 0) AS n_orders,
                   ROUND(COALESCE(d.obs, 0) * 100.0 / n, 4) AS obs_pct,
                   ROUND(log10(1.0 + 1.0 / s.digit) * 100.0, 4)
                       AS benford_pct,
                   ROUND((COALESCE(d.obs, 0) - n * log10(1.0 + 1.0 / s.digit))
                         * (COALESCE(d.obs, 0)
                            - n * log10(1.0 + 1.0 / s.digit))
                         / (n * log10(1.0 + 1.0 / s.digit)), 6)
                       AS chi_term
            FROM spine s LEFT JOIN digits d USING (digit) CROSS JOIN tot
            ORDER BY s.digit
        """,
        "daily_changepoint": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS d,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
                FROM events GROUP BY 1
            ),
            tot AS (
                SELECT SUM(n) AS nn, SUM(s) AS ss, COUNT(*) AS n_days
                FROM daily
            ),
            pre AS (
                SELECT d,
                       SUM(n) OVER w AS cumn,
                       SUM(s) OVER w AS cums,
                       CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
                       nn, ss, n_days
                FROM daily CROSS JOIN tot
                WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
            ),
            cand AS (
                SELECT d, cumn, cums, nn, ss,
                       ROUND(cums * cums / (cumn * 1.0)
                             + (ss - cums) * (ss - cums)
                               / ((nn - cumn) * 1.0), 6) AS obj
                FROM pre WHERE t < n_days
            ),
            best AS (
                SELECT * FROM cand
                WHERE obj = (SELECT MAX(obj) FROM cand)
                ORDER BY d LIMIT 1
            )
            SELECT d AS split_day,
                   ROUND(cums / (cumn * 100.0), 4) AS mean_before,
                   ROUND((ss - cums) / ((nn - cumn) * 100.0), 4)
                       AS mean_after,
                   ROUND((obj - ss * ss / (nn * 1.0)) / nn / 1e4, 6)
                       AS between_var_gain
            FROM best
        """,
        "event_type_leadlag": f"""
            WITH per_day AS (
                SELECT CAST(ts AS DATE) AS d,
                       CAST(SUM(CASE WHEN event_type = '{LEADLAG_X}'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS x,
                       CAST(SUM(CASE WHEN event_type = '{LEADLAG_Y}'
                                     THEN 1 ELSE 0 END) AS BIGINT) AS y
                FROM events GROUP BY 1
            ),
            lags AS (
                SELECT CAST(unnest(range(-{LEADLAG_MAX},
                                         {LEADLAG_MAX} + 1))
                            AS INTEGER) AS lag
            ),
            pairs AS (
                SELECT l.lag, a.x, b.y
                FROM per_day a
                CROSS JOIN lags l
                JOIN per_day b ON b.d = a.d + l.lag
            ),
            s AS (
                SELECT lag,
                       CAST(COUNT(*) AS BIGINT) AS n_days,
                       SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                       SUM(x * x) AS sxx, SUM(y * y) AS syy
                FROM pairs GROUP BY lag
            )
            SELECT lag, n_days,
                   ROUND(CASE WHEN (n_days * sxx - sx * sx) > 0
                               AND (n_days * syy - sy * sy) > 0
                        THEN (n_days * sxy - sx * sy)
                             / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
                                    * CAST(n_days * syy - sy * sy
                                           AS DOUBLE))
                        END, 6) AS r
            FROM s
            ORDER BY lag
        """,
        "dow_seasonal_decomposition": f"""
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS d,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
                FROM events GROUP BY 1
            ),
            q AS (
                -- Zeller dow (engine-neutral; see dow_sunday0_sql)
                SELECT {dow_sunday0_sql("d")} AS dow,
                       CAST(ROUND(s * 1e4 / n) AS BIGINT) AS mu
                FROM daily
            ),
            grand AS (
                SELECT SUM(mu) AS gsum, COUNT(*) AS gdays FROM q
            ),
            per_dow AS (
                SELECT dow,
                       CAST(COUNT(*) AS BIGINT) AS n_days,
                       SUM(mu) AS dsum,
                       SUM(mu * mu) AS dsum2
                FROM q GROUP BY dow
            )
            SELECT dow, n_days,
                   ROUND(dsum / (n_days * 1.0) / 1e6, 4) AS dow_mean,
                   ROUND((dsum / (n_days * 1.0) - gsum / (gdays * 1.0))
                         / 1e6, 4) AS effect,
                   ROUND((dsum2 / (n_days * 1.0)
                          - (dsum / (n_days * 1.0))
                            * (dsum / (n_days * 1.0))) / 1e12, 4)
                       AS within_var
            FROM per_dow CROSS JOIN grand
            ORDER BY dow
        """,
        "daily_runs_test": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS d,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s
                FROM events GROUP BY 1
            ),
            q AS (
                SELECT d, CAST(ROUND(s * 1e4 / n) AS BIGINT) AS mu
                FROM daily
            ),
            cnt AS (SELECT COUNT(*) AS dd FROM q),
            med AS (
                SELECT AVG(mu) AS med
                FROM (
                    SELECT mu,
                           ROW_NUMBER() OVER (ORDER BY mu, d) AS rn
                    FROM q
                ) CROSS JOIN cnt
                WHERE rn = (dd + 1) // 2 OR rn = (dd + 2) // 2
            ),
            signs AS (
                SELECT d, CAST(mu > med AS INTEGER) AS up
                FROM q CROSS JOIN med
                WHERE mu <> med
            ),
            flips AS (
                SELECT up,
                       CAST(up <> LAG(up, 1, -1) OVER (ORDER BY d)
                            AS BIGINT) AS flip
                FROM signs
            ),
            s AS (
                SELECT CAST(SUM(up) AS BIGINT) AS n1,
                       CAST(SUM(1 - up) AS BIGINT) AS n2,
                       CAST(SUM(flip) AS BIGINT) AS runs
                FROM flips
            )
            SELECT n1 AS n_above, n2 AS n_below, runs AS n_runs,
                   ROUND(CASE WHEN
                         2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                         / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) > 0
                        THEN (runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
                             / sqrt(2.0 * n1 * n2
                                    * (2.0 * n1 * n2 - (n1 + n2))
                                    / ((n1 + n2) * (n1 + n2)
                                       * (n1 + n2 - 1.0)))
                        END, 4) AS z
            FROM s
        """,
        "nation_revenue_trend": """
            WITH anchor AS (
                SELECT MIN(EXTRACT(year FROM o_orderdate) * 12
                           + EXTRACT(month FROM o_orderdate)) AS m0
                FROM orders
            ),
            monthly AS (
                SELECT n.n_name,
                       CAST(EXTRACT(year FROM o.o_orderdate) * 12
                            + EXTRACT(month FROM o.o_orderdate) - m0
                            AS BIGINT) AS t,
                       SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                           AS y
                FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                CROSS JOIN anchor
                GROUP BY 1, 2
            ),
            s AS (
                SELECT n_name,
                       CAST(COUNT(*) AS BIGINT) AS n_months,
                       SUM(t) AS st, SUM(t * t) AS stt,
                       SUM(y) AS sy, SUM(t * y) AS sty
                FROM monthly GROUP BY n_name
            )
            SELECT n_name, n_months,
                   ROUND(CASE WHEN n_months * stt - st * st > 0
                        THEN (n_months * sty - st * sy)
                             / CAST(n_months * stt - st * st AS DOUBLE)
                             / 100.0 END, 4) AS slope_per_month,
                   ROUND(CASE WHEN n_months * stt - st * st > 0
                        THEN (sy - (n_months * sty - st * sy)
                                   / CAST(n_months * stt - st * st
                                          AS DOUBLE) * st)
                             / n_months / 100.0 END, 4) AS intercept
            FROM s
            ORDER BY n_name
        """,
    }


def nation_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per nation: the MEDIAN of all pairwise
    month-over-month revenue slopes — the outlier-proof companion to
    :func:`nation_revenue_trend`'s OLS (one bulk-order month cannot
    move it; breakdown point 29%).

    The pair space is months-choose-2 per nation (bounded grid, never
    fact rows); each pairwise slope quantizes ONCE to exact
    hundredth-cent-per-month BIGINTs via pure-integer half-away
    rounding — sign(n)·((2|n|+d) DIV 2d) with n = 100·Δcents,
    d = Δmonths — and the median of the two middle order statistics
    resolves the same way: their SUM s2 is an exact BIGINT, and the
    displayed slope is sign(s2)·((|s2|+1) DIV 2)/10⁴. No double
    enters until the final display division, so no ROUND-on-double
    x.xxxx5 boundary exists for the engines to disagree on (the
    round-10 sf0.001 probe caught −564.42865 splitting −564.4287 vs
    −564.4286 under the old ROUND(AVG(su)/1e4, 4) spelling)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name"
        )
    )
    monthly = (
        orders.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "m"
            ),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "m")
        .agg(F.sum("cents").alias("y"))
    )
    a = monthly.select(
        F.col("n_name").alias("nn"),
        F.col("m").alias("m1"),
        F.col("y").alias("y1"),
    )
    b = monthly.select(
        F.col("n_name").alias("nn"),
        F.col("m").alias("m2"),
        F.col("y").alias("y2"),
    )
    slopes = (
        a.join(b, ["nn"])
        .filter(F.col("m2") > F.col("m1"))
        .select(
            "nn",
            "m1",
            "m2",
            F.expr(
                "CASE WHEN y2 >= y1 THEN"
                "  (200 * (y2 - y1) + (m2 - m1)) DIV (2 * (m2 - m1)) "
                "ELSE"
                "  -((200 * (y1 - y2) + (m2 - m1)) DIV (2 * (m2 - m1))) "
                "END"
            ).alias("su"),
        )
    )
    wn = Window.partitionBy("nn").orderBy("su", "m1", "m2")
    # pair count from a second window over the SAME nn-partitioning
    # as the rank window (no extra exchange) — the old groupBy + join
    # re-ran the whole monthly self-join subtree to count its rows
    med = (
        slopes.withColumn("rn", F.row_number().over(wn))
        .withColumn(
            "n_pairs",
            F.count(F.lit(1)).over(Window.partitionBy("nn")).cast("bigint"),
        )
        .filter(
            (F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
            | (F.col("rn") == F.expr("(n_pairs + 2) DIV 2"))
        )
        .groupBy(F.col("nn").alias("n_name"), "n_pairs")
        .agg(
            F.sum("su").alias("s2"),
            # odd n_pairs: the two middle ranks coincide and the
            # filter matches ONE row — s2 is already the median
            F.count(F.lit(1)).alias("n_mid"),
        )
    )
    return med.select(
        "n_name",
        "n_pairs",
        (
            F.expr(
                "CASE WHEN n_mid = 1 THEN s2 "
                "WHEN s2 >= 0 THEN (s2 + 1) DIV 2 "
                "ELSE -((1 - s2) DIV 2) END"
            )
            / F.lit(1e4)
        ).alias("theilsen_slope"),
    ).repartition(1).orderBy("n_name")


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the two zero-parameter forecasters every real
    forecast must beat: naive-1 (tomorrow = today) and
    seasonal-naive-7 (tomorrow = same weekday last week), scored by
    MAE and MAPE over the daily mean value series — the baseline row
    of a forecasting scorecard.

    Predictions join the day compaction to itself on a DATE offset
    (spine-safe: a missing day yields no pair, never a wrong lag);
    day means and per-day percentage errors quantize ONCE to exact
    integer units so the error aggregates are order-free; MAE/MAPE
    divide once."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").alias("s"),
        )
        .select(
            "d",
            F.round(F.col("s") * 1e4 / F.col("n")).cast("bigint").alias(
                "mu"
            ),
        )
    )
    preds = None
    for model, lag in (("naive1", 1), ("snaive7", 7)):
        p = (
            daily.alias("cur")
            .join(
                daily.alias("prev"),
                F.expr(f"cur.d = date_add(prev.d, {lag})"),
            )
            .select(
                F.lit(model).alias("model"),
                F.col("cur.mu").alias("actual"),
                F.col("prev.mu").alias("pred"),
            )
        )
        preds = p if preds is None else preds.unionByName(p)
    errs = preds.select(
        "model",
        F.abs(F.col("actual") - F.col("pred")).alias("ae_u"),
        F.round(
            F.abs(F.col("actual") - F.col("pred"))
            * 1e8
            / F.col("actual")
        )
        .cast("bigint")
        .alias("ape_u"),
    )
    return (
        errs.groupBy("model")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(F.sum("ae_u") / F.count(F.lit(1)) / 1e6, 4).alias(
                "mae"
            ),
            F.round(
                F.sum("ape_u") / F.count(F.lit(1)) / 1e6, 4
            ).alias("mape_pct"),
        )
        .repartition(1)
        .orderBy("model")
    )


QUERIES["nation_theilsen_trend"] = nation_theilsen_trend
QUERIES["seasonal_naive_backtest"] = seasonal_naive_backtest


def _oracle_sql3() -> dict[str, str]:
    return {
        "nation_theilsen_trend": """
            WITH monthly AS (
                SELECT n.n_name AS nn,
                       CAST(EXTRACT(year FROM o.o_orderdate) * 12
                            + EXTRACT(month FROM o.o_orderdate)
                            AS BIGINT) AS m,
                       SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                           AS y
                FROM orders o
                JOIN customer c ON o.o_custkey = c.c_custkey
                JOIN nation n ON c.c_nationkey = n.n_nationkey
                GROUP BY 1, 2
            ),
            slopes AS (
                -- pure-integer half-away slope quantization:
                -- sign(n) * ((2|n| + d) // 2d), n = 100 * dcents,
                -- d = dmonths (matches the Spark side exactly; no
                -- double enters the slope units)
                SELECT a.nn, a.m AS m1, b.m AS m2,
                       CASE WHEN b.y >= a.y THEN
                         CAST(((200 * (b.y - a.y) + (b.m - a.m))
                               - ((200 * (b.y - a.y) + (b.m - a.m))
                                  % (2 * (b.m - a.m))))
                              / (2 * (b.m - a.m)) AS BIGINT)
                       ELSE
                         -CAST(((200 * (a.y - b.y) + (b.m - a.m))
                               - ((200 * (a.y - b.y) + (b.m - a.m))
                                  % (2 * (b.m - a.m))))
                              / (2 * (b.m - a.m)) AS BIGINT)
                       END AS su
                FROM monthly a JOIN monthly b
                  ON a.nn = b.nn AND b.m > a.m
            ),
            cnt AS (
                SELECT nn, CAST(COUNT(*) AS BIGINT) AS n_pairs
                FROM slopes GROUP BY nn
            ),
            ranked AS (
                SELECT s.nn, s.su, c.n_pairs,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.nn
                           ORDER BY s.su, s.m1, s.m2) AS rn
                FROM slopes s JOIN cnt c USING (nn)
            )
            SELECT nn AS n_name, n_pairs,
                   -- exact-median display: s2 = sum of the matched
                   -- middle order statistics (ONE row when n_pairs is
                   -- odd — the two ranks coincide — else two);
                   -- half-away ((|s2|+1) // 2) in BIGINT for the
                   -- even case, one exact display division
                   CASE WHEN COUNT(*) = 1 THEN SUM(su)
                        WHEN SUM(su) >= 0 THEN
                          CAST((SUM(su) + 1 - ((SUM(su) + 1) % 2))
                               / 2 AS BIGINT)
                        ELSE
                          -CAST((1 - SUM(su) - ((1 - SUM(su)) % 2))
                                / 2 AS BIGINT)
                        END / 1e4
                       AS theilsen_slope
            FROM ranked
            WHERE rn = CAST((n_pairs + 1 - ((n_pairs + 1) % 2)) / 2 AS BIGINT)
               OR rn = CAST((n_pairs + 2 - ((n_pairs + 2) % 2)) / 2 AS BIGINT)
            GROUP BY nn, n_pairs
            ORDER BY nn
        """,
        "seasonal_naive_backtest": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS d,
                       CAST(ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT))
                                  * 1e4 / COUNT(*)) AS BIGINT) AS mu
                FROM events GROUP BY 1
            ),
            preds AS (
                SELECT 'naive1' AS model, cur.mu AS actual,
                       prev.mu AS pred
                FROM daily cur JOIN daily prev ON cur.d = prev.d + 1
                UNION ALL
                SELECT 'snaive7', cur.mu, prev.mu
                FROM daily cur JOIN daily prev ON cur.d = prev.d + 7
            ),
            errs AS (
                SELECT model,
                       ABS(actual - pred) AS ae_u,
                       CAST(ROUND(ABS(actual - pred) * 1e8 * 1.0
                                  / actual) AS BIGINT) AS ape_u
                FROM preds
            )
            SELECT model,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   ROUND(SUM(ae_u) / COUNT(*) / 1e6, 4) AS mae,
                   ROUND(SUM(ape_u) / COUNT(*) / 1e6, 4) AS mape_pct
            FROM errs
            GROUP BY model
            ORDER BY model
        """,
    }


def user_sequence_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user surprisal under the corpus event-type Markov model:
    average bits per transition of each user's chronological event
    sequence, scored by the globally-fitted first-order transition
    probabilities (`event_transition_matrix`'s model) — the
    behavioral-anomaly ranking (bot / scripted sessions surface as
    extreme low, erratic ones as extreme high).

    The NLL lookup is the |types|² transition table with ``log2``
    applied once per CELL to exact integer ratios, quantized to 1e-6
    integer units — so the per-user reductions are exact BIGINT sums
    in any order (the accumulation-order discipline), broadcast-joined
    onto the per-user transition stream; one final division per
    user."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = e.select(
        "user_id",
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = trans.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    row_tot = Window.partitionBy("from_type")
    nll = counts.select(
        "from_type",
        "to_type",
        F.round(
            F.log2(
                F.sum("c").over(row_tot) / F.col("c").cast("double")
            )
            * 1e6
        )
        .cast("bigint")
        .alias("nll_u"),
    )
    return (
        trans.join(F.broadcast(nll), ["from_type", "to_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.round(
                F.sum("nll_u") / F.count(F.lit(1)) / 1e6, 4
            ).alias("avg_nll_bits"),
        )
        .orderBy("user_id")
    )


QUERIES["user_sequence_perplexity"] = user_sequence_perplexity


def _oracle_sql4() -> dict[str, str]:
    return {
        "user_sequence_perplexity": """
            WITH trans AS (
                SELECT user_id,
                       LAG(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS from_type,
                       event_type AS to_type
                FROM events
                QUALIFY from_type IS NOT NULL
            ),
            counts AS (
                SELECT from_type, to_type,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM trans GROUP BY 1, 2
            ),
            nll AS (
                SELECT from_type, to_type,
                       CAST(ROUND(log2(
                           SUM(c) OVER (PARTITION BY from_type)
                           / CAST(c AS DOUBLE)) * 1e6) AS BIGINT)
                           AS nll_u
                FROM counts
            )
            SELECT t.user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_transitions,
                   ROUND(SUM(n.nll_u) / COUNT(*) / 1e6, 4)
                       AS avg_nll_bits
            FROM trans t
            JOIN nll n USING (from_type, to_type)
            GROUP BY t.user_id
            ORDER BY t.user_id
        """,
    }


#: Decile grid of the QQ shift profile.
QQ_DECILES = 9


def length_qq_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-by-decile QQ shift between the document-length
    distributions of ``MW_SRC_A`` and ``MW_SRC_B`` — WHERE the two
    sources differ (head/body/tail), the drill-down behind
    :func:`quality_mannwhitney_sources`'s single is-different verdict.

    Exact discrete quantiles: per source, the value compaction's
    cumulative counts pick the smallest length whose cumulative
    count reaches ``ceil(q·n/10)`` — integer arithmetic end to end,
    windows over distinct lengths only."""
    docs = load_table(spark, sf_dir, "documents")
    comp = (
        docs.filter(F.col("source").isin(MW_SRC_A, MW_SRC_B))
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = comp.select(
        "source",
        "v",
        F.sum("c").over(wc).alias("cum"),
        # per-source total from the same source-partitioning as the
        # cumulative window — the old groupBy + join-back re-ran the
        # compaction subtree (a second documents scan) to count it
        F.sum("c").over(Window.partitionBy("source")).alias("n"),
    )
    spine = spark.range(1, QQ_DECILES + 1).select(
        F.col("id").cast("int").alias("decile")
    )
    qs = (
        cum.crossJoin(F.broadcast(spine))
        .filter(
            F.col("cum")
            >= F.expr("CAST((decile * n + 9) DIV 10 AS BIGINT)")
        )
        .groupBy("source", "decile")
        .agg(F.min("v").alias("q"))
    )
    a = qs.filter(F.col("source") == MW_SRC_A).select(
        "decile", F.col("q").alias("q_a")
    )
    b = qs.filter(F.col("source") == MW_SRC_B).select(
        "decile", F.col("q").alias("q_b")
    )
    return (
        a.join(b, "decile")
        .select(
            "decile",
            "q_a",
            "q_b",
            (F.col("q_a") - F.col("q_b")).alias("shift"),
        )
        .repartition(1)
        .orderBy("decile")
    )


def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type Markov chain:
    ``H = -sum_ij pi_i p_ij log2 p_ij`` over the fitted transition
    matrix and its stationary distribution — ONE number for "how
    predictable is user behavior" (0 = deterministic loops,
    log2(|types|) = uniform chaos), with the uniform bound alongside.

    Composes :func:`clustering.event_markov_stationary`'s solver
    (exact integer-unit pi) from ONE shared census: it reads the
    |types|²-bounded census rows, collected once per session,
    power-iterates pi in Python from those rows, and feeds the cell
    grid back as local data — the
    entropy expressions below are unchanged Spark expressions, so
    every double is bit-identical. Each cell's term is a closed-form
    double of exact integers quantized to 1e-6 units, so the final sum
    over the bounded grid is order-free. An empty chain returns
    ``(0, 0, NULL, NULL)``."""
    from tableau_dashboard_performance_etl_automation_spark.operators.clustering import (
        MARKOV_UNIT,
        _markov_stationary_from_rows,
        _markov_trans,
    )

    rows = _markov_trans(spark, sf_dir)
    srcs, v = _markov_stationary_from_rows(rows)
    sset = set(srcs)
    # restrict to the closed sub-chain the solver used (both endpoints
    # source types); every cur is a source by construction, so only
    # the nxt restriction filters
    cells = spark.createDataFrame(
        [(r.cur, r.nxt, r.w, v[r.cur]) for r in rows if r.nxt in sset],
        "cur STRING, nxt STRING, tw BIGINT, pi_u BIGINT",
    )
    outw = cells.groupBy("cur").agg(F.sum("tw").alias("out_w"))
    term = (
        F.col("pi_u")
        * (F.col("tw") / F.col("out_w"))
        * F.log2(F.col("out_w") / F.col("tw").cast("double"))
    )
    sums = (
        cells.join(F.broadcast(outw), "cur")
        .select(F.round(term).cast("bigint").alias("term_u"))
        .agg(
            F.sum("term_u").alias("h_u"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        )
    )
    n_states = F.broadcast(
        cells.select("cur").distinct().agg(
            F.count(F.lit(1)).cast("bigint").alias("n_states")
        )
    )
    return (
        sums.crossJoin(n_states)
        .select(
            "n_states",
            "n_cells",
            F.round(F.col("h_u") / F.lit(float(MARKOV_UNIT)), 6).alias(
                "entropy_rate_bits"
            ),
            F.round(F.log2(F.col("n_states").cast("double")), 6).alias(
                "max_entropy_bits"
            ),
        )
    )


QUERIES["length_qq_shift"] = length_qq_shift
QUERIES["markov_entropy_rate"] = markov_entropy_rate


def _oracle_sql5() -> dict[str, str]:
    from tableau_dashboard_performance_etl_automation_spark.operators.clustering import (
        MARKOV_UNIT,
        _markov_oracle,
    )

    return {
        "length_qq_shift": f"""
            WITH comp AS (
                SELECT source, n_chars AS v,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM documents
                WHERE source IN ('{MW_SRC_A}', '{MW_SRC_B}')
                GROUP BY source, n_chars
            ),
            cum AS (
                SELECT source, v,
                       SUM(c) OVER (PARTITION BY source ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM comp
            ),
            totals AS (
                SELECT source, SUM(c) AS n FROM comp GROUP BY source
            ),
            targets AS (
                SELECT source,
                       CAST(d AS INTEGER) AS decile,
                       CAST((d * n + 9) // 10 AS BIGINT) AS target
                FROM totals,
                     UNNEST(range(1, {QQ_DECILES} + 1)) AS t(d)
            ),
            qs AS (
                SELECT c.source, t.decile, MIN(c.v) AS q
                FROM cum c JOIN targets t
                  ON c.source = t.source AND c.cum >= t.target
                GROUP BY c.source, t.decile
            )
            SELECT a.decile, a.q AS q_a, b.q AS q_b,
                   a.q - b.q AS shift
            FROM qs a JOIN qs b USING (decile)
            WHERE a.source = '{MW_SRC_A}' AND b.source = '{MW_SRC_B}'
            ORDER BY a.decile
        """,
        "markov_entropy_rate": f"""
            WITH stat AS ({_markov_oracle()}),
            etrans AS (
                SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS tw
                FROM (
                    SELECT event_type AS cur,
                           LEAD(event_type) OVER (
                               PARTITION BY user_id
                               ORDER BY ts, event_id) AS nxt
                    FROM events
                )
                WHERE nxt IS NOT NULL
                GROUP BY cur, nxt
            ),
            cells AS (
                SELECT t.cur, t.nxt, t.tw, s.stationary_micro AS pi_u
                FROM etrans t
                JOIN stat s ON s.event_type = t.cur
                JOIN stat s2 ON s2.event_type = t.nxt
            ),
            outw AS (
                SELECT cur, SUM(tw) AS out_w FROM cells GROUP BY cur
            ),
            terms AS (
                SELECT CAST(ROUND(
                           c.pi_u * (c.tw * 1.0 / o.out_w)
                           * log2(o.out_w / CAST(c.tw AS DOUBLE))
                       ) AS BIGINT) AS term_u
                FROM cells c JOIN outw o USING (cur)
            ),
            ns AS (
                SELECT CAST(COUNT(DISTINCT cur) AS BIGINT) AS n_states
                FROM cells
            )
            SELECT n_states,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM terms)
                       AS n_cells,
                   ROUND((SELECT SUM(term_u) FROM terms)
                         / {float(MARKOV_UNIT)!r}, 6)
                       AS entropy_rate_bits,
                   CASE WHEN n_states > 0
                        THEN ROUND(log2(CAST(n_states AS DOUBLE)), 6)
                   END AS max_entropy_bits
            FROM ns
        """,
    }


def conversion_did_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on per-user-period purchase rates:
    arms from the engine's deterministic md5 split
    (:func:`conversion_ab_ztest`'s assignment), periods from the
    data-derived pivot (:func:`daily_value_ks_test`'s split) — DiD =
    (B_post − B_pre) − (A_post − A_pre), the parallel-trends
    estimator an experimentation pipeline reports when treatment
    turned on mid-window, with its pooled standard error.

    Each (arm, period) cell reduces to two exact BIGINTs (users with
    ≥1 event in the period, converters among them); the estimate and
    the four-cell binomial SE are one closed form each."""
    events = load_table(spark, sf_dir, "events")
    piv = F.broadcast(
        events.agg(
            F.date_add(F.min(F.to_date("ts")), KS_SPLIT_DAYS - 1).alias(
                "pivot_d"
            )
        )
    )
    cells_src = (
        events.crossJoin(piv)
        .select(
            F.when(_bucket(F.col("user_id")) % 2 == 0, "A")
            .otherwise("B")
            .alias("arm"),
            F.when(F.to_date("ts") <= F.col("pivot_d"), "pre")
            .otherwise("post")
            .alias("period"),
            "user_id",
            (F.col("event_type") == "purchase").cast("bigint").alias(
                "purchased"
            ),
        )
        .groupBy("arm", "period", "user_id")
        .agg(F.max("purchased").alias("converted"))
    )
    cells = cells_src.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    wide = (
        cells.groupBy()
        .pivot("arm", ["A", "B"])
        .agg(
            F.sum(F.when(F.col("period") == "pre", F.col("n"))).alias(
                "n_pre"
            ),
            F.sum(
                F.when(F.col("period") == "pre", F.col("conv"))
            ).alias("c_pre"),
            F.sum(F.when(F.col("period") == "post", F.col("n"))).alias(
                "n_post"
            ),
            F.sum(
                F.when(F.col("period") == "post", F.col("conv"))
            ).alias("c_post"),
        )
    )
    r = {
        f"{a}_{p}": F.col(f"{a}_c_{p}") / F.col(f"{a}_n_{p}")
        for a in ("A", "B")
        for p in ("pre", "post")
    }
    did = (r["B_post"] - r["B_pre"]) - (r["A_post"] - r["A_pre"])
    se = F.sqrt(
        sum(
            r[k] * (1 - r[k]) / F.col(f"{k[0]}_n_{k[2:]}")
            for k in ("A_pre", "A_post", "B_pre", "B_post")
        )
    )
    return wide.select(
        F.col("A_n_pre").alias("n_a_pre"),
        F.col("A_n_post").alias("n_a_post"),
        F.col("B_n_pre").alias("n_b_pre"),
        F.col("B_n_post").alias("n_b_post"),
        F.round(r["A_pre"], 4).alias("rate_a_pre"),
        F.round(r["A_post"], 4).alias("rate_a_post"),
        F.round(r["B_pre"], 4).alias("rate_b_pre"),
        F.round(r["B_post"], 4).alias("rate_b_post"),
        F.round(did, 6).alias("did"),
        F.round(F.when(se > 0, did / se), 4).alias("z"),
    )


QUERIES["conversion_did_estimate"] = conversion_did_estimate


def _oracle_sql6() -> dict[str, str]:
    return {
        "conversion_did_estimate": f"""
            WITH piv AS (
                SELECT MIN(CAST(ts AS DATE))
                           + INTERVAL {KS_SPLIT_DAYS - 1} DAY AS pivot_d
                FROM events
            ),
            per_user AS (
                SELECT CASE WHEN (ascii(substr(md5(
                               CAST(user_id AS STRING)), 1, 1)) * 256
                             + ascii(substr(md5(
                               CAST(user_id AS STRING)), 2, 1)))
                            % 100 % 2 = 0
                       THEN 'A' ELSE 'B' END AS arm,
                       CASE WHEN CAST(ts AS DATE) <= pivot_d
                            THEN 'pre' ELSE 'post' END AS period,
                       user_id,
                       MAX(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS converted
                FROM events CROSS JOIN piv
                GROUP BY 1, 2, user_id
            ),
            cells AS (
                SELECT arm, period,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(converted) AS BIGINT) AS conv
                FROM per_user GROUP BY arm, period
            ),
            wide AS (
                SELECT
                    MAX(CASE WHEN arm='A' AND period='pre' THEN n END)
                        AS n_a_pre,
                    MAX(CASE WHEN arm='A' AND period='pre' THEN conv END)
                        AS c_a_pre,
                    MAX(CASE WHEN arm='A' AND period='post' THEN n END)
                        AS n_a_post,
                    MAX(CASE WHEN arm='A' AND period='post' THEN conv END)
                        AS c_a_post,
                    MAX(CASE WHEN arm='B' AND period='pre' THEN n END)
                        AS n_b_pre,
                    MAX(CASE WHEN arm='B' AND period='pre' THEN conv END)
                        AS c_b_pre,
                    MAX(CASE WHEN arm='B' AND period='post' THEN n END)
                        AS n_b_post,
                    MAX(CASE WHEN arm='B' AND period='post' THEN conv END)
                        AS c_b_post
                FROM cells
            )
            SELECT n_a_pre, n_a_post, n_b_pre, n_b_post,
                   ROUND(c_a_pre * 1.0 / n_a_pre, 4) AS rate_a_pre,
                   ROUND(c_a_post * 1.0 / n_a_post, 4) AS rate_a_post,
                   ROUND(c_b_pre * 1.0 / n_b_pre, 4) AS rate_b_pre,
                   ROUND(c_b_post * 1.0 / n_b_post, 4) AS rate_b_post,
                   ROUND((c_b_post * 1.0 / n_b_post
                          - c_b_pre * 1.0 / n_b_pre)
                         - (c_a_post * 1.0 / n_a_post
                            - c_a_pre * 1.0 / n_a_pre), 6) AS did,
                   ROUND(CASE WHEN
                       sqrt((c_a_pre * 1.0 / n_a_pre)
                            * (1 - c_a_pre * 1.0 / n_a_pre) / n_a_pre
                          + (c_a_post * 1.0 / n_a_post)
                            * (1 - c_a_post * 1.0 / n_a_post) / n_a_post
                          + (c_b_pre * 1.0 / n_b_pre)
                            * (1 - c_b_pre * 1.0 / n_b_pre) / n_b_pre
                          + (c_b_post * 1.0 / n_b_post)
                            * (1 - c_b_post * 1.0 / n_b_post) / n_b_post)
                       > 0
                    THEN ((c_b_post * 1.0 / n_b_post
                           - c_b_pre * 1.0 / n_b_pre)
                          - (c_a_post * 1.0 / n_a_post
                             - c_a_pre * 1.0 / n_a_pre))
                         / sqrt((c_a_pre * 1.0 / n_a_pre)
                                * (1 - c_a_pre * 1.0 / n_a_pre) / n_a_pre
                              + (c_a_post * 1.0 / n_a_post)
                                * (1 - c_a_post * 1.0 / n_a_post)
                                / n_a_post
                              + (c_b_pre * 1.0 / n_b_pre)
                                * (1 - c_b_pre * 1.0 / n_b_pre) / n_b_pre
                              + (c_b_post * 1.0 / n_b_post)
                                * (1 - c_b_post * 1.0 / n_b_post)
                                / n_b_post)
                    END, 4) AS z
            FROM wide
        """,
    }


#: Reliability-diagram bin count for the calibration audit.
CALIB_BINS = 10

#: Density→pseudo-probability scale: stopword density (~0..0.2 on
#: this corpus) × 5, capped at 1. Chosen so the score sweeps the
#: full [0,1] range and every decile bin is exercised.
CALIB_DENSITY_SCALE = 5


def _calib_score_col() -> "F.Column":
    """THE audited quality score as a Spark column — stopword density
    scaled to [0,1], one pinned-order double expression of two exact
    ints. Shared by :func:`quality_score_calibration` and
    :func:`quality_decile_lift` so the two audits (and their oracles,
    via :func:`_calib_score_sql`) can never silently diverge."""
    from tableau_dashboard_performance_etl_automation_spark.operators.textops import (
        STOPWORDS,
    )

    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS)
    stop_hits = F.expr(
        f"size(filter(split(text, ' '), x -> x IN ({stoplist})))"
    )
    n_words = F.size(F.split(F.col("text"), " "))
    return F.least(
        stop_hits * float(CALIB_DENSITY_SCALE) / n_words, F.lit(1.0)
    )


def _calib_score_sql() -> str:
    """The identical score as a DuckDB SQL fragment (over ``text``)."""
    from tableau_dashboard_performance_etl_automation_spark.operators.textops import (
        _STOPLIST_SQL,
    )

    return (
        f"LEAST(len(list_filter(string_split(text, ' '), "
        f"x -> x IN ({_STOPLIST_SQL}))) "
        f"* {float(CALIB_DENSITY_SCALE)} "
        f"/ len(string_split(text, ' ')), 1.0)"
    )


def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit (reliability diagram + per-bin ECE /
    Brier-decomposition terms) of a heuristic 'is-English'
    pseudo-probability — the audit a curation pipeline runs before
    thresholding any model- or rule-based quality score
    (FineWeb-style classifier filtering assumes calibrated scores;
    reference scope: tabjolt_email.py flags metrics on raw fixed
    thresholds — this is the principled version of such a gate).

    The audited score is stopword density scaled to [0,1]
    (``least(stop_hits/n_words * CALIB_DENSITY_SCALE, 1)``); the
    outcome is ``lang = 'en'``.  Uses the MIDPOINT-ECE formulation:
    per-bin confidence is the decile midpoint ``(bin+0.5)/B`` — a
    constant of the bin id — so every engine-side reduction is an
    exact BIGINT (doc and outcome counts) and each emitted double is
    one closed-form expression of integers, never a float sum (the
    file's shared numeric contract).  Summing the term columns
    client-side yields ECE and the Murphy reliability/resolution
    split.  On this corpus the verdict is 'uninformative': accuracy
    sits at the base rate in every bin while confidence sweeps
    0.05→0.95 — exactly the pathology the audit exists to catch.

    Scale shape: one scan → map-side-combinable hash aggregate onto
    ≤ ``CALIB_BINS`` rows; grand totals are a 1-row broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    # bin = floor(min(density*SCALE,1) * B) capped to B-1; the score
    # is the SHARED _calib_score_col expression (one double from two
    # exact ints, identical in SQL via _calib_score_sql)
    p = _calib_score_col()
    binned = (
        docs.select(
            F.least(
                F.floor(p * CALIB_BINS), F.lit(CALIB_BINS - 1)
            )
            .cast("bigint")
            .alias("bin"),
            (F.col("lang") == "en").cast("bigint").alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("s_y"),
        )
    )
    grand = F.broadcast(
        binned.agg(
            F.sum("n_docs").cast("bigint").alias("n_all"),
            F.sum("s_y").cast("bigint").alias("y_all"),
        )
    )
    conf = (F.col("bin") + 0.5) / CALIB_BINS
    acc = F.col("s_y") / F.col("n_docs")
    w = F.col("n_docs") / F.col("n_all")
    ybar = F.col("y_all") / F.col("n_all")
    return (
        binned.crossJoin(grand)
        .select(
            "bin",
            "n_docs",
            F.round(conf, 4).alias("conf_mid"),
            F.round(acc, 4).alias("acc"),
            F.round(F.abs(conf - acc), 4).alias("abs_gap"),
            F.round(w * F.abs(conf - acc), 6).alias("ece_term"),
            F.round(w * (conf - acc) * (conf - acc), 6).alias(
                "rel_term"
            ),
            F.round(w * (acc - ybar) * (acc - ybar), 6).alias(
                "res_term"
            ),
        )
        .repartition(1)
        .orderBy("bin")
    )


QUERIES["quality_score_calibration"] = quality_score_calibration


def _oracle_sql7() -> dict[str, str]:
    return {
        "quality_score_calibration": f"""
            WITH base AS (
                SELECT CAST(LEAST(FLOOR(
                           {_calib_score_sql()}
                           * {CALIB_BINS}),
                           {CALIB_BINS - 1}) AS BIGINT) AS bin,
                       CAST(lang = 'en' AS BIGINT) AS y
                FROM documents
            ),
            binned AS (
                SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(y) AS BIGINT) AS s_y
                FROM base GROUP BY bin
            ),
            grand AS (
                SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all,
                       CAST(SUM(s_y) AS BIGINT) AS y_all
                FROM binned
            )
            SELECT bin, n_docs,
                   ROUND((bin + 0.5) / {CALIB_BINS}, 4) AS conf_mid,
                   ROUND(s_y * 1.0 / n_docs, 4) AS acc,
                   ROUND(ABS((bin + 0.5) / {CALIB_BINS}
                             - s_y * 1.0 / n_docs), 4) AS abs_gap,
                   ROUND(n_docs * 1.0 / n_all
                         * ABS((bin + 0.5) / {CALIB_BINS}
                               - s_y * 1.0 / n_docs), 6) AS ece_term,
                   ROUND(n_docs * 1.0 / n_all
                         * ((bin + 0.5) / {CALIB_BINS}
                            - s_y * 1.0 / n_docs)
                         * ((bin + 0.5) / {CALIB_BINS}
                            - s_y * 1.0 / n_docs), 6) AS rel_term,
                   ROUND(n_docs * 1.0 / n_all
                         * (s_y * 1.0 / n_docs - y_all * 1.0 / n_all)
                         * (s_y * 1.0 / n_docs - y_all * 1.0 / n_all),
                         6) AS res_term
            FROM binned CROSS JOIN grand
            ORDER BY bin
        """,
    }


def event_hour_mi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise and expected mutual information between event type
    and hour-of-day — the dependence screen one altitude above
    ``event_type_dow_chisq``: chi-square says WHETHER the two factors
    are independent; the PMI/MI cell table says WHERE the dependence
    lives (which type over-indexes in which hour, in bits) and the
    ``mi_term`` column sums to the mutual information I(type; hour).
    For a training corpus the same shape over (source, lang) or
    (source, quality-bin) is the mixture-dependence audit.

    One (type, hour) hash aggregate over the fact table (map-side
    combinable, ≤ |types|·24 cells), marginals re-aggregated FROM the
    cell table (no second fact scan), grand total via a 1-row
    broadcast. Each output row carries its own single log2 — the
    engines never sum floats across rows, so cross-engine parity
    holds at round-6 (the ``value_drift_psi`` discipline). The ratio
    is assembled in double with a pinned operand order
    ``(n_xy·1.0·N)/(n_x·1.0·n_y)`` to keep both engines' IEEE
    rounding identical; counts never multiply in int64."""
    e = load_table(spark, sf_dir, "events")
    # the cell table is <= |types|·24 rows; the three marginal
    # branches (x, y, grand total) fold the CELLS, not the raw rows
    xy = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    x = xy.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    y = xy.groupBy("hr").agg(F.sum("n_xy").alias("n_y"))
    tot = xy.agg(F.sum("n_xy").alias("n_all"))
    ratio = (F.col("n_xy") * 1.0 * F.col("n_all")) / (
        F.col("n_x") * 1.0 * F.col("n_y")
    )
    pmi = F.log2(ratio)
    return (
        xy.join(F.broadcast(x), "event_type")
        .join(F.broadcast(y), "hr")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "hr",
            "n_xy",
            F.round(pmi, 6).alias("pmi_bits"),
            F.round((F.col("n_xy") / F.col("n_all")) * pmi, 6).alias(
                "mi_term"
            ),
        )
        .repartition(1)
        .orderBy("event_type", "hr")
    )


QUERIES["event_hour_mi_terms"] = event_hour_mi_terms


def _oracle_sql8() -> dict[str, str]:
    return {
        "event_hour_mi_terms": """
            WITH xy AS (
                SELECT event_type,
                       CAST(hour(ts) AS INTEGER) AS hr,
                       CAST(COUNT(*) AS BIGINT) AS n_xy
                FROM events GROUP BY event_type, hour(ts)
            ),
            x AS (SELECT event_type, SUM(n_xy) AS n_x
                  FROM xy GROUP BY event_type),
            y AS (SELECT hr, SUM(n_xy) AS n_y FROM xy GROUP BY hr),
            tot AS (SELECT SUM(n_xy) AS n_all FROM xy)
            SELECT xy.event_type, xy.hr, xy.n_xy,
                   ROUND(log2((xy.n_xy * 1.0 * t.n_all)
                              / (x.n_x * 1.0 * y.n_y)), 6) AS pmi_bits,
                   ROUND((xy.n_xy / t.n_all)
                         * log2((xy.n_xy * 1.0 * t.n_all)
                                / (x.n_x * 1.0 * y.n_y)), 6) AS mi_term
            FROM xy
            JOIN x USING (event_type)
            JOIN y USING (hr)
            CROSS JOIN tot t
            ORDER BY xy.event_type, xy.hr
        """,
    }


def quality_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/capture table for the heuristic quality score —
    the ranking-power companion of
    :func:`quality_score_calibration` (calibration asks "do the
    probabilities mean what they say"; lift asks "does sorting by the
    score concentrate the positives"): docs ranked best-score-first,
    and at each population decile the cumulative positive capture and
    the lift over the base rate.

    Exact grouped-lift semantics without a global row sort: docs
    compact to (score, n, positives) — the score is ONE pinned-order
    double expression of two exact ints, so both engines group and
    order identically — the cumulative window runs over DISTINCT
    score values descending, and a decile boundary falling inside a
    tied run attributes that run's positives PRO-RATA (the standard
    grouped-data lift-curve convention; any per-doc tiebreak would be
    arbitrary). The pro-rata numerator ``pos_lo·cnt + pos_run·(k−lo)``
    stays an exact int64 product (≤ n²); the lift ratio promotes to
    double BEFORE the remaining factors multiply (``·1.0·n`` over
    ``cnt·1.0·k·pos_all``, pinned identically in both engines) so no
    int64 triple-product can silently wrap — exactness degrades only
    past 2⁵³ and identically on both sides. Precondition (as
    ``customer_revenue_lorenz``): a decile row exists only when its
    boundary rank ``(n·d) DIV 10`` ≥ 1, so sub-10-doc corpora emit
    fewer than 10 rows — both engines share the arithmetic, so parity
    holds regardless. The score is the SHARED
    :func:`_calib_score_col` expression, so this audit and the
    calibration audit cannot silently diverge."""
    docs = load_table(spark, sf_dir, "documents")
    p = _calib_score_col()
    comp = (
        docs.select(
            p.alias("p"),
            (F.col("lang") == "en").cast("bigint").alias("y"),
        )
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("y").alias("pos"),
        )
    )
    w = Window.orderBy(F.desc("p"))
    cum = (
        comp.withColumn("hi", F.sum("cnt").over(w))
        .withColumn("lo", F.col("hi") - F.col("cnt"))
        .withColumn("pos_hi", F.sum("pos").over(w))
        .withColumn("pos_lo", F.col("pos_hi") - F.col("pos"))
    )
    totals = F.broadcast(
        comp.agg(
            F.sum("cnt").alias("n"), F.sum("pos").alias("pos_all")
        )
    )
    deciles = spark.createDataFrame(
        [(d,) for d in range(1, 11)], "decile INT"
    )
    k = F.expr("(n * decile) DIV 10")
    scaled_pos = F.col("pos_lo") * F.col("cnt") + F.col("pos") * (
        F.col("k") - F.col("lo")
    )
    return (
        cum.crossJoin(totals)
        .crossJoin(F.broadcast(deciles))
        .withColumn("k", k)
        .filter((F.col("lo") < F.col("k")) & (F.col("k") <= F.col("hi")))
        .select(
            "decile",
            F.col("k").cast("bigint").alias("n_docs"),
            F.round(
                scaled_pos * 100.0 / (F.col("cnt") * 1.0 * F.col("pos_all")),
                4,
            ).alias("capture_pct"),
            F.round(
                scaled_pos
                * 1.0
                * F.col("n")
                / (F.col("cnt") * 1.0 * F.col("k") * F.col("pos_all")),
                4,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


QUERIES["quality_decile_lift"] = quality_decile_lift


def _oracle_sql9() -> dict[str, str]:
    return {
        "quality_decile_lift": f"""
            WITH base AS (
                SELECT {_calib_score_sql()} AS p,
                       CAST(lang = 'en' AS BIGINT) AS y
                FROM documents
            ),
            comp AS (
                SELECT p, COUNT(*) AS cnt, SUM(y) AS pos
                FROM base GROUP BY p
            ),
            cum AS (
                SELECT p, cnt, pos,
                       SUM(cnt) OVER w AS hi,
                       (SUM(cnt) OVER w) - cnt AS lo,
                       (SUM(pos) OVER w) - pos AS pos_lo
                FROM comp
                WINDOW w AS (ORDER BY p DESC ROWS UNBOUNDED PRECEDING)
            ),
            totals AS (
                SELECT SUM(cnt) AS n, SUM(pos) AS pos_all FROM comp
            ),
            dec AS (SELECT UNNEST([1,2,3,4,5,6,7,8,9,10]) AS decile)
            SELECT d.decile,
                   CAST((t.n * d.decile) // 10 AS BIGINT) AS n_docs,
                   ROUND((c.pos_lo * c.cnt
                          + c.pos * ((t.n * d.decile) // 10 - c.lo))
                         * 100.0 / (c.cnt * 1.0 * t.pos_all), 4)
                       AS capture_pct,
                   ROUND((c.pos_lo * c.cnt
                          + c.pos * ((t.n * d.decile) // 10 - c.lo))
                         * 1.0 * t.n
                         / (c.cnt * 1.0 * ((t.n * d.decile) // 10)
                            * t.pos_all), 4) AS lift
            FROM cum c CROSS JOIN totals t CROSS JOIN dec d
            WHERE c.lo < (t.n * d.decile) // 10
              AND (t.n * d.decile) // 10 <= c.hi
            ORDER BY d.decile
        """,
    }


def returnflag_quantity_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test of shipped quantity across return flags
    — the k-group nonparametric extension of
    :func:`quality_mannwhitney_sources` (do returned/accepted
    lines differ systematically in lot size?). Emits one row per flag
    with its exact tie-averaged rank sum and its H-term; client-side
    ``H = (Σ h_term_e6)/10⁶ − 3(N+1)`` (the file's term-column
    contract, like the calibration's ece_terms — engines never sum
    floats).

    Exactness: quantities live on a ~50-value integer domain, so
    ranks come from the VALUE COMPACTION — for distinct value q
    spanning global ranks (lo, lo+cnt], the tie-averaged rank is
    ``(2lo + cnt + 1)/2``; carrying DOUBLED rank sums keeps
    everything integer (``rank_sum_x2 = Σ cnt_gq·(2lo_q+cnt_q+1)``),
    and ``h_term_e6 = round(3·rank_sum_x2²·10⁶ / (N(N+1)·n_g))`` is
    computed as an EXACT half-up-rounded integer entirely in
    decimal(38,0) — no double ever exists on either engine, so there
    is no half-ULP rounding boundary for Spark's BigDecimal vs
    DuckDB's libm to disagree on (the exact failure class COMPAT.md
    root-caused for event_hour_mi_terms). The OUTPUT columns are all
    BIGINT/STRING: ``rank_sum_x2 = Σ cnt·(2lo+cnt+1) ≤ N·(2N+1)``
    fits BIGINT up to N ≈ 2.1e9 lineitem rows (~sf350) — the
    decimal(38,0) arithmetic stays strictly internal, because a
    DECIMAL output cell is rendered differently by Spark's Decimal
    vs DuckDB's HUGEINT in the driver's hasher (the round-7/8
    driver-red root cause: values identical, cell text not). The division runs in TWO
    exact stages so the 10⁶ quantizer never multiplies the full
    square: with ``t = 3·rs²``, ``q = t div den``, ``r = t mod
    den``, the result is ``q·10⁶ + (2·r·10⁶ + den) div (2·den)`` —
    identical to one-shot half-up rounding because q·10⁶ is integer,
    while the largest intermediate is t = 3·rs² ≤ 12N⁴, inside
    decimal(38,0)/HUGEINT up to N ≈ 1.7e9 lineitem rows (~sf280;
    the one-stage 2·t·10⁶ form overflowed at the 256× ladder's
    153.6M rows).

    Scale shape: one (flag, quantity) hash aggregate over a bounded
    ~3×50 cell domain, a window over ≤50 distinct values, broadcast
    grand totals. The fact table is scanned once."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.floor(F.col("l_quantity")).cast("bigint")
    cells = li.groupBy(F.col("l_returnflag"), q.alias("q")).agg(
        F.count(F.lit(1)).alias("cnt_gq")
    )
    per_q = cells.groupBy("q").agg(F.sum("cnt_gq").alias("cnt_q"))
    wq = Window.orderBy("q")
    ranked_q = per_q.withColumn(
        "lo", F.sum("cnt_q").over(wq) - F.col("cnt_q")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    joined = cells.join(ranked_q, "q").withColumn(
        "x2_part",
        dec("cnt_gq")
        * (2 * F.col("lo") + F.col("cnt_q") + 1).cast("decimal(38,0)"),
    )
    per_g = joined.groupBy("l_returnflag").agg(
        F.sum("cnt_gq").alias("n_g"),
        F.sum("x2_part").alias("rank_sum_x2"),
    )
    totals = F.broadcast(per_q.agg(F.sum("cnt_q").alias("n_all")))
    t = (
        F.lit(3).cast("decimal(38,0)")
        * F.col("rank_sum_x2")
        * F.col("rank_sum_x2")
    )
    den = dec("n_all") * (dec("n_all") + 1) * dec("n_g")
    return (
        per_g.crossJoin(totals)
        .select(
            "l_returnflag",
            F.col("n_g").cast("bigint").alias("n_rows"),
            F.col("rank_sum_x2").cast("bigint").alias("rank_sum_x2"),
            t.alias("t"),
            den.alias("den"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "rank_sum_x2",
            F.expr(
                "(t div den) * 1000000"
                " + (2 * (t % den) * 1000000 + den) div (2 * den)"
            ).alias("h_term_e6"),
        )
        .repartition(1)
        .orderBy("l_returnflag")
    )


QUERIES["returnflag_quantity_kruskal"] = returnflag_quantity_kruskal


def _oracle_sql10() -> dict[str, str]:
    return {
        "returnflag_quantity_kruskal": """
            WITH cells AS (
                SELECT l_returnflag,
                       CAST(FLOOR(l_quantity) AS BIGINT) AS q,
                       COUNT(*) AS cnt_gq
                FROM lineitem GROUP BY l_returnflag, FLOOR(l_quantity)
            ),
            per_q AS (
                SELECT q, SUM(cnt_gq) AS cnt_q FROM cells GROUP BY q
            ),
            ranked_q AS (
                SELECT q, cnt_q,
                       SUM(cnt_q) OVER (ORDER BY q
                           ROWS UNBOUNDED PRECEDING) - cnt_q AS lo
                FROM per_q
            ),
            per_g AS (
                SELECT c.l_returnflag,
                       SUM(c.cnt_gq) AS n_g,
                       SUM(CAST(c.cnt_gq AS HUGEINT)
                           * (2 * r.lo + r.cnt_q + 1)) AS rank_sum_x2
                FROM cells c JOIN ranked_q r USING (q)
                GROUP BY c.l_returnflag
            ),
            totals AS (SELECT SUM(cnt_q) AS n_all FROM per_q),
            terms AS (
                SELECT g.l_returnflag, g.n_g, g.rank_sum_x2,
                       3 * g.rank_sum_x2 * g.rank_sum_x2 AS tt,
                       CAST(t.n_all AS HUGEINT)
                           * (t.n_all + 1) * g.n_g AS den
                FROM per_g g CROSS JOIN totals t
            )
            SELECT l_returnflag,
                   CAST(n_g AS BIGINT) AS n_rows,
                   CAST(rank_sum_x2 AS BIGINT) AS rank_sum_x2,
                   CAST((tt // den) * 1000000
                        + (2 * (tt % den) * 1000000 + den)
                          // (2 * den) AS BIGINT) AS h_term_e6
            FROM terms
            ORDER BY l_returnflag
        """,
    }


def conversion_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013, WSDM —
    "Improving the Sensitivity of Online Controlled Experiments"):
    per-user POST-period value is adjusted by the pre-period covariate
    ``adj = post − θ·(pre − mean_pre)`` with ``θ = cov(pre, post) /
    var(pre)`` pooled across arms, shrinking metric variance by the
    squared pre/post correlation — the standard trick that makes the
    same experiment detect effects ~1/(1−ρ²)× smaller.

    Pre/post split at the exact interpolated median event time (the
    ``value_drift_psi`` percentile pair); arms replay the engine's
    deterministic md5 split primitive (``sampling._bucket``), so the
    whole readout is replayable.

    Scale shape: ONE user-keyed hash aggregate builds the per-user
    (arm, pre_cents, post_cents) table; everything else collapses to
    a 1-row moment aggregate (Σpre, Σpost, Σpre², Σpost², Σpre·post
    per arm — exact BIGINTs; at ~10⁹ users the squared sums move to
    DECIMAL(38,0), same shape) and closed-form doubles. Output: both
    the naive and CUPED diffs, θ, and the variance-reduction share
    ρ², each rounded to 4/6."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        F.unix_millis("ts").alias("ms"),
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    anchor = F.broadcast(
        ev.agg(F.expr("percentile(ms, 0.5D)").alias("split_ms"))
    )
    users = (
        ev.crossJoin(anchor)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ms") <= F.col("split_ms"), F.col("cents"))
                .otherwise(0)
            ).cast("bigint").alias("pre"),
            F.sum(
                F.when(F.col("ms") > F.col("split_ms"), F.col("cents"))
                .otherwise(0)
            ).cast("bigint").alias("post"),
        )
        .select(
            F.when(_bucket(F.col("user_id")) % 2 == 0, "A")
            .otherwise("B")
            .alias("arm"),
            "pre",
            "post",
        )
    )
    is_a = F.col("arm") == "A"
    m = users.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("sp"),
        F.sum("post").cast("bigint").alias("so"),
        F.sum(F.col("pre") * F.col("pre")).cast("bigint").alias("spp"),
        F.sum(F.col("post") * F.col("post")).cast("bigint").alias("soo"),
        F.sum(F.col("pre") * F.col("post")).cast("bigint").alias("spo"),
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(is_a, F.col("pre")).otherwise(0))
        .cast("bigint")
        .alias("sp_a"),
        F.sum(F.when(is_a, F.col("post")).otherwise(0))
        .cast("bigint")
        .alias("so_a"),
    )
    n, sp, so = F.col("n"), F.col("sp"), F.col("so")
    var_pre = F.col("spp") / n - (sp / n) * (sp / n)
    var_post = F.col("soo") / n - (so / n) * (so / n)
    cov = F.col("spo") / n - (sp / n) * (so / n)
    theta = cov / var_pre
    n_b = n - F.col("n_a")
    mean_post_a = F.col("so_a") / F.col("n_a")
    mean_post_b = (so - F.col("so_a")) / n_b
    mean_pre_a = F.col("sp_a") / F.col("n_a")
    mean_pre_b = (sp - F.col("sp_a")) / n_b
    diff_naive = mean_post_b - mean_post_a
    diff_cuped = diff_naive - theta * (mean_pre_b - mean_pre_a)
    rho_sq = (cov * cov) / (var_pre * var_post)
    return m.select(
        F.col("n_a"),
        n_b.alias("n_b"),
        F.round(diff_naive / 100.0, 4).alias("diff_naive_usd"),
        F.round(diff_cuped / 100.0, 4).alias("diff_cuped_usd"),
        F.round(theta, 6).alias("theta"),
        F.round(rho_sq, 6).alias("var_reduction"),
    )


QUERIES["conversion_cuped_adjusted"] = conversion_cuped_adjusted

ORACLE_SQL["conversion_cuped_adjusted"] = """
    WITH ev AS (
        SELECT epoch_ms(ts) AS ms, user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    anchor AS (SELECT quantile_cont(ms, 0.5) AS split_ms FROM ev),
    users AS (
        SELECT CASE WHEN (ascii(substr(md5(CAST(user_id AS STRING)), 1, 1))
                          * 256
                          + ascii(substr(md5(CAST(user_id AS STRING)), 2, 1)))
                         % 100 % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(SUM(CASE WHEN ms <= split_ms THEN cents ELSE 0 END)
                    AS BIGINT) AS pre,
               CAST(SUM(CASE WHEN ms > split_ms THEN cents ELSE 0 END)
                    AS BIGINT) AS post
        FROM ev CROSS JOIN anchor
        GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pre) AS BIGINT) AS sp,
               CAST(SUM(post) AS BIGINT) AS so,
               CAST(SUM(pre * pre) AS BIGINT) AS spp,
               CAST(SUM(post * post) AS BIGINT) AS soo,
               CAST(SUM(pre * post) AS BIGINT) AS spo,
               CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN arm = 'A' THEN pre ELSE 0 END) AS BIGINT)
                   AS sp_a,
               CAST(SUM(CASE WHEN arm = 'A' THEN post ELSE 0 END) AS BIGINT)
                   AS so_a
        FROM users
    )
    SELECT n_a,
           n - n_a AS n_b,
           ROUND(((so - so_a) * 1.0 / (n - n_a) - so_a * 1.0 / n_a)
                 / 100.0, 4) AS diff_naive_usd,
           ROUND((((so - so_a) * 1.0 / (n - n_a) - so_a * 1.0 / n_a)
                  - ((spo * 1.0 / n - (sp * 1.0 / n) * (so * 1.0 / n))
                     / (spp * 1.0 / n - (sp * 1.0 / n) * (sp * 1.0 / n)))
                    * ((sp - sp_a) * 1.0 / (n - n_a) - sp_a * 1.0 / n_a))
                 / 100.0, 4) AS diff_cuped_usd,
           ROUND((spo * 1.0 / n - (sp * 1.0 / n) * (so * 1.0 / n))
                 / (spp * 1.0 / n - (sp * 1.0 / n) * (sp * 1.0 / n)), 6)
               AS theta,
           ROUND((spo * 1.0 / n - (sp * 1.0 / n) * (so * 1.0 / n))
                 * (spo * 1.0 / n - (sp * 1.0 / n) * (so * 1.0 / n))
                 / ((spp * 1.0 / n - (sp * 1.0 / n) * (sp * 1.0 / n))
                    * (soo * 1.0 / n - (so * 1.0 / n) * (so * 1.0 / n))), 6)
               AS var_reduction
    FROM m
"""


def ab_sample_ratio_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guardrail for the A/B split: a
    1-dof chi-square of the observed arm sizes against the intended
    50/50 — ``(n_a − n_b)² / n`` — with the standard 95% flag
    (χ² > 3.841). Experimentation platforms run this before ANY
    metric readout: an SRM means the assignment or logging pipeline
    is biased and every downstream p-value is garbage (Fabijan et
    al. 2019's "most important guardrail").

    Arms replay the engine's md5 split primitive over distinct users;
    the whole check is one distinct-aggregate → 1 row of exact
    BIGINTs → one closed-form double."""
    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct().select(
        F.when(_bucket(F.col("user_id")) % 2 == 0, "A")
        .otherwise("B")
        .alias("arm")
    )
    m = users.groupBy().agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    chi2 = (
        (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    ) / (F.col("n_a") + F.col("n_b"))
    return m.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).cast("int").alias("srm_flag"),
    )


QUERIES["ab_sample_ratio_check"] = ab_sample_ratio_check

ORACLE_SQL["ab_sample_ratio_check"] = """
    WITH users AS (
        SELECT DISTINCT user_id,
               CASE WHEN (ascii(substr(md5(CAST(user_id AS STRING)), 1, 1))
                          * 256
                          + ascii(substr(md5(CAST(user_id AS STRING)), 2, 1)))
                         % 100 % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm
        FROM events
    ),
    m AS (
        SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM users
    )
    SELECT n_a, n_b,
           ROUND((n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b), 6) AS chi2,
           CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b)
                          > 3.841 THEN 1 ELSE 0 END AS INT) AS srm_flag
    FROM m
"""


# ---------------------------------------------------------------------------
# Order-statistic confidence interval for the median
# ---------------------------------------------------------------------------

#: z for the ~95% distribution-free CI on the median (binomial
#: normal approximation of the rank bounds).
MEDIAN_CI_Z = 1.96


def median_confidence_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-free ~95% CI for each event type's median value —
    the classic order-statistic interval: the true median lies
    between the order statistics at ranks
    ``n/2 ∓ z·√n/2`` with ~95% coverage REGARDLESS of the value
    distribution (binomial argument: each observation falls below
    the median with p=½, so the median's rank among the sample is
    Binomial(n, ½)). The nonparametric companion of
    ``bootstrap_mean_tokens_ci``: no resampling, no distributional
    assumption, exact ranks.

    Scale shape: ranks come from the VALUE-DOMAIN compaction (group
    by cents → cumulative counts over the bounded domain per type,
    the `order_quartiles` decomposition) — three rank probes are
    answered by the same cumulative table and no task ever sorts raw
    rows. All rank arithmetic is exact integers; only √n is a
    double, identical in both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dom = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dom.withColumn("cum", F.sum("cnt").over(w))
    totals = dom.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    half = F.col("n") / 2.0
    spread = F.lit(MEDIAN_CI_Z) * F.sqrt(F.col("n")) / F.lit(2.0)
    ranks = totals.select(
        "event_type",
        "n",
        F.greatest(F.floor(half - spread).cast("bigint"), F.lit(1)).alias(
            "r_lo"
        ),
        # median rank = ceil(n/2); upper rank capped at n
        F.ceil(half).cast("bigint").alias("r_med"),
        F.least(F.ceil(half + spread).cast("bigint"), F.col("n")).alias(
            "r_hi"
        ),
    )
    j = cum.join(ranks, "event_type")

    def value_at(rank_col: str):
        # smallest cents whose cumulative count reaches the rank
        return F.min(
            F.when(F.col("cum") >= F.col(rank_col), F.col("cents"))
        )

    return (
        j.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            (value_at("r_lo") / 100.0).alias("ci_lo"),
            (value_at("r_med") / 100.0).alias("median"),
            (value_at("r_hi") / 100.0).alias("ci_hi"),
        )
        .select("event_type", "n", "ci_lo", "median", "ci_hi")
        .repartition(1)
        .orderBy("event_type")
    )


QUERIES["median_confidence_interval"] = median_confidence_interval

ORACLE_SQL["median_confidence_interval"] = f"""
    WITH e AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    dom AS (
        SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM e GROUP BY event_type, cents
    ),
    cum AS (
        SELECT event_type, cents,
               SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM dom
    ),
    ranks AS (
        SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n,
               GREATEST(CAST(FLOOR(SUM(cnt) / 2.0
                   - {MEDIAN_CI_Z} * sqrt(SUM(cnt)) / 2.0) AS BIGINT),
                   1) AS r_lo,
               CAST(CEIL(SUM(cnt) / 2.0) AS BIGINT) AS r_med,
               LEAST(CAST(CEIL(SUM(cnt) / 2.0
                   + {MEDIAN_CI_Z} * sqrt(SUM(cnt)) / 2.0) AS BIGINT),
                   CAST(SUM(cnt) AS BIGINT)) AS r_hi
        FROM dom GROUP BY event_type
    )
    SELECT c.event_type,
           MAX(r.n) AS n,
           MIN(CASE WHEN c.cum >= r.r_lo THEN c.cents END) / 100.0
               AS ci_lo,
           MIN(CASE WHEN c.cum >= r.r_med THEN c.cents END) / 100.0
               AS median,
           MIN(CASE WHEN c.cum >= r.r_hi THEN c.cents END) / 100.0
               AS ci_hi
    FROM cum c JOIN ranks r ON r.event_type = c.event_type
    GROUP BY c.event_type
    ORDER BY c.event_type
"""
