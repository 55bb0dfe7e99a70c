"""Cohort, funnel, and order-statistics analytics — the user-facing
retention/segmentation layer a dashboard pipeline runs downstream of
the raw event/order marts (reference scope: tabjolt_email.py builds
per-key trend tables; these are the same mart queries at the next
altitude: cohorts, funnels, Pareto curves, RFM segments).

Scale discipline shared by the file: aggregates are keyed on bounded
or per-user domains (map-side combinable), order statistics run over
VALUE-DOMAIN compactions (the ``relational_ext.order_quartiles``
shape — windows sort distinct values, never rows), and every money/ratio number stays in exact
integer cents until a single final division so both engines produce
bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators.analytics import (
    SESSION_GAP_MS,
    with_session_ids,
)

#: Revenue-share thresholds (percent) for the Pareto curve.
PARETO_THRESHOLDS = [50, 80, 90, 95]

#: RFM band edges: recency (days since last order, relative to the
#: corpus max date), frequency (order count), monetary (total cents).
RFM_RECENCY_DAYS = (30, 90, 365)
RFM_FREQUENCY = (2, 4, 10)
RFM_MONETARY_CENTS = (15_000_000, 50_000_000)  # $150k / $500k


def _cents(col: str):
    return F.round(F.col(col) * 100).cast("bigint")


def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic weekly cohort-retention triangle: users grouped by the
    week of their first event; each cell counts how many were active
    N weeks later.

    Scale shape: one per-user MIN (map-side combinable), one distinct
    (user, week) projection, an equi-join on user_id (both sides hash
    partitioned by user — co-located), then a (cohort, offset)
    aggregate over a bounded key domain. Week arithmetic stays in
    whole days (both engines truncate to Monday), so the offset is an
    exact integer."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_w")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("act_w")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_w", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("act_w", "cohort_w") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def session_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min gap definition,
    ``analytics.SESSION_GAP_MS``) containing exactly one event, keyed
    by the session's start date — the engagement-quality headline of
    a web-analytics dashboard.

    One sessionization window (shuffle on user_id) + one per-session
    aggregate + one per-day aggregate; the ratio is a single division
    of exact counts, rounded once."""
    e = load_table(spark, sf_dir, "events")
    sess = (
        with_session_ids(e)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").cast("date").alias("d"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return (
        sess.groupBy(F.date_format("d", "yyyy-MM-dd").alias("session_date"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_bounces"),
        )
        .withColumn(
            "bounce_pct",
            F.round(
                F.col("n_bounces") * 100.0 / F.col("n_sessions"), 4
            ),
        )
        .orderBy("session_date")
    )


def session_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered in-session funnel view → click → purchase: a session
    converts a stage only if the stage's event happens strictly AFTER
    the anchor event of the previous stage (first qualifying event,
    (ts, event_id) order — the same total order every sessionized
    operator uses).

    Scale shape: ONE sessionized pass. "Stage event strictly after
    the previous stage's anchor" is equivalent to "a previous-stage
    anchor EXISTS earlier in the session's (ts, event_id) total
    order" — the anchor is the stage's MIN, and sort positions are
    unique (event_id is unique), so `x > min(anchors)` ⇔ `some anchor
    precedes x`. That turns each stage into a cumulative-max FLAG
    window over the same per-session sort (no struct mins, no
    per-stage join chain — the old shape re-executed the
    sessionization subtree once per stage aggregate, 7 passes in
    all): `seen_view` marks positions after a view, a click there is
    a qualifying click, `seen_qc` marks positions after one, a
    purchase there converts. Per-session flags reduce in one hash
    aggregate (same user_id partitioning the sessionizer
    established — no new exchange) and one global sum emits the
    funnel row."""
    e = load_table(spark, sf_dir, "events")
    sess = with_session_ids(e).select(
        "user_id", "session_id", "event_type", "ts", "event_id"
    )
    cw = (
        Window.partitionBy("user_id", "session_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = (
        sess.withColumn(
            "v", (F.col("event_type") == "view").cast("int")
        )
        .withColumn("seen_v", F.max("v").over(cw))
        .withColumn(
            "qc",
            (F.col("event_type") == "click").cast("int")
            * F.col("seen_v"),
        )
        .withColumn("seen_qc", F.max("qc").over(cw))
        .withColumn(
            "qp",
            (F.col("event_type") == "purchase").cast("int")
            * F.col("seen_qc"),
        )
    )
    per_sess = flagged.groupBy("user_id", "session_id").agg(
        F.max("v").alias("has_v"),
        F.max("qc").alias("has_qc"),
        F.max("qp").alias("has_qp"),
    )
    return per_sess.agg(
        # coalesce: on an empty events table COUNT stays 0 but the
        # flag SUMs return NULL where the pre-rewrite per-stage COUNT
        # shape returned 0 — keep the funnel row all-zeros (r11 ADVICE)
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.coalesce(F.sum("has_v"), F.lit(0)).cast("bigint").alias("n_view"),
        F.coalesce(F.sum("has_qc"), F.lit(0))
        .cast("bigint")
        .alias("n_view_click"),
        F.coalesce(F.sum("has_qp"), F.lit(0))
        .cast("bigint")
        .alias("n_full_funnel"),
    )


def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL revenue concentration curve ("how many top customers
    cover X% of revenue") at the ``PARETO_THRESHOLDS`` — the 80/20
    slide of every revenue review.  Complements
    ``relational_ext.revenue_pareto_customers`` (single 80% threshold
    PER SEGMENT, where segments partition the customer sort): the
    global curve has no partitioning key, so it instead uses the
    value-domain compaction to avoid a global customer sort entirely.

    Exact, scale-safe order statistics: per-customer revenue compacts
    to (revenue_cents, n_customers) — the cumulative window then
    sorts DISTINCT revenue values (bounded by the money domain),
    never customers. For each threshold the minimal prefix is found
    by pure integer arithmetic: customers-above plus the ceil-divide
    share of the boundary revenue group. Integer cents end-to-end;
    the single final division produces the achieved share."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("rev")
    )
    comp = rev.groupBy("rev").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("rev").desc())
    cum = (
        comp.withColumn("units_end", F.sum(F.col("rev") * F.col("cnt")).over(w))
        .withColumn("units_start", F.col("units_end") - F.col("rev") * F.col("cnt"))
        .withColumn("cnt_above", F.sum("cnt").over(w) - F.col("cnt"))
    )
    totals = F.broadcast(
        comp.agg(
            F.sum(F.col("rev") * F.col("cnt")).alias("total_units"),
            F.sum("cnt").alias("total_customers"),
        )
    )
    thr = spark.createDataFrame(
        [(t,) for t in PARETO_THRESHOLDS], "threshold_pct INT"
    )
    need = F.expr("(threshold_pct * total_units + 99) DIV 100")
    k = F.expr(
        "(need_units - units_start + rev - 1) DIV rev"
    )  # ceil within the boundary revenue group
    return (
        cum.crossJoin(totals)
        .crossJoin(F.broadcast(thr))
        .withColumn("need_units", need)
        .filter(
            (F.col("units_start") < F.col("need_units"))
            & (F.col("need_units") <= F.col("units_end"))
        )
        .select(
            "threshold_pct",
            (F.col("cnt_above") + k).cast("bigint").alias("n_customers"),
            F.round(
                (F.col("units_start") + k * F.col("rev"))
                * 100.0
                / F.col("total_units"),
                6,
            ).alias("achieved_pct"),
            F.round(
                (F.col("cnt_above") + k) * 100.0 / F.col("total_customers"),
                6,
            ).alias("customer_pct"),
        )
        .orderBy("threshold_pct")
    )


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation with FIXED business bands (recency vs the
    corpus max date, frequency, monetary) rolled up to per-segment
    counts.  Deliberately the scale-trivial counterpart of
    ``analytics.customer_rfm_segments`` (relative quintile scores via
    NTILE over the customer table): fixed bands are a pure projection
    + one bounded-domain aggregate — no ranking pass at all — which
    is what a 100 TB pipeline runs daily, re-deriving the band edges
    from the quantile operators only when the business recalibrates.

    Integer-exact: recency in whole days, monetary in cents; the
    per-segment average is one final division."""
    orders = load_table(spark, sf_dir, "orders")
    anchor = F.broadcast(
        orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(_cents("o_totalprice")).alias("monetary"),
        )
        .crossJoin(anchor)
        .withColumn("r_days", F.datediff("maxd", "lastd"))
    )
    r1, r2, r3 = RFM_RECENCY_DAYS
    f1, f2, f3 = RFM_FREQUENCY
    m1, m2 = RFM_MONETARY_CENTS
    r_band = (
        F.when(F.col("r_days") <= r1, f"0-{r1}d")
        .when(F.col("r_days") <= r2, f"{r1 + 1}-{r2}d")
        .when(F.col("r_days") <= r3, f"{r2 + 1}-{r3}d")
        .otherwise(f"{r3}d+")
    )
    f_band = (
        F.when(F.col("freq") >= f3, f"{f3}+")
        .when(F.col("freq") >= f2, f"{f2}-{f3 - 1}")
        .when(F.col("freq") >= f1, f"{f1}-{f2 - 1}")
        .otherwise("1")
    )
    m_band = (
        F.when(F.col("monetary") >= m2, "high")
        .when(F.col("monetary") >= m1, "mid")
        .otherwise("low")
    )
    return (
        per_cust.groupBy(
            r_band.alias("r_band"),
            f_band.alias("f_band"),
            m_band.alias("m_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                F.sum("monetary") / (F.count(F.lit(1)) * 100.0), 4
            ).alias("avg_monetary"),
        )
        .repartition(1)
        .orderBy("r_band", "f_band", "m_band")
    )


def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user modal event type with a deterministic tiebreak
    (max count, then lexicographically smallest type) — the
    "dominant behavior" feature column of a user-model pipeline.

    Windowless: two hash aggregates + one co-partitioned equi-join
    (argmax via join-back-on-max), so no per-user sort exists
    anywhere and every stage is map-side combinable."""
    e = load_table(spark, sf_dir, "events")
    cnts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    mx = cnts.groupBy("user_id").agg(F.max("n").alias("mxn"))
    return (
        cnts.join(mx, "user_id")
        .filter(F.col("n") == F.col("mxn"))
        .groupBy("user_id")
        .agg(
            F.min("event_type").alias("mode_type"),
            F.max("mxn").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


def segment_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST purchase-cadence order statistics per market segment:
    exact interpolated MEDIAN and exact nearest-rank P90 of the days
    between a customer's consecutive orders.  Complements
    ``analytics.order_interarrival_stats`` (avg/min/max — moment
    statistics) with the order statistics a churn model actually
    thresholds on; both run off the same LAG-gap decomposition.

    The lag window partitions per customer (bounded state); median
    and p90 come from the value-domain compaction (the
    ``relational_ext.order_quartiles`` shape) — windows sort distinct
    gap values, never rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn("prev_d", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_d").isNotNull())
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.col("prev_d").cast("date"),
            )
            .cast("bigint")
            .alias("gap_days"),
        )
    )
    # ONE (segment, gap, cnt) compaction feeds median AND p90 through
    # a single cumulative/total window pair and ONE conditional
    # aggregate — the old form ran the LAG decomposition four times
    # (median counts + totals, p90 counts + totals) with two
    # join-backs; round-11 shuffle-count audit motivated the fold.
    counts = gaps.groupBy("c_mktsegment", "gap_days").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w2 = Window.partitionBy("c_mktsegment").orderBy("gap_days")
    wk = Window.partitionBy("c_mktsegment")
    cum = (
        counts.withColumn("hi", F.sum("cnt").over(w2))
        .withColumn("lo", F.col("hi") - F.col("cnt"))
        .withColumn("n", F.sum("cnt").over(wk))
    )
    k1 = F.expr("(n - 1) DIV 2")  # 0-based lower middle
    k2 = F.expr("n DIV 2")  # 0-based upper middle
    # nearest-rank p90: 0-based index ceil(0.9*n) - 1
    k90 = F.expr("(9 * n + 9) DIV 10 - 1")
    stats = cum.groupBy("c_mktsegment").agg(
        F.max(
            F.when(
                (F.col("lo") <= k1) & (k1 < F.col("hi")),
                F.col("gap_days"),
            )
        ).alias("m1"),
        F.max(
            F.when(
                (F.col("lo") <= k2) & (k2 < F.col("hi")),
                F.col("gap_days"),
            )
        ).alias("m2"),
        F.max(
            F.when(
                (F.col("lo") <= k90) & (k90 < F.col("hi")),
                F.col("gap_days"),
            )
        ).alias("p90_gap_days"),
        F.max("n").cast("bigint").alias("n_gaps"),
    )
    return stats.select(
        "c_mktsegment",
        "n_gaps",
        ((F.col("m1") + F.col("m2")) / 2.0).alias("median_gap_days"),
        "p90_gap_days",
    ).repartition(1).orderBy("c_mktsegment")


def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders: maximize total price,
    minimize order date — an order survives iff no other order is at
    least as early AND at least as expensive (strictly better in one
    dimension). The multi-objective "best tradeoff" query of the OLAP
    skyline literature.

    Scale-safe without any global row sort: compact to per-date max
    price, run the prefix-max window over DISTINCT dates (the time
    domain — bounded while rows grow), then one broadcast-join filter
    decides every order locally: on the frontier iff it tops its own
    date AND strictly beats every earlier date's max. The DuckDB
    oracle uses the quadratic NOT EXISTS dominance definition — two
    genuinely different algorithms validating each other."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        _cents("o_totalprice").alias("cents"),
    )
    daymax = orders.groupBy("d").agg(F.max("cents").alias("dmax"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    frontier = daymax.withColumn("prev_max", F.max("dmax").over(w))
    return (
        orders.join(F.broadcast(frontier), "d")
        .filter(
            (F.col("cents") == F.col("dmax"))
            & (
                F.col("prev_max").isNull()
                | (F.col("cents") > F.col("prev_max"))
            )
        )
        .select(
            "o_orderkey",
            F.date_format("d", "yyyy-MM-dd").alias("order_date"),
            (F.col("cents") / 100.0).alias("price"),
        )
        .orderBy("order_date", "o_orderkey")
    )


QUERIES = {
    "weekly_cohort_retention": weekly_cohort_retention,
    "session_bounce_rate_daily": session_bounce_rate_daily,
    "session_funnel_conversion": session_funnel_conversion,
    "customer_revenue_pareto": customer_revenue_pareto,
    "orders_rfm_segments": orders_rfm_segments,
    "mode_event_type_per_user": mode_event_type_per_user,
    "segment_interarrival_stats": segment_interarrival_stats,
    "skyline_orders": skyline_orders,
}

_SESS_EV_CTE = f"""
    tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER uw IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER uw)
                            > {SESSION_GAP_MS}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess_ev AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM tagged
    )
"""

ORACLE_SQL = {
    "weekly_cohort_retention": """
        WITH firsts AS (
            SELECT user_id,
                   CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_w
            FROM events GROUP BY user_id
        ),
        act AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS act_w
            FROM events
        )
        SELECT strftime(f.cohort_w, '%Y-%m-%d') AS cohort_week,
               CAST(FLOOR(date_diff('day', f.cohort_w, a.act_w) / 7.0)
                    AS INTEGER) AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM act a JOIN firsts f USING (user_id)
        GROUP BY 1, 2
        ORDER BY cohort_week, week_offset
    """,
    "session_bounce_rate_daily": f"""
        WITH {_SESS_EV_CTE.strip()},
        sess AS (
            SELECT user_id, session_id,
                   CAST(MIN(ts) AS DATE) AS d,
                   COUNT(*) AS n_events
            FROM sess_ev GROUP BY user_id, session_id
        )
        SELECT strftime(d, '%Y-%m-%d') AS session_date,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bounces,
               ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                     * 100.0 / COUNT(*), 4) AS bounce_pct
        FROM sess GROUP BY d
        ORDER BY session_date
    """,
    "session_funnel_conversion": f"""
        WITH {_SESS_EV_CTE.strip()},
        v1 AS (
            SELECT user_id, session_id, ts, event_id
            FROM sess_ev WHERE event_type = 'view'
            QUALIFY row_number() OVER (
                PARTITION BY user_id, session_id ORDER BY ts, event_id) = 1
        ),
        c1 AS (
            SELECT c.user_id, c.session_id, c.ts, c.event_id
            FROM sess_ev c
            JOIN v1 ON c.user_id = v1.user_id
                   AND c.session_id = v1.session_id
                   AND (c.ts, c.event_id) > (v1.ts, v1.event_id)
            WHERE c.event_type = 'click'
            QUALIFY row_number() OVER (
                PARTITION BY c.user_id, c.session_id
                ORDER BY c.ts, c.event_id) = 1
        ),
        p1 AS (
            SELECT DISTINCT p.user_id, p.session_id
            FROM sess_ev p
            JOIN c1 ON p.user_id = c1.user_id
                   AND p.session_id = c1.session_id
                   AND (p.ts, p.event_id) > (c1.ts, c1.event_id)
            WHERE p.event_type = 'purchase'
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT DISTINCT user_id, session_id FROM sess_ev))
                AS n_sessions,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM v1) AS n_view,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n_view_click,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM p1) AS n_full_funnel
    """,
    "customer_revenue_pareto": f"""
        WITH rev AS (
            SELECT o_custkey,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
            FROM orders GROUP BY o_custkey
        ),
        comp AS (SELECT rev, COUNT(*) AS cnt FROM rev GROUP BY rev),
        cum AS (
            SELECT rev, cnt,
                   SUM(rev * cnt) OVER w AS units_end,
                   (SUM(rev * cnt) OVER w) - rev * cnt AS units_start,
                   (SUM(cnt) OVER w) - cnt AS cnt_above
            FROM comp
            WINDOW w AS (ORDER BY rev DESC ROWS UNBOUNDED PRECEDING)
        ),
        totals AS (
            SELECT SUM(rev * cnt) AS total_units,
                   SUM(cnt) AS total_customers
            FROM comp
        ),
        thr AS (
            SELECT UNNEST([{", ".join(str(t) for t in PARETO_THRESHOLDS)}])
                   AS threshold_pct
        ),
        hit AS (
            SELECT t.threshold_pct, c.rev, c.cnt_above, c.units_start,
                   tt.total_units, tt.total_customers,
                   (t.threshold_pct * tt.total_units + 99) // 100
                       AS need_units
            FROM cum c CROSS JOIN totals tt CROSS JOIN thr t
            WHERE c.units_start < (t.threshold_pct * tt.total_units + 99) // 100
              AND (t.threshold_pct * tt.total_units + 99) // 100 <= c.units_end
        )
        SELECT CAST(threshold_pct AS INTEGER) AS threshold_pct,
               CAST(cnt_above + (need_units - units_start + rev - 1) // rev
                    AS BIGINT) AS n_customers,
               ROUND((units_start
                      + ((need_units - units_start + rev - 1) // rev) * rev)
                     * 100.0 / total_units, 6) AS achieved_pct,
               ROUND((cnt_above + (need_units - units_start + rev - 1) // rev)
                     * 100.0 / total_customers, 6) AS customer_pct
        FROM hit
        ORDER BY threshold_pct
    """,
    "orders_rfm_segments": f"""
        WITH anchor AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
        ),
        per_cust AS (
            SELECT o_custkey,
                   date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                             (SELECT maxd FROM anchor)) AS r_days,
                   COUNT(*) AS freq,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                       AS monetary
            FROM orders GROUP BY o_custkey
        ),
        banded AS (
            SELECT CASE WHEN r_days <= {RFM_RECENCY_DAYS[0]}
                            THEN '0-{RFM_RECENCY_DAYS[0]}d'
                        WHEN r_days <= {RFM_RECENCY_DAYS[1]}
                            THEN '{RFM_RECENCY_DAYS[0] + 1}-{RFM_RECENCY_DAYS[1]}d'
                        WHEN r_days <= {RFM_RECENCY_DAYS[2]}
                            THEN '{RFM_RECENCY_DAYS[1] + 1}-{RFM_RECENCY_DAYS[2]}d'
                        ELSE '{RFM_RECENCY_DAYS[2]}d+' END AS r_band,
                   CASE WHEN freq >= {RFM_FREQUENCY[2]}
                            THEN '{RFM_FREQUENCY[2]}+'
                        WHEN freq >= {RFM_FREQUENCY[1]}
                            THEN '{RFM_FREQUENCY[1]}-{RFM_FREQUENCY[2] - 1}'
                        WHEN freq >= {RFM_FREQUENCY[0]}
                            THEN '{RFM_FREQUENCY[0]}-{RFM_FREQUENCY[1] - 1}'
                        ELSE '1' END AS f_band,
                   CASE WHEN monetary >= {RFM_MONETARY_CENTS[1]} THEN 'high'
                        WHEN monetary >= {RFM_MONETARY_CENTS[0]} THEN 'mid'
                        ELSE 'low' END AS m_band,
                   monetary
            FROM per_cust
        )
        SELECT r_band, f_band, m_band,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               ROUND(SUM(monetary) / (COUNT(*) * 100.0), 4)
                   AS avg_monetary
        FROM banded
        GROUP BY r_band, f_band, m_band
        ORDER BY r_band, f_band, m_band
    """,
    "mode_event_type_per_user": """
        WITH cnts AS (
            SELECT user_id, event_type, COUNT(*) AS n
            FROM events GROUP BY user_id, event_type
        ),
        mx AS (SELECT user_id, MAX(n) AS mxn FROM cnts GROUP BY user_id)
        SELECT c.user_id,
               MIN(c.event_type) AS mode_type,
               CAST(MAX(c.n) AS BIGINT) AS n_events
        FROM cnts c JOIN mx USING (user_id)
        WHERE c.n = mx.mxn
        GROUP BY c.user_id
        ORDER BY c.user_id
    """,
    "segment_interarrival_stats": """
        WITH gaps AS (
            SELECT c.c_mktsegment,
                   date_diff('day',
                       CAST(lag(o.o_orderdate) OVER w AS DATE),
                       CAST(o.o_orderdate AS DATE)) AS gap_days
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            WINDOW w AS (PARTITION BY o.o_custkey
                         ORDER BY o.o_orderdate, o.o_orderkey)
        ),
        g AS (
            SELECT c_mktsegment, CAST(gap_days AS BIGINT) AS gap_days
            FROM gaps WHERE gap_days IS NOT NULL
        ),
        counts AS (
            SELECT c_mktsegment, gap_days, COUNT(*) AS cnt
            FROM g GROUP BY c_mktsegment, gap_days
        ),
        cum AS (
            SELECT c_mktsegment, gap_days, cnt,
                   SUM(cnt) OVER w2 AS hi, SUM(cnt) OVER w2 - cnt AS lo
            FROM counts
            WINDOW w2 AS (PARTITION BY c_mktsegment ORDER BY gap_days
                          ROWS UNBOUNDED PRECEDING)
        ),
        totals AS (
            SELECT c_mktsegment, COUNT(*) AS n FROM g GROUP BY c_mktsegment
        ),
        p AS (
            SELECT c.c_mktsegment,
                   MAX(CASE WHEN c.lo <= (9 * t.n + 9) // 10 - 1
                             AND (9 * t.n + 9) // 10 - 1 < c.hi
                            THEN c.gap_days END) AS p90_gap_days,
                   MAX(t.n) AS n_gaps
            FROM cum c JOIN totals t USING (c_mktsegment)
            GROUP BY c.c_mktsegment
        )
        SELECT p.c_mktsegment,
               CAST(p.n_gaps AS BIGINT) AS n_gaps,
               quantile_cont(g.gap_days, 0.5) AS median_gap_days,
               CAST(MAX(p.p90_gap_days) AS BIGINT) AS p90_gap_days
        FROM g JOIN p USING (c_mktsegment)
        GROUP BY p.c_mktsegment, p.n_gaps
        ORDER BY p.c_mktsegment
    """,
    "skyline_orders": """
        WITH o AS (
            SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        )
        SELECT o.o_orderkey,
               strftime(o.d, '%Y-%m-%d') AS order_date,
               o.cents / 100.0 AS price
        FROM o
        WHERE NOT EXISTS (
            SELECT 1 FROM o x
            WHERE x.d <= o.d AND x.cents >= o.cents
              AND (x.d < o.d OR x.cents > o.cents)
        )
        ORDER BY order_date, o.o_orderkey
    """,
}


#: Population-decile grid for the Lorenz curve (d/10 of customers).
LORENZ_DECILES = list(range(1, 11))


def nation_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue within each nation —
    the inequality/concentration audit next to the Pareto curve
    (``customer_revenue_pareto`` answers "how many customers cover
    X%"; the Gini collapses the whole Lorenz curve into one number
    per nation, comparable across nations of different sizes). In a
    training-corpus setting the same statistic over per-source token
    counts is the "is one provider dominating the mixture" screen.

    Exact rank identity without a row sort: with values sorted
    ascending, ``G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)``; a run
    of ``cnt`` equal values occupying ranks (lo, hi] contributes
    ``x · Σ_{i=lo+1..hi} i = x·(hi(hi+1) − lo(lo+1))/2`` regardless
    of how ties are ordered, so the per-nation window sorts DISTINCT
    revenue values only (the ``order_quartiles`` value-domain
    discipline — memory bounded by the money domain, never the
    customer count). The half cancels by accumulating ``2·Σ i·x_i``
    directly. Rank-sum products are carried in decimal(38,0) (Spark)
    / HUGEINT (DuckDB) — ``x·n²`` exceeds int64 past ~10⁹ customers
    per nation — and the single final division happens once, in
    double, on exact integer operands.

    Population = EVERY customer of the nation: customers with no
    orders enter as an exact rev = 0 run (customer LEFT JOIN the
    order aggregate). Zeros dominate real inequality — a
    purchasers-only Gini would systematically understate
    concentration (in TPC-H ~⅓ of customers never order)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("rev")
    )
    named = (
        customer.select("c_custkey", "c_nationkey")
        .join(rev, customer.c_custkey == rev.o_custkey, "left")
        .withColumn("rev", F.coalesce("rev", F.lit(0).cast("bigint")))
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    comp = named.groupBy("n_name", "rev").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("n_name").orderBy("rev")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cum = (
        comp.withColumn("hi", F.sum("cnt").over(w))
        .withColumn("lo", F.col("hi") - F.col("cnt"))
        .withColumn(
            "t2",  # x · (hi(hi+1) − lo(lo+1))  ==  2·Σ i·x over the run
            dec("rev")
            * (
                dec("hi") * (dec("hi") + F.lit(1))
                - dec("lo") * (dec("lo") + F.lit(1))
            ),
        )
        .withColumn("units", dec("rev") * dec("cnt"))
    )
    agg = cum.groupBy("n_name").agg(
        F.sum("t2").alias("si2"),
        F.sum("units").alias("s1"),
        F.sum("cnt").alias("n"),
    )
    num = F.col("si2") - (dec("n") + F.lit(1)) * F.col("s1")
    den = dec("n") * F.col("s1")
    return agg.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(F.col("s1").cast("double") / 100.0, 2).alias(
            "total_revenue"
        ),
        # explicit NULL for an all-zero population (gini undefined);
        # engines disagree on double 0/0 (Spark Divide -> NULL,
        # DuckDB IEEE), so the guard is spelled out in both
        F.when(
            F.col("s1") != 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("gini"),
    ).repartition(1).orderBy("n_name")


def customer_revenue_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Lorenz curve of customer revenue at population deciles:
    for the poorest ``d/10`` of customers, what share of total
    revenue do they hold? The decile table IS the curve the Gini
    integrates — and for a data-mixture audit, the same query over
    per-source document counts shows how flat the corpus mixture is.

    Same value-domain compaction as ``customer_revenue_pareto`` but
    cut by POPULATION rank from below rather than revenue share from
    above: the cumulative window runs over distinct revenue values
    ascending; decile boundary ``k = (n·d) DIV 10`` lands in exactly
    one (lo, hi] run, and the cumulative revenue through rank k is
    ``units_lo + (k − lo)·x`` — pure integer arithmetic because every
    rank in the run carries the same value x. The 10-row decile grid
    is broadcast; the only shuffles are the per-customer aggregate
    and the distinct-value window.

    Population = ALL customers (no-order customers enter as rev = 0,
    same rationale as :func:`nation_revenue_gini`). Precondition: a
    decile row exists only when its boundary rank ``(n·d) DIV 10`` is
    ≥ 1, i.e. populations under 10 customers emit fewer than 10 rows
    (the leading deciles have an empty prefix — there is no rank-0
    cumulative point); both engines share the arithmetic, so parity
    holds regardless."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rev = (
        customer.select("c_custkey")
        .join(
            orders.groupBy("o_custkey").agg(
                F.sum(_cents("o_totalprice")).alias("rev")
            ),
            customer.c_custkey == F.col("o_custkey"),
            "left",
        )
        .withColumn("rev", F.coalesce("rev", F.lit(0).cast("bigint")))
    )
    comp = rev.groupBy("rev").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("rev")
    cum = (
        comp.withColumn("hi", F.sum("cnt").over(w))
        .withColumn("lo", F.col("hi") - F.col("cnt"))
        .withColumn("units", F.col("rev") * F.col("cnt"))
        .withColumn("units_hi", F.sum(F.col("rev") * F.col("cnt")).over(w))
        .withColumn("units_lo", F.col("units_hi") - F.col("units"))
    )
    totals = F.broadcast(
        comp.agg(
            F.sum("cnt").alias("n"),
            F.sum(F.col("rev") * F.col("cnt")).alias("total_units"),
        )
    )
    deciles = spark.createDataFrame(
        [(d,) for d in LORENZ_DECILES], "decile INT"
    )
    k = F.expr("(n * decile) DIV 10")
    return (
        cum.crossJoin(totals)
        .crossJoin(F.broadcast(deciles))
        .withColumn("k", k)
        .filter((F.col("lo") < F.col("k")) & (F.col("k") <= F.col("hi")))
        .select(
            "decile",
            F.col("k").cast("bigint").alias("n_customers"),
            F.round(F.col("k") * 100.0 / F.col("n"), 6).alias(
                "cum_pop_pct"
            ),
            F.round(
                (F.col("units_lo") + (F.col("k") - F.col("lo")) * F.col("rev"))
                * 100.0
                / F.col("total_units"),
                6,
            ).alias("cum_rev_pct"),
        )
        .orderBy("decile")
    )


QUERIES["nation_revenue_gini"] = nation_revenue_gini
QUERIES["customer_revenue_lorenz"] = customer_revenue_lorenz

ORACLE_SQL["nation_revenue_gini"] = """
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY o_custkey
    ),
    named AS (
        SELECT n.n_name, COALESCE(r.rev, 0) AS rev
        FROM customer c
        LEFT JOIN rev r ON r.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    comp AS (
        SELECT n_name, rev, COUNT(*) AS cnt
        FROM named GROUP BY n_name, rev
    ),
    cum AS (
        SELECT n_name, rev, cnt,
               SUM(cnt) OVER w AS hi,
               (SUM(cnt) OVER w) - cnt AS lo
        FROM comp
        WINDOW w AS (PARTITION BY n_name ORDER BY rev
                     ROWS UNBOUNDED PRECEDING)
    ),
    agg AS (
        SELECT n_name,
               SUM(CAST(rev AS HUGEINT)
                   * (CAST(hi AS HUGEINT) * (hi + 1)
                      - CAST(lo AS HUGEINT) * (lo + 1))) AS si2,
               SUM(CAST(rev AS HUGEINT) * cnt) AS s1,
               SUM(cnt) AS n
        FROM cum GROUP BY n_name
    )
    SELECT n_name,
           CAST(n AS BIGINT) AS n_customers,
           ROUND(CAST(s1 AS DOUBLE) / 100.0, 2) AS total_revenue,
           CASE WHEN s1 = 0 THEN NULL
                ELSE ROUND(CAST(si2 - (n + 1) * s1 AS DOUBLE)
                           / CAST(n * s1 AS DOUBLE), 6)
           END AS gini
    FROM agg
    ORDER BY n_name
"""

ORACLE_SQL["customer_revenue_lorenz"] = """
    WITH orev AS (
        SELECT o_custkey,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY o_custkey
    ),
    rev AS (
        SELECT COALESCE(r.rev, 0) AS rev
        FROM customer c LEFT JOIN orev r ON r.o_custkey = c.c_custkey
    ),
    comp AS (SELECT rev, COUNT(*) AS cnt FROM rev GROUP BY rev),
    cum AS (
        SELECT rev, cnt,
               SUM(cnt) OVER w AS hi,
               (SUM(cnt) OVER w) - cnt AS lo,
               (SUM(rev * cnt) OVER w) - rev * cnt AS units_lo
        FROM comp
        WINDOW w AS (ORDER BY rev ROWS UNBOUNDED PRECEDING)
    ),
    totals AS (
        SELECT SUM(cnt) AS n, SUM(rev * cnt) AS total_units FROM comp
    ),
    dec AS (SELECT UNNEST([1,2,3,4,5,6,7,8,9,10]) AS decile)
    SELECT d.decile,
           CAST((t.n * d.decile) // 10 AS BIGINT) AS n_customers,
           ROUND(((t.n * d.decile) // 10) * 100.0 / t.n, 6)
               AS cum_pop_pct,
           ROUND((c.units_lo
                  + ((t.n * d.decile) // 10 - c.lo) * c.rev)
                 * 100.0 / t.total_units, 6) AS cum_rev_pct
    FROM cum c CROSS JOIN totals t CROSS JOIN dec d
    WHERE c.lo < (t.n * d.decile) // 10
      AND (t.n * d.decile) // 10 <= c.hi
    ORDER BY d.decile
"""


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted cohort curve (cumulative LTV): users grouped
    by first-event week; each cell holds that cohort's purchase
    revenue N weeks later and the running lifetime value per cohort
    member — the money twin of ``weekly_cohort_retention`` (counts
    say users come back; this says what they're worth when they do).

    Scale shape: one per-user MIN (map-side combinable), one filtered
    purchase projection, an equi-join on user_id (both sides hash
    partitioned by user — co-located), a (cohort, offset) aggregate
    over a bounded key domain, then a cumulative window whose
    partitions are cohort weeks (bounded by the calendar, not the
    user count). Value stays in exact integer cents through the
    cumulative sum; the per-member division happens once per output
    row."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_w")
    )
    sizes = firsts.groupBy("cohort_w").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("act_w"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    cells = (
        purchases.join(firsts, "user_id")
        .groupBy(
            "cohort_w",
            F.floor(F.datediff("act_w", "cohort_w") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_buyers"),
            F.sum("cents").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_w")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.withColumn("cum_cents", F.sum("cents").over(w))
        .join(F.broadcast(sizes), "cohort_w")
        .select(
            F.date_format("cohort_w", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_buyers",
            (F.col("cents") / 100.0).alias("period_revenue"),
            F.round(
                F.col("cum_cents") / 100.0 / F.col("cohort_size"), 4
            ).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


QUERIES["cohort_ltv_curve"] = cohort_ltv_curve

ORACLE_SQL["cohort_ltv_curve"] = """
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_w
        FROM events GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_w, COUNT(*) AS cohort_size
        FROM firsts GROUP BY cohort_w
    ),
    p AS (
        SELECT e.user_id,
               CAST(date_trunc('week', e.ts) AS DATE) AS act_w,
               CAST(ROUND(e.value * 100) AS BIGINT) AS cents
        FROM events e WHERE e.event_type = 'purchase'
    ),
    cells AS (
        SELECT f.cohort_w,
               CAST(FLOOR(date_diff('day', f.cohort_w, p.act_w) / 7.0)
                    AS INTEGER) AS week_offset,
               CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_buyers,
               SUM(p.cents) AS cents
        FROM p JOIN firsts f USING (user_id)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_w, week_offset, n_buyers, cents,
               SUM(cents) OVER (
                   PARTITION BY cohort_w ORDER BY week_offset
                   ROWS UNBOUNDED PRECEDING) AS cum_cents
        FROM cells
    )
    SELECT strftime(c.cohort_w, '%Y-%m-%d') AS cohort_week,
           c.week_offset, c.n_buyers,
           c.cents / 100.0 AS period_revenue,
           ROUND(c.cum_cents / 100.0 / s.cohort_size, 4)
               AS cum_ltv_per_user
    FROM cum c JOIN sizes s USING (cohort_w)
    ORDER BY cohort_week, week_offset
"""
