"""General analytic queries over the star schema — the engine-breadth
layer beyond the reference's nine queries.

The reference's capability surface is narrow (SURVEY.md §2: one join
kind, three aggregates); a user switching to this engine still needs
the standard warehouse shapes at 100 TB. These queries exercise them
with explicit scale choices:

- fact-table aggregations are partial-aggregate friendly (groupBy on
  low-cardinality keys → map-side combine before the shuffle);
- dimension joins broadcast (region/nation/part/supplier stay far
  under the 32 MB threshold at any realistic scale; customer⋈orders
  is a true shuffled fact-fact join);
- top-k uses sort+limit which Spark executes as TakeOrderedAndProject
  (per-partition heaps, no global sort materialization);
- window functions partition by bounded keys (brand), never a global
  unpartitioned window.

Reference parity: the reference (tabjolt_email.py) hands every query
to Vertica as SQL text. Here 20 queries are registered as their SQL
text (``catalog.sql_query``): Spark plans the text, and the DuckDB
oracle reads the same text (``catalog.oracle_text``). Scale notes, as
Spark plans those texts:

- the TPC-H Q1/Q3/Q5/Q6 shapes push their date, discount and quantity
  predicates to the parquet scans; the small dimensions (the filtered
  customers of the Q3 shape, nation and region, part and supplier) are
  hinted ``BROADCAST``, so they broadcast at any scale, not by size
  estimate; a top-10 is a TakeOrderedAndProject, never a full sort;
- the daily and monthly series (``rolling_value_7d``,
  ``new_users_daily``, ``daily_p95_series``, ``daily_anomaly_scores``,
  ``monthly_revenue_growth``) run their unpartitioned window over the
  per-day or per-month aggregate, never over raw events, and
  ``key_skew_stats`` ranks the per-user counts, not the events;
- median, MAD and p95 are ``percentile_cont``, which Spark plans as its
  exact percentile aggregate: a partial aggregate whose buffer counts
  each distinct value, so memory follows the value domain of a group
  (integer cents), not its rows; the interpolation of integer cents is
  exact in both engines;
- every sum that reaches a comparison or a ratio is in exact integer
  cents; ratios divide by a double literal (``1e2``, ``1e4``), which
  both engines type as DOUBLE (``100.0`` is a DECIMAL on Spark), and
  a bounded result sorts under ``/*+ REPARTITION(1) */``.

The other queries stay DataFrame builders: they read artifacts, loop
in Python, have no text both engines accept, or their text planned
worse; each of the last gives its measured reason in its docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import (
    load_table,
    oracle_text,
    sql_query,
)
from tableau_dashboard_performance_etl_automation_spark.functions.expressions import (
    dow_sunday0_sql,
)


#: 30-minute sessionization inactivity gap — THE session definition,
#: shared by every sessionizing operator (user_sessionization,
#: session_path_mining, intervals.daily_peak_concurrency) and
#: used by the converged-state queries in streaming_twins.
SESSION_GAP_MS = 30 * 60 * 1000


def with_session_ids(e: DataFrame) -> DataFrame:
    """Tag an events-shaped frame with a per-user ``session_id``
    (gap-based, ``SESSION_GAP_MS`` inactivity; 1-based within user).
    One lag + one running-sum window partitioned by user — shuffle on
    user_id, bounded per-key state. Windows order by (ts, event_id)
    so equal timestamps cannot reorder across engines. The single
    sessionizer implementation behind every session-scoped operator —
    a gap change here changes them all together."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (
                    F.unix_millis("ts") - F.unix_millis("prev_ts")
                    > SESSION_GAP_MS
                )
            ).cast("int"),
        )
        .withColumn(
            "session_id",
            F.sum("new_session")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint"),
        )
        .drop("prev_ts", "new_session")
    )


def user_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag window —
    the standard streaming-adjacent stateful shape expressed as a
    batch window; partitions by user so state never concentrates.

    Cross-engine determinism: windows order by (ts, event_id) so
    equal timestamps can't reorder across engines, and session_value
    is accumulated as exact integer cents — summing raw doubles is
    accumulation-order dependent and flips the last cent."""
    e = load_table(spark, sf_dir, "events")
    sessions = with_session_ids(e).withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents") / F.lit(100.0)).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted by
    weeks-since-cohort activity. Two aggregations (first-seen per
    user, then cohort × offset distinct users) — both shuffle on
    user-ish keys with map-side combine; no window over the full
    stream."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_date")
    )
    cohorted = e.join(first_seen, "user_id").select(
        "user_id",
        F.weekofyear("first_date").alias("cohort_week"),
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.col("first_date")) / 7
        ).cast("int").alias("weeks_since"),
    )
    return (
        cohorted.groupBy("cohort_week", "weeks_since")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel (view → click → purchase):
    per-user first view, first click *after* that view, first purchase
    *after* that click, summarized as per-stage user counts with
    conversion vs. funnel entry.

    ONE sessionless pass over the stream: "first click strictly
    after the first view" ⇔ "a view exists strictly earlier in time"
    (the stage anchor is a MIN, so `ts > min(anchors)` ⇔ `some anchor
    has ts < this ts`), which a cumulative-max flag computes over a
    strict RANGE frame (`rangeBetween(…, -1)` on micros — rows with
    strictly smaller ts, so an equal-timestamp view never qualifies
    its own click, matching the old strict `>` join filters). The old
    shape union-counted three chained stage aggregates, re-executing
    the view subtree three times and the click subtree twice. One
    per-user flag aggregate + one global sum; the 3-row summary
    explodes from that single row (pct_of_entry = users / stage-1
    users, same value the stage-axis window produced).

    Kept as a builder: the portable text (three stage aggregates, each
    joined back to the events) scans ``events`` 6 times against 1 and
    plans 8 shuffle exchanges against 2 at sf0.1."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    flagged = (
        # only the three stage types can set a flag; every other row
        # enters the window with all-zero flags and cannot change a
        # strictly-earlier cumulative max or a per-user flag sum —
        # filtering them BEFORE the window drops ~40% of the rows the
        # exchange + per-user sort pays for (guide §2.3, shuffle fewer
        # bytes; predicate pushes to the parquet scan), measured on
        # the 64×/256× fact ladder where the unfiltered window lost
        # to the r10 three-aggregate shape (plans/r12)
        e.filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_type")
        .withColumn("v", (F.col("event_type") == "view").cast("int"))
        .withColumn(
            "seen_v", F.coalesce(F.max("v").over(w), F.lit(0))
        )
        .withColumn(
            "qc",
            (F.col("event_type") == "click").cast("int")
            * F.col("seen_v"),
        )
        .withColumn(
            "seen_qc", F.coalesce(F.max("qc").over(w), F.lit(0))
        )
        .withColumn(
            "qp",
            (F.col("event_type") == "purchase").cast("int")
            * F.col("seen_qc"),
        )
    )
    tot = (
        flagged.groupBy("user_id")
        .agg(
            F.max("v").alias("hv"),
            F.max("qc").alias("hc"),
            F.max("qp").alias("hp"),
        )
        .agg(
            # coalesce: SUM over a zero-row input is NULL where the
            # pre-rewrite per-stage COUNT shape returned 0 — keep the
            # all-zeros summary on an empty events table (r11 ADVICE)
            F.coalesce(F.sum("hv"), F.lit(0)).cast("bigint").alias("n_v"),
            F.coalesce(F.sum("hc"), F.lit(0)).cast("bigint").alias("n_c"),
            F.coalesce(F.sum("hp"), F.lit(0)).cast("bigint").alias("n_p"),
        )
    )
    stages = tot.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(no).alias("stage_no"),
                        F.lit(name).alias("stage"),
                        F.col(cnt).alias("users"),
                        F.col("n_v").alias("entry"),
                    )
                    for no, name, cnt in [
                        (1, "view", "n_v"),
                        (2, "view>click", "n_c"),
                        (3, "view>click>purchase", "n_p"),
                    ]
                ]
            )
        ).alias("s")
    ).select(
        F.col("s.stage_no").alias("stage_no"),
        F.col("s.stage").alias("stage"),
        F.col("s.users").alias("users"),
        F.round(F.col("s.users") / F.col("s.entry"), 4).alias(
            "pct_of_entry"
        ),
    )
    return stages.orderBy("stage_no")


def daily_open_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars over the event stream: first/last value by
    (ts, event_id) plus low/high/count per day. FIRST_VALUE /
    LAST_VALUE over a full-frame window partitioned by day — windows
    partition on the day key, so no global sort; the deterministic
    (ts, event_id) tiebreak makes open/close identical across
    engines even with colliding timestamps.

    Kept as a builder: the portable text plans 3 shuffle exchanges
    against 2 at sf0.1 (its build + execute was 0.83–0.87× the
    builder's, but a text may not add an exchange)."""
    e = load_table(spark, sf_dir, "events")
    d = F.col("ts").cast("date")
    w = (
        Window.partitionBy("d")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    bars = (
        e.withColumn("d", d)
        .withColumn("open_value", F.first("value").over(w))
        .withColumn("close_value", F.last("value").over(w))
    )
    return (
        bars.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("open_value"), 2).alias("open_value"),
            F.round(F.min("close_value"), 2).alias("close_value"),
            F.round(F.min("value"), 2).alias("low_value"),
            F.round(F.max("value"), 2).alias("high_value"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("event_date"),
            "n_events",
            "open_value",
            "close_value",
            "low_value",
            "high_value",
        )
        .orderBy("event_date")
    )


def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessions via Spark's native ``session_window`` (the
    streaming-capable merging-window operator), aggregated per
    session — proving the native operator against the classic
    lag/sum SQL formulation the oracle replays.

    Boundary semantics: ``session_window(ts, gap)`` merges an event
    whose gap from the previous is strictly less than
    ``SESSION_GAP_MS``, so the oracle's split rule is ``diff >=`` (note
    ``user_sessionization`` uses ``>`` — both conventions exist; the
    oracle matches the engine under test). State partitions by
    ``user_id``; the window start is the session's min event time.
    Session value accumulates exact integer cents."""
    e = load_table(spark, sf_dir, "events")
    ec = e.withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    return (
        ec.groupBy(
            "user_id",
            F.session_window(
                "ts", f"{SESSION_GAP_MS} milliseconds"
            ).alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents") / F.lit(100.0)).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


def hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity grid (the dashboard heatmap): event
    count and exact-cents mean value per cell. One hash aggregate on
    a 7×24-bounded key. Weekday convention: Monday=0 (Spark
    ``weekday``; oracle uses ``isodow - 1``)."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.select(
            F.weekday("ts").alias("wd"),
            F.hour("ts").alias("hh"),
            cents.alias("cents"),
        )
        .groupBy("wd", "hh")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum("cents") / (F.lit(100.0) * F.count(F.lit(1))), 4
            ).alias("avg_value"),
        )
        .repartition(1)
        .orderBy("wd", "hh")
    )


#: Exponential-decay half-life in days for recency-weighted scores.
DECAY_HALFLIFE_DAYS = 7


def decayed_event_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted activity per event type: every event
    contributes ``0.5^(age_days/halflife)``, anchored at the
    corpus' newest day — the streaming-analytics staple that lets one
    mergeable number stand in for "recent volume" without a window
    cutoff.

    Scale shape: the anchor is a 1-row broadcast derived from the
    (type, day) compaction — max(day) over the compaction equals
    max(day) over the raw stream. The corpus is still scanned by both
    branches, but the broadcast no longer gates the heavy branch: the
    old shape computed ``datediff(anchor, ts)`` BELOW the per-type
    aggregate, so the full-stream aggregate scan could not start until
    the anchor's own full scan finished (scan → broadcast → scan,
    serialized). Grouping by raw day instead (day ↔ age_days is a
    bijection under a fixed anchor, so grouping by day IS grouping by
    age) moves the join above the aggregate: both leaf stages run
    concurrently and the join touches ≤ types × days rows. The heavy
    lifting is that (type, day) integer pre-aggregate — map-side
    combined — and the decay weighting then multiplies EXACT integer
    counts/cent-sums by one pow() per distinct age, so the final
    per-type sum folds ≤ #days terms (order noise bounded far below
    the 4-decimal rounding).
    This is also why the decayed sum is mergeable across batches: new
    days only rescale yesterday's total by a constant factor."""
    events = load_table(spark, sf_dir, "events")
    by_day = (
        events.select(
            "event_type",
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("event_type", "d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").alias("cents"),
        )
    )
    anchor = F.broadcast(by_day.agg(F.max("d").alias("anchor_date")))
    per_day = by_day.crossJoin(anchor).select(
        "event_type",
        F.datediff(F.col("anchor_date"), F.col("d")).alias("age_days"),
        "n",
        "cents",
    )
    decay = F.pow(
        F.lit(0.5), F.col("age_days") / F.lit(float(DECAY_HALFLIFE_DAYS))
    )
    return (
        per_day.select(
            "event_type",
            (F.col("n") * decay).alias("dn"),
            (F.col("cents") / 100.0 * decay).alias("dv"),
        )
        .groupBy("event_type")
        .agg(
            F.round(F.sum("dn"), 4).alias("decayed_count"),
            F.round(F.sum("dv"), 4).alias("decayed_value"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


def user_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative value balance at every event — the
    running-total (ledger) window frame, the one standard frame shape
    the breadth layer didn't yet pin: ROWS UNBOUNDED PRECEDING over a
    per-user total order.

    Scale shape: ONE window partitioned by ``user_id`` (bounded state
    per key, shuffle on the natural key) — never a global ordering;
    the frame accumulates EXACT integer cents so every prefix sum is
    reduction-order-independent and bit-identical across engines.
    The (ts, event_id) ordering key is a total order within each
    partition, so the frame contents — not just the final sum — are
    deterministic.

    Kept as a builder: the portable text's build + execute was 1.19×
    and 1.27× the builder's at sf0.1 (medians of two batches of 7
    interleaved pairs), with the same plan shape."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .withColumn("balance_cents", F.sum("cents").over(w))
        .select("event_id", "user_id", "balance_cents")
        .orderBy("event_id")
    )


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency / frequency / monetary
    from the orders fact, each scored into quintiles with ``NTILE(5)``
    (5 = most recent / most frequent / highest spend), then rolled up
    to segment cells — the standard marketing-warehouse cohort cube.

    Scale shape: one hash aggregate by ``o_custkey`` (map-side
    combinable) reduces the fact table to one row per customer; the
    three NTILE windows then rank the *customer* table, not the fact
    table — a global sort per metric, but over n_customers rows with
    AQE right-sizing the range exchange. Orderings carry a
    ``c_custkey`` tiebreak so bucket boundaries are deterministic;
    monetary is rounded to cents before ranking so both engines
    order identical doubles.
    """
    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("anchor_d")
    )
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "recency_days",
            F.datediff(F.col("anchor_d"), F.col("last_d")).cast("bigint"),
        )
    )
    r_w = Window.orderBy(F.col("recency_days").desc(), F.col("o_custkey"))
    f_w = Window.orderBy(F.col("frequency").asc(), F.col("o_custkey"))
    m_w = Window.orderBy(F.col("monetary").asc(), F.col("o_custkey"))
    scored = per_cust.select(
        "o_custkey",
        "monetary",
        F.ntile(5).over(r_w).alias("r_score"),
        F.ntile(5).over(f_w).alias("f_score"),
        F.ntile(5).over(m_w).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("monetary"), 2).alias("segment_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def order_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gaps between consecutive orders per customer
    (LAG over the per-customer order timeline), summarized per market
    segment: purchase-cadence statistics, the feature a churn model
    starts from.

    Scale shape: the LAG window shuffles once on the natural
    ``o_custkey`` key with bounded per-key state; the segment rollup
    is a map-side-combinable hash aggregate over the small customer
    dimension join (broadcast). Gap values are exact integer day
    counts, so the averages are sums of ints — bit-identical across
    engines after the final rounding.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.lag(F.col("o_orderdate")).over(w).alias("prev_dt"),
        )
        .filter(F.col("prev_dt").isNotNull())
        .select(
            "o_custkey",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.col("prev_dt").cast("date"),
            )
            .cast("bigint")
            .alias("gap_days"),
        )
    )
    return (
        gaps.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            gaps.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .repartition(1)
        .orderBy("c_mktsegment")
    )


def order_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-volume seasonality matrix: order counts and revenue by
    (month-of-year, day-of-week) — the calendar heat signature demand
    planning reads (reference analogue: the day-wise trend series of
    tabjolt_email.py:86, generalized to a two-axis calendar rollup).

    One map-side-combinable hash aggregate on two derived calendar
    keys — output bounded at 12×7 rows regardless of fact size.
    Day-of-week is normalized to 0=Sunday in BOTH engines (Spark's
    ``dayofweek`` is 1-based, DuckDB's ``dow`` 0-based) so the keys
    agree.

    Kept as a builder: the portable text, whose day of week is the
    Zeller expression both engines read alike, took 1.05–1.20× the
    builder's build + execute at sf0.1 (medians of batches of 7, 7 and
    15 interleaved pairs), with the same plan shape.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.month("o_orderdate").cast("int").alias("month_of_year"),
            (F.dayofweek("o_orderdate") - 1).cast("int").alias("day_of_week"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .repartition(1)
        .orderBy("month_of_year", "day_of_week")
    )


def supplier_lead_time_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-supplier order→ship lead-time distribution (p50/p90 over
    exact integer day counts, plus mean) — the SLA scorecard a
    procurement dashboard ranks suppliers by.

    Scale shape: orders⋈lineitem reads the BUCKETED fact layouts
    (``sources/warehouse.bucketed_fact`` — both sides stored
    bucketed+sorted on the order key, the layout a deployment
    maintains for its fact tables anyway, shared with
    ``brand_affinity_cold_bucketed``), so the one genuine fact-fact
    join runs with NO shuffle Exchange on either side (round-8; was
    a full two-sided hash shuffle every run). The supplier dimension
    broadcasts; the percentile aggregate groups on s_suppkey with
    integer day values, so interpolation is cross-engine
    deterministic. At 100 TB the exact percentile becomes
    ``percentile_approx`` (mergeable sketch) — the exact form is the
    oracle-checkable baseline.
    """
    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
        bucketed_fact,
    )

    orders = bucketed_fact(spark, sf_dir, "orders", "o_orderkey")
    li = bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey")
    supp = load_table(spark, sf_dir, "supplier")
    lead = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_suppkey",
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            ).alias("lead_days"),
        )
    )
    return (
        lead.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shipments"),
            F.round(F.expr("percentile(lead_days, 0.5)"), 4).alias(
                "lead_p50"
            ),
            F.round(F.expr("percentile(lead_days, 0.9)"), 4).alias(
                "lead_p90"
            ),
            F.round(F.avg("lead_days"), 4).alias("lead_mean"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey", "s_name", "n_shipments",
            "lead_p50", "lead_p90", "lead_mean",
        )
        .orderBy("s_suppkey")
    )


#: Trailing window (days) and |z| threshold for daily anomaly flags.
ANOMALY_WINDOW_DAYS = 7
ANOMALY_Z = 2.0

#: Equi-depth bin count for the per-type feature binning.
N_VALUE_BINS = 10

#: Queries registered as their SQL text, ``{table}`` placeholders bound
#: per call (``catalog.sql_query``).
_TEXTS = {
    # TPC-H Q1: pricing summary, one multi-aggregate hash aggregate
    "pricing_summary": """
        SELECT /*+ REPARTITION(1) */ l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                   AS sum_disc_price,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               COUNT(*) AS count_order
        FROM {lineitem}
        WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    # TPC-H Q3: revenue of the ten largest open BUILDING orders
    "top_revenue_orders": """
        SELECT l_orderkey,
               CAST(CAST(o_orderdate AS DATE) AS STRING) AS order_date,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM {lineitem}
        JOIN {orders} ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1999-01-01'
          AND l_shipdate > TIMESTAMP '1999-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    # TPC-H Q3 in exact units: cents × (100 − discount basis points)
    "shipping_priority": """
        SELECT /*+ BROADCAST(c) */ o_orderkey,
               CAST(CAST(o_orderdate AS DATE) AS STRING) AS order_date,
               ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                              * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                          AS BIGINT) / 1e4, 4) AS revenue
        FROM {lineitem}
        JOIN {orders} ON l_orderkey = o_orderkey
        JOIN {customer} c ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-15'
          AND l_shipdate > TIMESTAMP '1998-06-15'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    # TPC-H Q5: revenue per nation of one region
    "region_revenue": """
        SELECT /*+ REPARTITION(1), BROADCAST(n, r) */ n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM {lineitem}
        JOIN {orders} ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        JOIN {nation} n ON c_nationkey = n_nationkey
        JOIN {region} r ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    # TPC-H Q6: one ungrouped revenue over a year/discount/quantity band
    "forecast_revenue": """
        SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * CAST(ROUND(l_discount * 100) AS BIGINT))
                    AS BIGINT) / 1e4 AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount >= 0.02 AND l_discount <= 0.09
          AND l_quantity < 24
    """,
    # brand rollup over two broadcast dimensions
    "supplier_part_volume": """
        SELECT /*+ REPARTITION(1), BROADCAST(p, s) */ p_brand,
               ROUND(SUM(l_quantity), 2) AS total_qty,
               COUNT(*) AS n_lines,
               COUNT(DISTINCT s_suppkey) AS n_suppliers
        FROM {lineitem}
        JOIN {part} p ON l_partkey = p_partkey
        JOIN {supplier} s ON l_suppkey = s_suppkey
        WHERE p_type IN ('PROMO', 'ECONOMY')
        GROUP BY p_brand
        ORDER BY p_brand
    """,
    # the three dearest parts per brand: a window partitioned by brand
    "top_parts_per_brand": """
        SELECT /*+ REPARTITION(1) */ p_brand, p_partkey, p_name,
               ROUND(p_retailprice, 2) AS retail_price, price_rank
        FROM (
            SELECT p_brand, p_partkey, p_name, p_retailprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY p_brand
                       ORDER BY p_retailprice DESC, p_partkey
                   ) AS price_rank
            FROM {part}
        ) ranked
        WHERE price_rank <= 3
        ORDER BY p_brand, price_rank
    """,
    # month-over-month revenue growth; NULL for the first month
    "monthly_revenue_growth": """
        WITH m AS (
            SELECT substr(CAST(CAST(o_orderdate AS DATE) AS STRING), 1, 7)
                       AS month,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM {orders}
            GROUP BY 1
        ),
        lagged AS (
            SELECT month, revenue,
                   LAG(revenue) OVER (ORDER BY month) AS prev_revenue
            FROM m
        )
        SELECT month, revenue, prev_revenue,
               CASE WHEN prev_revenue IS NULL OR prev_revenue = 0 THEN NULL
                    ELSE ROUND((revenue - prev_revenue) / prev_revenue * 1e2, 4)
               END AS growth_pct
        FROM lagged
        ORDER BY month
    """,
    # distinct users, events and value per day
    "daily_active_users": """
        SELECT CAST(CAST(ts AS DATE) AS STRING) AS event_date,
               COUNT(DISTINCT user_id) AS dau,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM {events}
        GROUP BY CAST(ts AS DATE)
        ORDER BY event_date
    """,
    # per-user first/last active day, active days and dead days between
    "user_activity_span": """
        SELECT user_id,
               CAST(MIN(d) AS STRING) AS first_date,
               CAST(MAX(d) AS STRING) AS last_date,
               CAST(COUNT(DISTINCT d) AS BIGINT) AS active_days,
               CAST(CAST(MAX(d) - MIN(d) AS BIGINT) + 1 AS BIGINT)
                   AS span_days,
               CAST(CAST(MAX(d) - MIN(d) AS BIGINT) + 1
                    - COUNT(DISTINCT d) AS BIGINT) AS gap_days
        FROM (SELECT user_id, CAST(ts AS DATE) AS d FROM {events}) days
        GROUP BY user_id
        ORDER BY user_id
    """,
    # daily value with a 7-day trailing moving average, in exact cents
    "rolling_value_7d": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM {events}
            GROUP BY CAST(ts AS DATE)
        ),
        win AS (
            SELECT d, cents,
                   CAST(SUM(cents) OVER w AS BIGINT) AS ma7_cents,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_days
            FROM daily
            WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        )
        SELECT CAST(d AS STRING) AS event_date,
               cents / 1e2 AS total_value,
               ROUND(ma7_cents / (1e2 * n_days), 4) AS ma7_value,
               n_days
        FROM win
        ORDER BY event_date
    """,
    # new purchasing users per day (first purchase date) and running total
    "new_users_daily": """
        WITH first_seen AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date
            FROM {events}
            WHERE event_type = 'purchase'
            GROUP BY user_id
        ),
        daily AS (
            SELECT first_date, CAST(COUNT(*) AS BIGINT) AS new_users
            FROM first_seen
            GROUP BY first_date
        )
        SELECT CAST(first_date AS STRING) AS event_date,
               new_users,
               CAST(SUM(new_users) OVER (
                   ORDER BY first_date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM daily
        ORDER BY event_date
    """,
    # exact daily p95 (integer cents) flagged when it beats the prior
    # 7 days' maximum
    "daily_p95_series": """
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(percentile_cont(0.95) WITHIN GROUP (
                       ORDER BY CAST(ROUND(value * 100) AS BIGINT)
                   ) / 1e2, 4) AS p95
            FROM {events}
            GROUP BY CAST(ts AS DATE)
        ),
        flagged AS (
            SELECT d, n_events, p95,
                   MAX(p95) OVER (
                       ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
                   ) AS prior_max
            FROM daily
        )
        SELECT CAST(d AS STRING) AS event_date, n_events, p95,
               CASE WHEN prior_max IS NOT NULL AND p95 > prior_max
                    THEN 1 ELSE 0 END AS is_new_high
        FROM flagged
        ORDER BY event_date
    """,
    # per-day mean-value z-score against the trailing window, from
    # exact integer count / sum / sum-of-squares; ``ts * 1e0 * ts``
    # squares in double, where a BIGINT square could overflow
    "daily_anomaly_scores": f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS d,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)
                       * CAST(ROUND(value * 100) AS BIGINT)) AS ss
            FROM {{events}}
            GROUP BY CAST(ts AS DATE)
        ),
        trail AS (
            SELECT d, n, s,
                   SUM(n) OVER w AS tn,
                   SUM(s) OVER w AS ts,
                   SUM(ss) OVER w AS tss,
                   COUNT(*) OVER w AS tdays
            FROM daily
            WINDOW w AS (ORDER BY d ROWS BETWEEN {ANOMALY_WINDOW_DAYS} PRECEDING
                                            AND 1 PRECEDING)
        ),
        stats AS (
            SELECT d, n, s / n / 1e2 AS day_mean,
                   ts / tn / 1e2 AS t_mean,
                   (tss - ts * 1e0 * ts / tn) / (tn - 1) / 1e4 AS t_var,
                   tn, tdays
            FROM trail
        ),
        scored AS (
            SELECT d, n, day_mean,
                   CASE WHEN tdays >= {ANOMALY_WINDOW_DAYS} AND tn > 1
                             AND t_var > 0
                        THEN ROUND((day_mean - t_mean) / sqrt(t_var), 4)
                   END AS z_score
            FROM stats
        )
        SELECT CAST(d AS STRING) AS event_date, n,
               ROUND(day_mean, 4) AS mean_value,
               z_score,
               CASE WHEN z_score IS NOT NULL AND abs(z_score) > {ANOMALY_Z}
                    THEN 1 ELSE 0 END AS is_anomaly
        FROM scored
        ORDER BY event_date
    """,
    # per-type z-score outliers; mean and variance from exact integer sums
    "value_outliers": """
        WITH ec AS (
            SELECT event_id, event_type, value,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM {events}
        ),
        stats AS (
            SELECT event_type,
                   SUM(cents) / COUNT(*) AS mean_c,
                   SUM(cents * cents) / COUNT(*)
                     - (SUM(cents) / COUNT(*)) * (SUM(cents) / COUNT(*))
                       AS var_c
            FROM ec
            GROUP BY event_type
        )
        SELECT event_id, ec.event_type AS event_type,
               ROUND(value, 2) AS value,
               ROUND((cents - mean_c) / sqrt(var_c), 4) AS z_score
        FROM ec JOIN stats ON ec.event_type = stats.event_type
        WHERE abs((cents - mean_c) / sqrt(var_c)) > 3
        ORDER BY event_id
    """,
    # exact median and MAD per event type
    "event_type_robust_stats": """
        WITH ec AS (
            SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM {events}
        ),
        med AS (
            SELECT event_type,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)
                       AS med_c,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM ec
            GROUP BY event_type
        )
        SELECT /*+ REPARTITION(1) */ ec.event_type,
               MIN(med.med_c) / 1e2 AS median_value,
               percentile_cont(0.5) WITHIN GROUP (
                   ORDER BY abs(ec.cents - med.med_c)
               ) / 1e2 AS mad_value,
               MIN(med.n_events) AS n_events
        FROM ec JOIN med USING (event_type)
        GROUP BY ec.event_type
        ORDER BY ec.event_type
    """,
    # per-type share of events farther than 3.5 MAD from the median;
    # NULL event types join nothing and drop out
    "value_robust_outlier_rates": """
        WITH ec AS (
            SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM {events}
        ),
        med AS (
            SELECT event_type,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)
                       AS med_c,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM ec
            GROUP BY event_type
        ),
        dev AS (
            SELECT ec.event_type, abs(ec.cents - med.med_c) AS dev
            FROM ec JOIN med USING (event_type)
        ),
        mad AS (
            SELECT event_type,
                   percentile_cont(0.5) WITHIN GROUP (ORDER BY dev) AS mad
            FROM dev
            GROUP BY event_type
        )
        SELECT /*+ REPARTITION(1) */ d.event_type,
               MIN(med.n_events) AS n_events,
               CAST(SUM(CASE WHEN d.dev > 3.5e0 * mad.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers,
               ROUND(SUM(CASE WHEN d.dev > 3.5e0 * mad.mad THEN 1 ELSE 0 END)
                     / MIN(med.n_events), 4) AS outlier_rate
        FROM dev d
        JOIN mad USING (event_type)
        JOIN med USING (event_type)
        GROUP BY d.event_type
        ORDER BY d.event_type
    """,
    # event counts per user: key count, top-key share and Gini, over
    # counts ranked ascending with a key tiebreak
    "key_skew_stats": """
        WITH counts AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
            FROM {events}
            GROUP BY user_id
        ),
        ranked AS (
            SELECT c,
                   CAST(ROW_NUMBER() OVER (ORDER BY c, user_id) AS BIGINT) AS i
            FROM counts
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS total_events,
               ROUND(MAX(c) / SUM(c), 4) AS top1_share,
               ROUND(2e0 * SUM(i * c) / (COUNT(*) * SUM(c))
                     - (COUNT(*) + 1e0) / COUNT(*), 4) AS gini
        FROM ranked
    """,
    # equal-count value bins per event type (NTILE over exact cents with
    # an event_id tiebreak), as a bin-boundary table
    "equidepth_value_bins": f"""
        WITH cents AS (
            SELECT event_type, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM {{events}}
        ),
        binned AS (
            SELECT event_type, cents,
                   NTILE({N_VALUE_BINS}) OVER (
                       PARTITION BY event_type ORDER BY cents, event_id
                   ) AS bin
            FROM cents
        )
        SELECT /*+ REPARTITION(1) */ event_type, bin,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(MIN(cents) / 1e2, 2) AS lo,
               ROUND(MAX(cents) / 1e2, 2) AS hi,
               ROUND(SUM(cents) / 1e2 / COUNT(*), 4) AS mean_val
        FROM binned
        GROUP BY event_type, bin
        ORDER BY event_type, bin
    """,
    # runs of one event type in each user's (ts, event_id) order: count,
    # events covered, longest run and the share a keep-first compaction
    # drops
    "event_run_lengths": """
        WITH tagged AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN lag(event_type) OVER uw IS NULL
                             OR lag(event_type) OVER uw <> event_type
                        THEN 1 ELSE 0 END AS new_run
            FROM {events}
            WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT user_id, event_type,
                   SUM(new_run) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS run_id
            FROM tagged
        ),
        runs AS (
            SELECT user_id, run_id, event_type, COUNT(*) AS run_len
            FROM numbered
            GROUP BY user_id, run_id, event_type
        )
        SELECT /*+ REPARTITION(1) */ event_type,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(SUM(run_len) AS BIGINT) AS n_events,
               CAST(MAX(run_len) AS BIGINT) AS max_run_len,
               ROUND((SUM(run_len) - COUNT(*))
                     / CAST(SUM(run_len) AS DOUBLE), 6) AS collapse_pct
        FROM runs
        GROUP BY event_type
        ORDER BY event_type
    """,
}

QUERIES = {
    "order_seasonality": order_seasonality,
    "supplier_lead_time_percentiles": supplier_lead_time_percentiles,
    "customer_rfm_segments": customer_rfm_segments,
    "order_interarrival_stats": order_interarrival_stats,
    "decayed_event_scores": decayed_event_scores,
    "hourly_heatmap": hourly_heatmap,
    "event_funnel": event_funnel,
    "daily_open_close": daily_open_close,
    "session_window_stats": session_window_stats,
    "user_retention_cohorts": user_retention_cohorts,
    "user_sessionization": user_sessionization,
    "user_running_balance": user_running_balance,
    **{name: sql_query(text) for name, text in _TEXTS.items()},
}

ORACLE_SQL = {
    "order_seasonality": f"""
        -- dow via Zeller's congruence (dow_sunday0_sql): identical
        -- numbering when replayed through spark.sql, unlike
        -- EXTRACT(dow) whose Sunday differs per dialect (COMPAT.md)
        SELECT CAST(EXTRACT(month FROM o_orderdate) AS INTEGER)
                   AS month_of_year,
               {dow_sunday0_sql("o_orderdate")} AS day_of_week,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        GROUP BY month_of_year, day_of_week
        ORDER BY month_of_year, day_of_week
    """,
    "supplier_lead_time_percentiles": """
        WITH lead AS (
            SELECT l_suppkey,
                   date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(l_shipdate AS DATE)) AS lead_days
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT s_suppkey, s_name,
               CAST(COUNT(*) AS BIGINT) AS n_shipments,
               ROUND(quantile_cont(lead_days, 0.5), 4) AS lead_p50,
               ROUND(quantile_cont(lead_days, 0.9), 4) AS lead_p90,
               ROUND(AVG(lead_days), 4) AS lead_mean
        FROM lead
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_suppkey, s_name
        ORDER BY s_suppkey
    """,
    "customer_rfm_segments": """
        WITH anchor AS (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS anchor_d FROM orders
        ),
        per_cust AS (
            SELECT o_custkey,
                   MAX(CAST(o_orderdate AS DATE)) AS last_d,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   ROUND(SUM(o_totalprice), 2) AS monetary
            FROM orders
            GROUP BY o_custkey
        ),
        scored AS (
            SELECT o_custkey, monetary,
                   NTILE(5) OVER (
                       ORDER BY date_diff('day', last_d, anchor_d) DESC,
                                o_custkey
                   ) AS r_score,
                   NTILE(5) OVER (
                       ORDER BY frequency ASC, o_custkey
                   ) AS f_score,
                   NTILE(5) OVER (
                       ORDER BY monetary ASC, o_custkey
                   ) AS m_score
            FROM per_cust CROSS JOIN anchor
        )
        SELECT CAST(r_score AS INTEGER) AS r_score,
               CAST(f_score AS INTEGER) AS f_score,
               CAST(m_score AS INTEGER) AS m_score,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               ROUND(SUM(monetary), 2) AS segment_revenue
        FROM scored
        GROUP BY r_score, f_score, m_score
        ORDER BY r_score, f_score, m_score
    """,
    "order_interarrival_stats": """
        WITH seq AS (
            SELECT o_custkey, o_orderdate,
                   LAG(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                   ) AS prev_dt
            FROM orders
        ),
        gaps AS (
            SELECT o_custkey,
                   CAST(date_diff('day', CAST(prev_dt AS DATE),
                                  CAST(o_orderdate AS DATE)) AS BIGINT)
                       AS gap_days
            FROM seq
            WHERE prev_dt IS NOT NULL
        )
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               ROUND(AVG(gap_days), 4) AS avg_gap_days,
               CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
               CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
        FROM gaps
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "decayed_event_scores": f"""
        WITH per_day AS (
            SELECT event_type,
                   CAST((SELECT MAX(CAST(ts AS DATE)) FROM events)
                        - CAST(ts AS DATE) AS BIGINT)
                       AS age_days,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
            FROM events
            GROUP BY event_type, age_days
        )
        SELECT event_type,
               ROUND(SUM(n * pow(0.5,
                   age_days / {float(DECAY_HALFLIFE_DAYS)})), 4)
                   AS decayed_count,
               ROUND(SUM(cents / 100.0 * pow(0.5,
                   age_days / {float(DECAY_HALFLIFE_DAYS)})), 4)
                   AS decayed_value
        FROM per_day
        GROUP BY event_type
        ORDER BY event_type
    """,
    "hourly_heatmap": """
        SELECT CAST(isodow(ts) - 1 AS INTEGER) AS wd,
               CAST(hour(ts) AS INTEGER) AS hh,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                          AS BIGINT) / (100.0 * COUNT(*)), 4) AS avg_value
        FROM events
        GROUP BY 1, 2
        ORDER BY wd, hh
    """,
    "session_window_stats": f"""
        WITH ordered AS (
            SELECT user_id, ts, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   LAG(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev
            FROM events
        ),
        flagged AS (
            SELECT *,
                   CASE WHEN prev IS NULL
                             OR epoch_us(ts) - epoch_us(prev)
                                >= {SESSION_GAP_MS} * 1000
                        THEN 1 ELSE 0 END AS ns
            FROM ordered
        ),
        sess AS (
            SELECT *,
                   CAST(SUM(ns) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS sid
            FROM flagged
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) / 100.0 AS session_value
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    "daily_open_close": """
        WITH bars AS (
            SELECT CAST(ts AS DATE) AS d, value,
                   FIRST_VALUE(value) OVER (
                       PARTITION BY CAST(ts AS DATE)
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING
                   ) AS open_value,
                   LAST_VALUE(value) OVER (
                       PARTITION BY CAST(ts AS DATE)
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING
                   ) AS close_value
            FROM events
        )
        SELECT CAST(d AS STRING) AS event_date,
               COUNT(*) AS n_events,
               ROUND(MIN(open_value), 2) AS open_value,
               ROUND(MIN(close_value), 2) AS close_value,
               ROUND(MIN(value), 2) AS low_value,
               ROUND(MAX(value), 2) AS high_value
        FROM bars
        GROUP BY d
        ORDER BY event_date
    """,
    "event_funnel": """
        WITH v AS (
            SELECT user_id, MIN(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        ),
        stages AS (
            SELECT 1 AS stage_no, 'view' AS stage,
                   CAST(COUNT(*) AS BIGINT) AS users FROM v
            UNION ALL
            SELECT 2, 'view>click', CAST(COUNT(*) AS BIGINT) FROM c
            UNION ALL
            SELECT 3, 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM p
        )
        SELECT stage_no, stage, users,
               ROUND(users * 1.0 / FIRST_VALUE(users)
                     OVER (ORDER BY stage_no), 4) AS pct_of_entry
        FROM stages
        ORDER BY stage_no
    """,
    "user_retention_cohorts": """
        WITH first_seen AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date
            FROM events GROUP BY user_id
        )
        SELECT weekofyear(first_date) AS cohort_week,
               CAST(FLOOR(date_diff('day', first_date, CAST(ts AS DATE))
                          / 7.0) AS INTEGER) AS weeks_since,
               COUNT(DISTINCT e.user_id) AS active_users
        FROM events e JOIN first_seen USING (user_id)
        GROUP BY 1, 2
        ORDER BY cohort_week, weeks_since
    """,
    "user_sessionization": f"""
        SELECT user_id, session_id,
               COUNT(*) AS n_events,
               SUM(cents) / 1e2 AS session_value
        FROM (
            SELECT user_id, cents,
                   CAST(SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM (
                SELECT user_id, ts, event_id, cents,
                       CASE WHEN prev_ts IS NULL
                                 OR epoch_ms(ts) - epoch_ms(prev_ts)
                                    > {SESSION_GAP_MS}
                            THEN 1 ELSE 0 END AS new_session
                FROM (
                    SELECT user_id, ts, event_id,
                           CAST(ROUND(value * 100) AS BIGINT) AS cents,
                           LAG(ts) OVER (
                               PARTITION BY user_id ORDER BY ts, event_id
                           ) AS prev_ts
                    FROM events
                )
            )
        )
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    **{name: oracle_text(text) for name, text in _TEXTS.items()},
}

ORACLE_SQL["user_running_balance"] = """
    SELECT event_id, user_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS balance_cents
    FROM events
    ORDER BY event_id
"""


def daily_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day time-weighted average value (TWAP) — the time-series
    aggregate where each observation counts for as long as it was the
    latest one, not once per row (the right daily summary when
    sampling is irregular, e.g. perf metrics reported on activity).

    Scale shape: one lead() window partitioned by day (bounded state)
    to get each observation's holding time, then a per-day aggregate.
    Weights are exact integer MICROseconds × integer cents (a day is
    8.6e10 µs; cents·µs products summed over a day stay well inside
    2^63), so the weighted sums are reduction-order independent; the
    final ratio is one double divide rounded to 4."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(F.col("d")).orderBy("ts", "event_id")
    held = (
        e.select(
            F.to_date("ts").alias("d"),
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .withColumn(
            "dt",
            # unix_MICROS, not unix_timestamp: second-truncating each
            # endpoint before subtracting rounds differently than
            # truncating the exact difference (DuckDB's epoch());
            # micros are exact in both engines
            (
                F.unix_micros(F.lead("ts").over(w))
                - F.unix_micros(F.col("ts"))
            ).cast("bigint"),
        )
        .filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    )
    return (
        held.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_holds"),
            F.sum(F.col("cents") * F.col("dt")).alias("wsum"),
            F.sum("dt").alias("tsum"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("event_date"),
            "n_holds",
            F.round(F.col("wsum") / F.col("tsum") / F.lit(100.0), 4).alias(
                "twap_value"
            ),
        )
        .orderBy("event_date")
    )


QUERIES["daily_value_twap"] = daily_value_twap

ORACLE_SQL["daily_value_twap"] = """
    WITH held AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CAST(epoch_us(LEAD(ts) OVER (
                   PARTITION BY CAST(ts AS DATE)
                   ORDER BY ts, event_id
               )) - epoch_us(ts) AS BIGINT) AS dt
        FROM events
    )
    SELECT strftime(d, '%Y-%m-%d') AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_holds,
           ROUND(SUM(cents * dt) / SUM(dt) / 100.0, 4) AS twap_value
    FROM held
    WHERE dt IS NOT NULL AND dt > 0
    GROUP BY d
    ORDER BY event_date
"""


#: Winsorization tail probabilities (clip below p05 / above p95).
WINSOR_LO = 0.05
WINSOR_HI = 0.95


def winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type value statistics: clip each event's value
    at the type's exact p05/p95 and report the clipped mean next to
    the raw mean — the outlier-robust feature normalization a
    training pipeline applies before numeric features enter a model.

    Determinism: thresholds are DISCRETE percentiles (the value at
    1-based rank ceil(p*n) in cents order) — actual int64 data
    values, not interpolated floats — so the clip comparisons and the
    clipped SUM are exact integer arithmetic in both engines; the
    two divisions happen once per output row.

    Plan (round-5 rewrite): EVERYTHING runs on the (event_type, cents,
    count) compaction — a map-side-combinable hash aggregate.  The
    per-type window sorts DISTINCT cents values with cumulative counts
    (the value domain,
    bounded while rows grow), the rank-k thresholds fall out of the
    cumulative interval containing k, and the clipped/raw sums weight
    each compacted value by its count — no task ever sorts or ranks a
    type's raw row set (the prior ROW_NUMBER form did, the same
    100×-scale killer ``order_quartiles`` had).  The rank expression
    keeps the original ``ceil(p · n)`` DOUBLE arithmetic so threshold
    selection is bit-identical to the oracle's.

    Kept as a builder: the portable text ranks each type's raw rows
    with ROW_NUMBER and COUNT(*) windows, so one task sorts every row
    of a type — the shape this plan replaced. At sf0.1, where a type's
    rows fit one task, the text took 0.85–0.89× the builder's build +
    execute with 2 shuffle exchanges against 5; the cost of the sort
    grows with the rows, the compaction's with the value domain.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    counts = e.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    wk = Window.partitionBy("event_type")
    cum = (
        counts.withColumn("hic", F.sum("cnt").over(w))
        .withColumn("loc", F.col("hic") - F.col("cnt"))
        # per-type total from the SAME partitioning as the cumulative
        # window (no extra exchange) instead of a groupBy + join-back
        # that re-ran the counts aggregate subtree
        .withColumn("n", F.sum("cnt").over(wk))
    )
    k_lo = F.ceil(F.lit(WINSOR_LO) * F.col("n"))
    k_hi = F.ceil(F.lit(WINSOR_HI) * F.col("n"))
    thresholds = F.broadcast(
        cum.groupBy("event_type")
        .agg(
            F.max(
                F.when(
                    (F.col("loc") < k_lo) & (k_lo <= F.col("hic")),
                    F.col("cents"),
                )
            ).alias("lo"),
            F.max(
                F.when(
                    (F.col("loc") < k_hi) & (k_hi <= F.col("hic")),
                    F.col("cents"),
                )
            ).alias("hi"),
        )
    )
    return (
        counts.join(thresholds, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("cnt") * F.col("cents"))
                / F.lit(100.0)
                / F.sum("cnt"),
                4,
            ).alias("raw_mean"),
            F.round(
                F.sum(
                    F.col("cnt")
                    * F.greatest(
                        F.least(F.col("cents"), F.col("hi")), F.col("lo")
                    )
                )
                / F.lit(100.0)
                / F.sum("cnt"),
                4,
            ).alias("winsor_mean"),
            F.min(F.round(F.col("lo") / F.lit(100.0), 2)).alias("p_lo"),
            F.min(F.round(F.col("hi") / F.lit(100.0), 2)).alias("p_hi"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


QUERIES["winsorized_event_stats"] = winsorized_event_stats

ORACLE_SQL["winsorized_event_stats"] = f"""
    WITH cents AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    ranked AS (
        SELECT event_type, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM cents
    ),
    thresholds AS (
        SELECT event_type, MIN(cents) AS lo, MAX(cents) AS hi
        FROM ranked
        WHERE rn = CAST(ceil({WINSOR_LO!r} * n) AS BIGINT)
           OR rn = CAST(ceil({WINSOR_HI!r} * n) AS BIGINT)
        GROUP BY event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(cents) / 100.0 / COUNT(*), 4) AS raw_mean,
           ROUND(SUM(GREATEST(LEAST(cents, hi), lo)) / 100.0
                 / COUNT(*), 4) AS winsor_mean,
           MIN(ROUND(lo / 100.0, 2)) AS p_lo,
           MIN(ROUND(hi / 100.0, 2)) AS p_hi
    FROM cents JOIN thresholds USING (event_type)
    GROUP BY event_type
    ORDER BY event_type
"""


def event_lateness_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit of the event stream: for each user's
    arrival sequence (event_id is ingestion order), how far behind
    the high-watermark does each event's event-time land? This is THE
    measurement that sizes a streaming watermark delay — pick it too
    small and the p-max late events here get dropped; too large and
    state lingers.

    lateness = running MAX(ts) over arrival order minus ts, per user
    (per-key window — no global sort; mirrors per-partition kafka
    ordering). All lateness values are exact integer microseconds;
    output is a per-type summary of count / late-count / max / mean
    lateness in seconds."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lat = e.select(
        "event_type",
        (
            F.max(F.unix_micros(F.col("ts"))).over(w)
            - F.unix_micros(F.col("ts"))
        ).alias("late_us"),
    )
    return (
        lat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum((F.col("late_us") > 0).cast("int"))
            .cast("bigint")
            .alias("n_late"),
            F.round(F.max("late_us") / F.lit(1000000.0), 3).alias(
                "max_late_s"
            ),
            F.round(
                F.sum("late_us") / F.lit(1000000.0) / F.count(F.lit(1)), 3
            ).alias("mean_late_s"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


QUERIES["event_lateness_stats"] = event_lateness_stats

ORACLE_SQL["event_lateness_stats"] = """
    WITH lat AS (
        SELECT event_type,
               MAX(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)
               - epoch_us(ts) AS late_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           ROUND(MAX(late_us) / 1000000.0, 3) AS max_late_s,
           ROUND(SUM(late_us) / 1000000.0 / COUNT(*), 3) AS mean_late_s
    FROM lat
    GROUP BY event_type
    ORDER BY event_type
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for each
    user's chronological event sequence, count a→b transitions and
    normalize per from-state — the behavioral-sequence summary that
    feeds session modeling, funnel anomaly detection, and synthetic
    user simulation.

    One per-user LAG window (per-key ordering state only — the
    kafka-partition shape, no global sort) emits transition pairs;
    a |types|² hash aggregate (map-side combinable, output bounded by
    the type alphabet, never the corpus) counts them. Counts are
    exact integers; the row-probability division happens once per
    output cell against a window SUM over the tiny from-state
    groups.

    Kept as a builder: the portable text's build + execute was
    1.07–1.12× the builder's at sf0.1 (medians of batches of 7, 7 and
    15 interleaved pairs), with the same plan shape."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )
    row_total = Window.partitionBy("from_type")
    return (
        pairs.withColumn(
            "p",
            F.round(
                F.col("n_transitions")
                / F.sum("n_transitions").over(row_total),
                4,
            ),
        )
        .repartition(1)
        .orderBy("from_type", "to_type")
    )


QUERIES["event_transition_matrix"] = event_transition_matrix

ORACLE_SQL["event_transition_matrix"] = """
    WITH pairs AS (
        SELECT from_type, event_type AS to_type
        FROM (
            SELECT event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS from_type
            FROM events
        )
        WHERE from_type IS NOT NULL
    ),
    counts AS (
        SELECT from_type, to_type,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM pairs GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_transitions,
           ROUND(n_transitions / CAST(SUM(n_transitions) OVER (
                     PARTITION BY from_type) AS DOUBLE), 4) AS p
    FROM counts
    ORDER BY from_type, to_type
"""


#: An event is "late" for restatement purposes when its event-time
#: lags the per-user arrival high-watermark by more than this many
#: seconds — the same watermark-delay dial a streaming deployment
#: sets (see :func:`event_lateness_stats` for how it is sized).
RESTATE_LATE_S = 3600


def late_data_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill impact report: for each event date, the daily total a
    stream with a ``RESTATE_LATE_S`` watermark would have PUBLISHED
    (late events dropped) versus the FINAL batch total, and the
    restatement delta — the audit that tells you which published
    partitions a nightly backfill must rewrite and by how much.

    The lateness flag is the per-user arrival-order window from the
    lateness audit (per-key state, no global sort); both daily
    aggregates come out of ONE pass over the flagged rows (the prompt
    total is a conditional sum, not a second scan). Cents are exact
    integers; deltas are integer differences."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        F.to_date("ts").alias("event_date"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (
            F.max(F.unix_micros(F.col("ts"))).over(w)
            - F.unix_micros(F.col("ts"))
            > RESTATE_LATE_S * 1000000
        )
        .cast("int")
        .alias("is_late"),
    )
    return (
        flagged.groupBy("event_date")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_late").cast("bigint").alias("n_late"),
            F.round(F.sum("cents") / F.lit(100.0), 2).alias("final_total"),
            F.round(
                F.sum(
                    F.when(F.col("is_late") == 0, F.col("cents")).otherwise(0)
                )
                / F.lit(100.0),
                2,
            ).alias("prompt_total"),
            F.round(
                F.sum(
                    F.when(F.col("is_late") == 1, F.col("cents")).otherwise(0)
                )
                / F.lit(100.0),
                2,
            ).alias("restated_delta"),
        )
        .withColumn(
            "needs_restatement", (F.col("n_late") > 0).cast("int")
        )
        .select(
            F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
            "n_events",
            "n_late",
            "final_total",
            "prompt_total",
            "restated_delta",
            "needs_restatement",
        )
        .orderBy("event_date")
    )


QUERIES["late_data_restatement"] = late_data_restatement

ORACLE_SQL["late_data_restatement"] = f"""
    WITH flagged AS (
        SELECT CAST(ts AS DATE) AS event_date,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CASE WHEN MAX(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - epoch_us(ts) > {RESTATE_LATE_S * 1000000}
                    THEN 1 ELSE 0 END AS is_late
        FROM events
    )
    SELECT strftime(event_date, '%Y-%m-%d') AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_late) AS BIGINT) AS n_late,
           ROUND(SUM(cents) / 100.0, 2) AS final_total,
           ROUND(SUM(CASE WHEN is_late = 0 THEN cents ELSE 0 END)
                 / 100.0, 2) AS prompt_total,
           ROUND(SUM(CASE WHEN is_late = 1 THEN cents ELSE 0 END)
                 / 100.0, 2) AS restated_delta,
           CAST(SUM(is_late) > 0 AS INTEGER) AS needs_restatement
    FROM flagged
    GROUP BY event_date
    ORDER BY event_date
"""


def event_type_dow_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence cells for event_type × ISO day-of-week — the
    seasonality-vs-type screen ("are purchases weekday-shaped?"): per
    cell the observed count, the independence-expected count, and the
    cell's χ² contribution (their sum is the statistic; dof =
    (types−1)·(dows−1)).

    Scale shape: one (type, dow) hash aggregate over the stream, two
    tiny marginal aggregates broadcast back onto the |types|×|dows|
    grid (zero-observation cells INCLUDED via the grid left join —
    dropping them understates χ²). Expected counts are ratios of
    exact integers; χ² terms round to 6 so engine libm order can't
    surface. Weekday convention: ISO 1=Monday…7=Sunday in both
    engines (Spark ``weekday()+1``, DuckDB ``isodow``).
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type", (F.weekday("ts") + 1).cast("int").alias("dow")
    )
    # ONE stream scan: the (type, dow) cell counts. All three
    # marginals fold from this |types|×7 frame — re-aggregating the
    # raw stream per marginal would cost 3 more full scans for
    # numbers the cells already contain.
    obs = base.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    row_m = obs.groupBy("event_type").agg(
        F.sum("n_obs").cast("bigint").alias("row_tot")
    )
    col_m = obs.groupBy("dow").agg(
        F.sum("n_obs").cast("bigint").alias("col_tot")
    )
    tot = F.broadcast(
        obs.agg(F.sum("n_obs").cast("bigint").alias("n_tot"))
    )
    grid = row_m.crossJoin(F.broadcast(col_m)).crossJoin(tot)
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n_tot").cast("double")
    return (
        grid.join(obs, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint").alias(
                "n_obs"
            ),
            F.round(exp, 6).alias("n_exp"),
            F.round(
                F.pow(
                    F.coalesce(F.col("n_obs"), F.lit(0)).cast("double")
                    - exp,
                    2,
                )
                / exp,
                6,
            ).alias("chi2_term"),
        )
        .repartition(1)
        .orderBy("event_type", "dow")
    )


QUERIES["event_type_dow_chisq"] = event_type_dow_chisq

ORACLE_SQL["event_type_dow_chisq"] = """
    WITH base AS (
        SELECT event_type, CAST(isodow(ts) AS INTEGER) AS dow FROM events
    ),
    obs AS (
        SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM base GROUP BY 1, 2
    ),
    row_m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS row_tot
        FROM base GROUP BY 1
    ),
    col_m AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS col_tot
        FROM base GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM base)
    SELECT r.event_type,
           c.dow,
           COALESCE(o.n_obs, 0) AS n_obs,
           ROUND(r.row_tot * c.col_tot / CAST(t.n_tot AS DOUBLE), 6)
               AS n_exp,
           ROUND(POW(COALESCE(o.n_obs, 0)
                     - r.row_tot * c.col_tot / CAST(t.n_tot AS DOUBLE), 2)
                 / (r.row_tot * c.col_tot / CAST(t.n_tot AS DOUBLE)), 6)
               AS chi2_term
    FROM row_m r CROSS JOIN col_m c CROSS JOIN tot t
    LEFT JOIN obs o ON o.event_type = r.event_type AND o.dow = c.dow
    ORDER BY r.event_type, c.dow
"""


#: Bin count for the PSI drift screen (baseline deciles).
PSI_BINS = 10


def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index cells for the event value
    distribution, second half of the stream vs the first (split at
    the median timestamp) — the standard drift screen a feature
    pipeline runs before retraining (PSI < 0.1 stable, > 0.25 act).

    Bins are the BASELINE period's deciles (exact interpolated
    percentiles on integer cents, the cross-engine-exact form used
    throughout); both periods then bucket against the same broadcast
    cut array, Laplace-smoothed shares keep empty bins finite, and
    each cell reports ``(p_cur − p_base)·ln(p_cur/p_base)`` whose sum
    is the PSI.

    Scale shape: two full-stream hash aggregates (period × bin, 20
    groups) against a 1-row broadcast of cuts + split point; the
    exact decile pass is the same sort-based percentile
    ``value_percentiles`` already pays. Nothing is per-key; rounded
    to 6 so libm's ln can't surface reduction order.
    """
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    ev = e.select(F.unix_millis("ts").alias("ms"), cents.alias("cents"))
    qs = ", ".join(
        str((i + 1) / PSI_BINS) for i in range(PSI_BINS - 1)
    )
    anchors = F.broadcast(
        ev.agg(F.expr("percentile(ms, 0.5D)").alias("split_ms")).crossJoin(
            ev.alias("b")
        )
        .filter(F.col("ms") <= F.col("split_ms"))
        .agg(
            F.first(F.col("split_ms")).alias("split_ms"),
            F.expr(f"percentile(cents, array({qs}))").alias("cuts"),
        )
    )
    # ONE binning scan of the stream; everything downstream — totals,
    # the base/cur pivot, smoothing — folds from the ≤20-row (period,
    # bin) aggregate. (The previous
    # filter/filter/self-join form re-derived the whole lineage per
    # branch: 17 parquet scans for a 10-row result.)
    binned = (
        ev.crossJoin(anchors)
        .select(
            F.when(F.col("ms") <= F.col("split_ms"), F.lit("base"))
            .otherwise(F.lit("cur"))
            .alias("period"),
            F.expr("size(filter(cuts, c -> c < cents))").alias("bin_id"),
        )
        .groupBy("period", "bin_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    is_base = F.col("period") == "base"
    cells = binned.groupBy("bin_id").agg(
        F.sum(F.when(is_base, F.col("n"))).cast("bigint").alias("nb"),
        F.sum(F.when(~is_base, F.col("n"))).cast("bigint").alias("nc"),
    )
    tots = F.broadcast(
        binned.groupBy().agg(
            F.sum(F.when(is_base, F.col("n"))).cast("bigint").alias("tb"),
            F.sum(F.when(~is_base, F.col("n"))).cast("bigint").alias("tc"),
        )
    )
    nb0 = F.coalesce(F.col("nb"), F.lit(0))
    nc0 = F.coalesce(F.col("nc"), F.lit(0))
    p_base = (nb0 + 1) / (F.col("tb") + PSI_BINS).cast("double")
    p_cur = (nc0 + 1) / (F.col("tc") + PSI_BINS).cast("double")
    return (
        spark.range(PSI_BINS)
        .select(F.col("id").cast("int").alias("bin_id"))
        .join(F.broadcast(cells), "bin_id", "left")
        .crossJoin(tots)
        # degenerate-input parity: if a period is EMPTY (e.g. every
        # event shares one timestamp, so nothing lands after the
        # median split) the oracle's per-period tots/grid inner join
        # emits zero rows; tb/tc are NULL here in exactly that case,
        # so this filter makes both engines agree on zero rows
        # instead of Spark emitting NULL psi_terms.
        .filter(F.col("tb").isNotNull() & F.col("tc").isNotNull())
        .select(
            "bin_id",
            nb0.cast("bigint").alias("n_base"),
            nc0.cast("bigint").alias("n_cur"),
            F.round(
                (p_cur - p_base) * F.log(p_cur / p_base), 6
            ).alias("psi_term"),
        )
        .repartition(1)
        .orderBy("bin_id")
    )


QUERIES["value_drift_psi"] = value_drift_psi

ORACLE_SQL["value_drift_psi"] = f"""
    WITH ev AS (
        SELECT epoch_ms(ts) AS ms,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    split AS (SELECT quantile_cont(ms, 0.5) AS split_ms FROM ev),
    cuts AS (
        SELECT quantile_cont(cents,
                   [{', '.join(str((i + 1) / 10) for i in range(9))}])
               AS cuts
        FROM ev, split WHERE ms <= split_ms
    ),
    binned AS (
        SELECT CASE WHEN ms <= split_ms THEN 'base' ELSE 'cur' END
                   AS period,
               CAST(len(list_filter(cuts, c -> c < cents)) AS INTEGER)
                   AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ev, split, cuts
        GROUP BY 1, 2
    ),
    tots AS (
        SELECT period, CAST(SUM(n) AS BIGINT) AS n_tot
        FROM binned GROUP BY period
    ),
    grid AS (
        SELECT CAST(gs AS INTEGER) AS bin_id, t.period, t.n_tot
        FROM UNNEST(generate_series(0, {PSI_BINS - 1})) AS g(gs)
        CROSS JOIN tots t
    ),
    sm AS (
        SELECT g.bin_id, g.period,
               COALESCE(b.n, 0) AS n,
               (COALESCE(b.n, 0) + 1)
                   / CAST(g.n_tot + {PSI_BINS} AS DOUBLE) AS p
        FROM grid g
        LEFT JOIN binned b
          ON b.period = g.period AND b.bin_id = g.bin_id
    )
    SELECT b.bin_id,
           b.n AS n_base,
           c.n AS n_cur,
           ROUND((c.p - b.p) * ln(c.p / b.p), 6) AS psi_term
    FROM (SELECT * FROM sm WHERE period = 'base') b
    JOIN (SELECT * FROM sm WHERE period = 'cur') c ON b.bin_id = c.bin_id
    ORDER BY b.bin_id
"""


#: Path length and report size for the session path miner.
PATH_TOP = 20


def session_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step event-type paths within sessions — the clickstream
    sequence-mining table ("view>click>purchase dominates converting
    sessions") behind funnel design. A path is three CONSECUTIVE
    events inside one 30-minute-gap session.

    Scale shape: one sessionization window + two LEADs over the same
    (user, ts, event_id) order — a single shuffle on user_id serves
    all three; the path aggregate is map-side combinable and the
    top-K compiles to ``TakeOrderedAndProject``. Ordering ties break
    on (count DESC, path) so both engines cut the same top set;
    ``n_users`` counts distinct users whose sessions contain the
    path.
    """
    e = load_table(spark, sf_dir, "events")
    sess = with_session_ids(e)
    sw = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    paths = (
        sess.withColumn("t1", F.lead("event_type", 1).over(sw))
        .withColumn("t2", F.lead("event_type", 2).over(sw))
        # all three steps must be non-null: the oracle's `||` concat
        # propagates NULL (row dropped); concat_ws would silently SKIP
        # a null leading type and emit a phantom 2-step path
        .filter(
            F.col("event_type").isNotNull()
            & F.col("t1").isNotNull()
            & F.col("t2").isNotNull()
        )
        .select(
            "user_id",
            F.concat_ws(">", "event_type", "t1", "t2").alias("path"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(PATH_TOP)
    )


QUERIES["session_path_mining"] = session_path_mining

ORACLE_SQL["session_path_mining"] = f"""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER uw IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER uw)
                            > {SESSION_GAP_MS}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM tagged
    ),
    paths AS (
        SELECT user_id,
               event_type || '>' || lead(event_type, 1) OVER sw
                          || '>' || lead(event_type, 2) OVER sw AS path
        FROM sess
        WINDOW sw AS (PARTITION BY user_id, session_id
                      ORDER BY ts, event_id)
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths
    WHERE path IS NOT NULL
    GROUP BY path
    ORDER BY n_occurrences DESC, path
    LIMIT {PATH_TOP}
"""


def signup_purchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier-style time-to-conversion curve: for each whole-day
    offset k since a user's first signup, the number still
    unconverted ("at risk"), the conversions AT that offset, and the
    product-limit survival estimate S(k) = Π_{j≤k} (1 − d_j / n_j).
    Users with no purchase are right-censored at the last observed
    corpus day — the survival table a growth team reads conversion
    half-life from.

    Scale shape: two per-user aggregates (first signup, first
    purchase after it) co-partitioned on user_id, then a ≤|days|-row
    offset table; the cumulative product runs as exp(Σ ln(·)) over
    the DAILY aggregate via a window, never the raw stream. Ratios
    are exact integers; the 6-dp round absorbs libm exp/ln jitter.
    """
    e = load_table(spark, sf_dir, "events")
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d0"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("pd")
    )
    first_conv = (
        signups.join(purchases, "user_id")
        .filter(F.col("pd") >= F.col("d0"))
        .groupBy("user_id")
        .agg(F.min(F.datediff("pd", "d0")).cast("int").alias("k"))
    )
    horizon = F.broadcast(
        e.agg(F.max(F.to_date("ts")).alias("dmax"))
    )
    cohort = signups.crossJoin(horizon).select(
        "user_id",
        F.datediff("dmax", "d0").cast("int").alias("censor_k"),
    )
    per_user = cohort.join(first_conv, "user_id", "left").select(
        "user_id",
        F.coalesce(F.col("k"), F.col("censor_k")).alias("t"),
        F.col("k").isNotNull().cast("int").alias("converted"),
    )
    daily = per_user.groupBy(F.col("t").alias("k_day")).agg(
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.count(F.lit(1)).cast("bigint").alias("n_ending"),
    )
    w = Window.orderBy("k_day").rowsBetween(Window.unboundedPreceding, 0)
    # at-risk at offset k = users whose observation ends at ≥ k: a
    # suffix window sum over the SAME tiny daily table — deriving it
    # from a separate COUNT(*) re-executes the whole per_user subtree
    # (two corpus scans + join + aggregates) for one number, and
    # n_users − Σ_{j<k} n_ending_j ≡ Σ_{j≥k} n_ending_j exactly
    # (integer arithmetic, same value both ways)
    wafter = Window.orderBy("k_day").rowsBetween(
        0, Window.unboundedFollowing
    )
    return (
        daily.withColumn(
            "n_at_risk",
            F.sum("n_ending").over(wafter).cast("bigint"),
        )
        .withColumn(
            "_ratio",
            (F.col("n_at_risk") - F.col("n_converted"))
            / F.col("n_at_risk").cast("double"),
        )
        # a day where everyone remaining converts drives S to exactly 0;
        # ln(0) must never evaluate (DuckDB raises), so the zero ratio
        # is CASE-skipped inside the sum and flagged outside it
        .withColumn(
            "_zero_seen",
            F.max((F.col("_ratio") == 0).cast("int")).over(w),
        )
        .withColumn(
            "survival",
            F.when(F.col("_zero_seen") == 1, F.lit(0.0)).otherwise(
                F.round(
                    F.exp(
                        F.sum(
                            F.when(
                                F.col("_ratio") > 0, F.log("_ratio")
                            )
                        ).over(w)
                    ),
                    6,
                )
            ),
        )
        .select("k_day", "n_at_risk", "n_converted", "survival")
        .orderBy("k_day")
    )


QUERIES["signup_purchase_survival"] = signup_purchase_survival

ORACLE_SQL["signup_purchase_survival"] = """
    WITH signups AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    first_conv AS (
        SELECT s.user_id,
               CAST(MIN(datediff('day', s.d0, CAST(e.ts AS DATE)))
                    AS INTEGER) AS k
        FROM signups s
        JOIN events e
          ON e.user_id = s.user_id AND e.event_type = 'purchase'
         AND CAST(e.ts AS DATE) >= s.d0
        GROUP BY s.user_id
    ),
    horizon AS (SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events),
    per_user AS (
        SELECT s.user_id,
               COALESCE(f.k, CAST(datediff('day', s.d0, h.dmax)
                                  AS INTEGER)) AS t,
               CASE WHEN f.k IS NOT NULL THEN 1 ELSE 0 END AS converted
        FROM signups s CROSS JOIN horizon h
        LEFT JOIN first_conv f ON f.user_id = s.user_id
    ),
    daily AS (
        SELECT t AS k_day,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               CAST(COUNT(*) AS BIGINT) AS n_ending
        FROM per_user GROUP BY t
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM per_user),
    risk AS (
        SELECT k_day, n_converted,
               CAST(n_users - COALESCE(SUM(n_ending) OVER (
                        ORDER BY k_day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_at_risk
        FROM daily, tot
    ),
    ratio AS (
        SELECT k_day, n_at_risk, n_converted,
               (n_at_risk - n_converted) / CAST(n_at_risk AS DOUBLE) AS r
        FROM risk
    )
    SELECT k_day, n_at_risk, n_converted,
           CASE WHEN MAX(CASE WHEN r = 0 THEN 1 ELSE 0 END)
                     OVER kw = 1
                THEN 0.0
                ELSE ROUND(EXP(SUM(CASE WHEN r > 0 THEN LN(r) END)
                               OVER kw), 6) END AS survival
    FROM ratio
    WINDOW kw AS (ORDER BY k_day ROWS UNBOUNDED PRECEDING)
    ORDER BY k_day
"""


def session_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring
    in the SAME session — the association screen behind "clicks and
    purchases travel together, errors repel signups": per unordered
    type pair, the co-session count and
    ``PMI = ln(P(a,b) / (P(a)·P(b)))`` over sessions.

    Scale shape: the sessionizer's one user-shuffle, a distinct
    (session, type) compaction (≤ |types| rows per session), and a
    session-key self-join that is co-partitioned with the compaction
    (AQE reuses the exchange) — pair output is bounded by
    sessions × C(|types|,2), never events². PMI is ln of a ratio of
    exact integer counts, rounded to 6.
    """
    e = load_table(spark, sf_dir, "events")
    st = (
        with_session_ids(e)
        .select("user_id", "session_id", "event_type")
        .distinct()
    )
    n_sessions = F.broadcast(
        st.select("user_id", "session_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sess"))
    )
    per_type = st.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_type")
    )
    a, b = st.alias("a"), st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_id") == F.col("b.session_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    pa = F.broadcast(
        per_type.select(
            F.col("event_type").alias("type_a"),
            F.col("n_type").alias("n_a"),
        )
    )
    pb = F.broadcast(
        per_type.select(
            F.col("event_type").alias("type_b"),
            F.col("n_type").alias("n_b"),
        )
    )
    return (
        pairs.join(pa, "type_a")
        .join(pb, "type_b")
        .crossJoin(n_sessions)
        .select(
            "type_a",
            "type_b",
            "n_both",
            # double-first products: BIGINT n_a*n_b wraps past ~3e9
            # sessions in non-ANSI Spark while the oracle errors —
            # same overflow discipline as daily_value_autocorrelation
            F.round(
                F.log(
                    (F.col("n_both").cast("double") * F.col("n_sess"))
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
            F.round(F.col("n_both") / F.col("n_sess").cast("double"), 6)
            .alias("support"),
        )
        .repartition(1)
        .orderBy("type_a", "type_b")
    )


QUERIES["session_type_pmi"] = session_type_pmi

ORACLE_SQL["session_type_pmi"] = f"""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER uw IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER uw)
                            > {SESSION_GAP_MS}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    st AS (
        SELECT DISTINCT user_id, event_type,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM tagged
    ),
    ns AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sess
        FROM (SELECT DISTINCT user_id, session_id FROM st)
    ),
    per_type AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
        FROM st GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM st a
        JOIN st b
          ON a.user_id = b.user_id AND a.session_id = b.session_id
         AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ROUND(LN((CAST(p.n_both AS DOUBLE) * n.n_sess)
                    / (CAST(ta.n_type AS DOUBLE) * tb.n_type)), 6) AS pmi,
           ROUND(p.n_both / CAST(n.n_sess AS DOUBLE), 6) AS support
    FROM pairs p
    JOIN per_type ta ON ta.event_type = p.type_a
    JOIN per_type tb ON tb.event_type = p.type_b
    CROSS JOIN ns n
    ORDER BY p.type_a, p.type_b
"""


#: Max lag (days) for the daily-series autocorrelation diagnostic.
ACF_MAX_LAG = 7


def daily_value_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily total-value series — the
    seasonality/persistence diagnostic read before forecasting
    (lag-7 spike ⇒ weekly cycle; fast decay ⇒ noise). Pearson r per
    lag over the (x_t, x_{t+k}) pairs of the DAILY series.

    Scale shape: the stream collapses to ≤|days| rows first; each lag
    is then a self-join of that tiny aggregate on d = d + k (k
    broadcast from a ≤7-row lag spine) — nothing beyond the one
    stream scan touches raw events. Moments are sums of products of
    exact integer cents (≪ 2^53 at any realistic day count), so r is
    bit-identical across engines; rounded to 6 anyway.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(F.to_date("ts").alias("d"), _day_cents())
        .groupBy("d")
        .agg(F.sum("cents").cast("bigint").alias("x"))
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(
            b,
            F.col("b.d") == F.expr("date_add(a.d, lag)"),
        )
        .select(
            "lag",
            F.col("a.x").alias("x"),
            F.col("b.x").alias("y"),
        )
    )
    # products go double-first (matching the oracle's CAST(x AS
    # DOUBLE) * y): day-cents ~1e13 at 100 TB would overflow a
    # BIGINT product long before losing double precision
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum(xd), F.sum(yd)
    sxx = F.sum(xd * F.col("x"))
    syy = F.sum(yd * F.col("y"))
    sxy = F.sum(xd * F.col("y"))
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            # degenerate lag (one pair, or a constant series) has zero
            # variance: Spark's non-ANSI divide would yield NULL while
            # DuckDB yields inf/NaN — both sides CASE it to NULL
            # explicitly so the engines agree
            F.when(
                (var_x > 0) & (var_y > 0),
                F.round((n * sxy - sx * sy) / F.sqrt(var_x * var_y), 6),
            ).alias("acf"),
        )
        .repartition(1)
        .orderBy("lag")
    )


def _day_cents() -> F.Column:
    return F.round(F.col("value") * 100).cast("bigint").alias("cents")


QUERIES["daily_value_autocorrelation"] = daily_value_autocorrelation

ORACLE_SQL["daily_value_autocorrelation"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM events GROUP BY 1
    ),
    lags AS (
        SELECT CAST(gs AS INTEGER) AS lag
        FROM UNNEST(generate_series(1, {ACF_MAX_LAG})) AS t(gs)
    ),
    pairs AS (
        SELECT l.lag, a.x AS x, b.x AS y
        FROM lags l
        CROSS JOIN daily a
        JOIN daily b ON b.d = a.d + CAST(l.lag || ' days' AS INTERVAL)
    ),
    moments AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               COUNT(*) * SUM(CAST(x AS DOUBLE) * y)
                   - SUM(CAST(x AS DOUBLE)) * SUM(CAST(y AS DOUBLE))
                   AS cov_n,
               COUNT(*) * SUM(CAST(x AS DOUBLE) * x)
                   - SUM(CAST(x AS DOUBLE)) * SUM(CAST(x AS DOUBLE))
                   AS var_x,
               COUNT(*) * SUM(CAST(y AS DOUBLE) * y)
                   - SUM(CAST(y AS DOUBLE)) * SUM(CAST(y AS DOUBLE))
                   AS var_y
        FROM pairs
        GROUP BY lag
    )
    SELECT lag, n_pairs,
           CASE WHEN var_x > 0 AND var_y > 0
                THEN ROUND(cov_n / SQRT(var_x * var_y), 6)
                ELSE NULL END AS acf
    FROM moments
    ORDER BY lag
"""


def event_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical mix drift: PSI cells over the EVENT-TYPE
    composition of the stream, second half vs first (median-timestamp
    split) — the companion of ``value_drift_psi``: that one asks "did
    the value DISTRIBUTION move", this one asks "did the traffic MIX
    move" (bot surges, instrumentation changes, a product launch all
    show up here first).

    One (period, type) hash aggregate over the stream (the split
    point broadcast), Laplace-smoothed shares, per-type
    ``(p_cur − p_base)·ln(p_cur/p_base)`` — every cell ≥ 0 and their
    sum is the PSI. Exact integer counts inside the ln; rounded 6.
    """
    e = load_table(spark, sf_dir, "events")
    med = F.broadcast(
        e.agg(F.expr("percentile(unix_millis(ts), 0.5D)").alias("m"))
    )
    binned = (
        e.crossJoin(med)
        .select(
            F.when(F.unix_millis("ts") <= F.col("m"), F.lit("base"))
            .otherwise(F.lit("cur"))
            .alias("period"),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("period") == "base", 1).otherwise(0))
            .cast("bigint")
            .alias("n_base"),
            F.sum(F.when(F.col("period") == "cur", 1).otherwise(0))
            .cast("bigint")
            .alias("n_cur"),
        )
    )
    k = F.broadcast(
        binned.agg(
            F.sum("n_base").cast("bigint").alias("tb"),
            F.sum("n_cur").cast("bigint").alias("tc"),
            F.count(F.lit(1)).cast("int").alias("k"),
        )
    )
    p_base = (F.col("n_base") + 1) / (F.col("tb") + F.col("k")).cast(
        "double"
    )
    p_cur = (F.col("n_cur") + 1) / (F.col("tc") + F.col("k")).cast("double")
    return (
        binned.crossJoin(k)
        .select(
            "event_type",
            "n_base",
            "n_cur",
            F.round((p_cur - p_base) * F.log(p_cur / p_base), 6).alias(
                "psi_term"
            ),
        )
        .repartition(1)
        .orderBy("event_type")
    )


QUERIES["event_mix_drift"] = event_mix_drift

ORACLE_SQL["event_mix_drift"] = """
    WITH med AS (
        SELECT quantile_cont(epoch_ms(ts), 0.5) AS m FROM events
    ),
    binned AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN epoch_ms(ts) <= m THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_base,
               CAST(SUM(CASE WHEN epoch_ms(ts) > m THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cur
        FROM events, med
        GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
               CAST(SUM(n_cur) AS BIGINT) AS tc,
               CAST(COUNT(*) AS INTEGER) AS k
        FROM binned
    )
    SELECT event_type, n_base, n_cur,
           ROUND(((n_cur + 1) / CAST(tc + k AS DOUBLE)
                  - (n_base + 1) / CAST(tb + k AS DOUBLE))
                 * LN(((n_cur + 1) / CAST(tc + k AS DOUBLE))
                      / ((n_base + 1) / CAST(tb + k AS DOUBLE))), 6)
               AS psi_term
    FROM binned, tot
    ORDER BY event_type
"""
