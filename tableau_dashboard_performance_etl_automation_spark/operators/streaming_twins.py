"""Converged per-key state over the whole events table: running
profiles, first purchases, closed sessions and click attribution.

Each query is the final state an incremental (per-batch) pipeline
reaches once every event has arrived, computed in one batch pass — the
state the reference's nightly cron re-run rebuilds from scratch
(tabjolt_email.py:351-359). Every result is independent of arrival
order, so the oracle replays it as plain SQL.

Scale shapes are hash aggregates or user-keyed joins over the events
table — one shuffle on the group or join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators.analytics import (
    SESSION_GAP_MS as _SESSION_GAP_MS,
)
from tableau_dashboard_performance_etl_automation_spark.operators.asof import (
    CLICK_WINDOW_MIN,
    purchase_click_pairs,
)


def running_profile_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type running profile over all events: event count,
    total value and max value. ``total_value`` sums integer cents so
    the driver's value hash is order-independent in both engines
    (SUM(DOUBLE) is not)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                / F.lit(100.0)
            ).alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


def user_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First purchase date per user: MIN(purchase date) — the
    acquisition assignment behind ``new_users_daily``, at user grain.
    MIN is order-insensitive, so a running minimum over any arrival
    order ends at this result."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).cast("date").alias("first_date"))
        .orderBy("user_id")
    )


QUERIES = {
    "running_profile_final": running_profile_final,
    "user_first_purchase": user_first_purchase,
}

ORACLE_SQL = {
    "running_profile_final": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0
                   AS total_value,
               MAX(value) AS max_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "user_first_purchase": """
        SELECT user_id,
               CAST(MIN(CAST(ts AS DATE)) AS DATE) AS first_date
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY user_id
        ORDER BY user_id
    """,
}


def closed_sessions_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every CLOSED session of the gap-based sessionizer
    (``analytics.with_session_ids``): all sessions except each user's
    last one, which a later event could still extend, with per-user
    1-based session ids, event counts, and first→last-event duration.

    One sessionization window (shuffle on user_id) + one per-session
    aggregate + an anti-join on each user's max session id — all
    partitioned on user_id, so nothing reshuffles."""
    from tableau_dashboard_performance_etl_automation_spark.operators.analytics import (
        with_session_ids,
    )

    e = load_table(spark, sf_dir, "events")
    sess = (
        with_session_ids(e)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts")))
            .cast("bigint")
            .alias("duration_ms"),
        )
    )
    last = sess.groupBy("user_id").agg(
        F.max("session_id").alias("last_sid")
    )
    return (
        sess.join(last, "user_id")
        .filter(F.col("session_id") != F.col("last_sid"))
        .select("user_id", "session_id", "n_events", "duration_ms")
        .orderBy("user_id", "session_id")
    )


QUERIES["closed_sessions_final"] = closed_sessions_final


ORACLE_SQL["closed_sessions_final"] = f"""
    WITH tagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER uw IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER uw)
                            > {_SESSION_GAP_MS}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess_ev AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM tagged
    ),
    sess AS (
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT)
                   AS duration_ms
        FROM sess_ev GROUP BY user_id, session_id
    ),
    last AS (
        SELECT user_id, MAX(session_id) AS last_sid
        FROM sess GROUP BY user_id
    )
    SELECT s.user_id, s.session_id, s.n_events, s.duration_ms
    FROM sess s JOIN last l USING (user_id)
    WHERE s.session_id <> l.last_sid
    ORDER BY s.user_id, s.session_id
"""


def purchase_click_attribution_final(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Click attribution as an interval join: every (purchase, click)
    pair for the same user with the click in the
    ``CLICK_WINDOW_MIN``-minute window ending at the purchase.

    Scale shape: :func:`asof.purchase_click_pairs`, an equi-join on
    ``user_id`` with the time-range predicate applied inside the join —
    both sides shuffle once on the user key and each user's pairs
    materialize within one task; the range never becomes a cross join.
    """
    return _attribution(purchase_click_pairs(spark, sf_dir))


def _attribution(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.unix_millis("purchase_ts").alias("purchase_ms"),
        F.unix_millis("click_ts").alias("click_ms"),
    ).orderBy("purchase_id", "click_id")


QUERIES["purchase_click_attribution_final"] = (
    purchase_click_attribution_final
)

ORACLE_SQL["purchase_click_attribution_final"] = f"""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           c.event_id AS click_id,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ms,
           CAST(epoch_ms(c.ts) AS BIGINT) AS click_ms
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL {CLICK_WINDOW_MIN} MINUTES
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id, click_id
"""


def purchase_click_outer_final(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Click attribution as a LEFT OUTER interval join: every
    purchase with its window clicks, or one NULL-padded row when the
    user had no click in the ``CLICK_WINDOW_MIN`` window — the
    unmatched purchases are the "organic conversion" rows an
    attribution pipeline reports separately.

    Scale shape identical to the inner join
    (:func:`purchase_click_attribution_final`: one shuffle on the user
    key; range predicate inside the join); the outer rows cost
    nothing extra — they are the probe rows that found no build
    match."""
    return _attribution(purchase_click_pairs(spark, sf_dir, "left"))


QUERIES["purchase_click_outer_final"] = purchase_click_outer_final

ORACLE_SQL["purchase_click_outer_final"] = f"""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           c.event_id AS click_id,
           CAST(epoch_ms(p.ts) AS BIGINT) AS purchase_ms,
           CAST(epoch_ms(c.ts) AS BIGINT) AS click_ms
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT OUTER JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL {CLICK_WINDOW_MIN} MINUTES
    ORDER BY purchase_id, click_id
"""
