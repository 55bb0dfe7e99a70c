"""The reference's nine analytic queries, re-expressed Spark-first.

The reference embeds all of its query capability as nine Vertica SQL
strings (tabjolt_email.py:374-387 and :86; inventory in SURVEY.md
§2.7). Here each becomes a declarative DataFrame builder over the
driver's ``events`` table, with the reference's schema mapped as:

- ``response_message``  → ``event_type``   (join/group key)
- ``elapsed_time_ms``   → ``value``        (floor-int "millis")
- ``timestamp_ms``      → epoch-millis string derived from ``ts``
  (preserves the validate-string-then-cast discipline of
  tabjolt_email.py:383: ``REGEXP_LIKE(timestamp_ms,'^[0-9]+$')`` +
  ``TO_TIMESTAMP(CAST(… AS BIGINT)/1000)``)
- ``CURRENT_DATE``      → the max event date ("anchor date"), so the
  queries are deterministic for the oracle harness instead of
  depending on wall-clock time.
- ``ILIKE '%site%' / NOT ILIKE '%null%'`` → ``event_type ILIKE '%e%'
  AND NOT ILIKE '%click%'`` (same operator shapes on this corpus).

Every builder takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names/types exactly match its DuckDB oracle twin in
``ORACLE_SQL`` (same module, kept adjacent so they evolve together).

Eight of the nine are projections or global aggregates over two shared
frames, built from one ``events`` read by ``report_frames``:

- the **daily frame** (``_daily``): one row per event date with the
  day's avg/max/min and, from an unpartitioned window over those
  ≤#days rows, the anchor-day flag, the historic average and the last
  event time — every summary scalar plus the trend series;
- the **changes frame** (``_changes``): the baseline-vs-current
  comparison over the 3-day window, holding both the "today" rows
  slower than their baseline (regressions) and the rows more than 40%
  faster (improvements), flagged by ``regression``. It is not sorted.

``pipeline.run_report`` collects each frame once; the registered
builders read the same frames, so there is one code path.
``q_samples_today`` stays its own query.

Where the anchor date comes from, and who sorts:

- the registered builders derive it in the plan (``_with_anchor``, a
  1-row ``max(event_date)`` aggregate broadcast into the fact scan: no
  driver round trip), and Q7/Q8 sort with ``orderBy`` like their
  DuckDB twins;
- ``pipeline.run_report`` has already collected the daily frame, whose
  ``is_anchor`` row holds the anchor date, so it builds the changes
  frame with that date as a DATE literal (``report_frames``) and sorts
  the collected rows on the driver. That drops the aggregate, its
  broadcast and the cross join, and the Spark jobs they cost.

Scale notes: the baseline-vs-current comparison joins a
≤#distinct-keys row aggregate against the fact table — the small side
is explicitly broadcast so the fact side never shuffles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.functions.expressions import (
    digits_only,
    epoch_ms_string,
    floor_int,
    guarded_pct_diff,
    ts_from_epoch_ms_string,
)

#: Event-type filters standing in for the reference's
#: ``response_message ILIKE '%site%' AND NOT ILIKE '%null%'``
#: (tabjolt_email.py:383).
KEY_ILIKE = "%e%"
KEY_NOT_ILIKE = "%click%"

# Shared oracle SQL fragments (DuckDB dialect), mirroring the Spark
# expressions below. The anchor scalar subquery is the deterministic
# stand-in for CURRENT_DATE.
_ANCHOR_DATE_SQL = "(SELECT MAX(CAST(ts AS DATE)) FROM events)"
_TS_MS_SQL = "CAST(epoch_ms(ts) AS STRING)"
_KEY_FILTER_SQL = (
    "event_type ILIKE '%e%' AND event_type NOT ILIKE '%click%'"
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with the derived columns the tabjolt-shaped queries use."""
    e = load_table(spark, sf_dir, "events")
    return e.withColumn("event_date", F.col("ts").cast("date")).withColumn(
        "ts_ms", epoch_ms_string(F.col("ts"))
    )


def _with_anchor(e: DataFrame) -> DataFrame:
    """Cross-join the 1-row max-date aggregate (broadcast — the Spark
    form of a scalar subquery that stays fully distributed)."""
    anchor = e.agg(F.max("event_date").alias("anchor_date"))
    return e.crossJoin(F.broadcast(anchor))


def _key_filter(df: DataFrame) -> DataFrame:
    return df.filter(
        F.col("event_type").ilike(KEY_ILIKE)
        & ~F.col("event_type").ilike(KEY_NOT_ILIKE)
    )


def _current_window(e_anchored: DataFrame, lookback_days: int = 0) -> DataFrame:
    """The reference's "today" (or N-day lookback) window, expressed
    through the epoch-millis-string round trip it performs
    (tabjolt_email.py:383,387)."""
    start = (
        F.col("anchor_date")
        if lookback_days == 0
        else F.date_sub(F.col("anchor_date"), lookback_days)
    )
    return e_anchored.filter(
        digits_only(F.col("ts_ms"))
        & (ts_from_epoch_ms_string(F.col("ts_ms")) >= start.cast("timestamp"))
    )


# --- shared frames --------------------------------------------------------

#: Output columns of the baseline-vs-current comparison (Q7/Q8).
COMPARISON_COLUMNS = (
    "avg_elapsed_ms",
    "current_elapsed_ms",
    "response_message",
    "percentage_difference",
)


def _daily(e: DataFrame) -> DataFrame:
    """One row per event date (the NULL date included), sorted by date.

    ``summary_value``/``max_value``/``min_value`` are the day's
    floor-int avg/max/min; the avg is rounded before the floor so float
    noise cannot differ between Spark and DuckDB (see
    functions.expressions.floor_int). The unpartitioned window runs
    over the ≤#days aggregate rows, not over events: it adds
    ``is_anchor`` (the max-date day, the CURRENT_DATE stand-in), the
    all-time average of the daily avg and the last event time, which
    are the same on every row.
    """
    all_days = Window.partitionBy()
    days = e.groupBy("event_date").agg(
        F.round(F.avg("value"), 4).alias("daily_avg"),
        F.max("value").alias("day_max"),
        F.min("value").alias("day_min"),
        F.max("ts").alias("day_last_ts"),
    )
    # one partition before the window: the window needs no exchange of
    # its own, and the final sort no range exchange, also where a
    # projection (q_trend_series) prunes the window away
    return days.repartition(1).select(
        F.date_format("event_date", "yyyy-MM-dd").alias("summary_date"),
        floor_int(F.col("daily_avg")).alias("summary_value"),
        floor_int(F.col("day_max")).alias("max_value"),
        floor_int(F.col("day_min")).alias("min_value"),
        (F.col("event_date") == F.max("event_date").over(all_days)).alias(
            "is_anchor"
        ),
        floor_int(F.round(F.avg("daily_avg").over(all_days), 4)).alias(
            "average_summary_value"
        ),
        F.date_format(
            F.max("day_last_ts").over(all_days), "yyyy-MM-dd HH:mm:ss.SSSSSS"
        ).alias("last_run_ts"),
    ).orderBy("summary_date")


def _baseline(e: DataFrame) -> DataFrame:
    """Per-key all-history baseline (subquery ``aa`` of
    tabjolt_email.py:385): AVG of int-cast values grouped by key."""
    return (
        _key_filter(e)
        .groupBy(F.col("event_type").alias("response"))
        .agg(
            F.round(F.avg(floor_int(F.col("value"))), 4).alias("avg_elapsed_ms")
        )
    )


def _changes(e: DataFrame, e_anchored: DataFrame) -> DataFrame:
    """The aa ⋈ bb comparisons of Q7 and Q8 (tabjolt_email.py:385,387)
    in one frame, unsorted. ``e_anchored`` is ``e`` with an
    ``anchor_date`` column, from ``_with_anchor`` or a literal.

    bb is the 3-day window of Q8; ``today`` marks its rows inside Q7's
    window (at or after the anchor midnight). A row is kept when it is
    a regression (today and slower than its baseline) or an improvement
    (faster and below -40%); the two conditions are disjoint, and
    ``regression`` tells them apart.

    The reference writes ``aa LEFT OUTER JOIN bb`` and then filters on
    a comparison between the two sides, which drops every
    null-extended row — observably an inner join. We implement the
    inner form so the ≤#keys-row baseline side can be broadcast
    (Spark cannot broadcast the outer-preserved side of a left join),
    keeping the fact table shuffle-free; the DuckDB oracle retains the
    literal LEFT OUTER text and hash-matches.
    """
    # aa never references the anchor — build it from the bare scan so
    # Catalyst doesn't drag a degenerate anchor cross-join (and a
    # second full table scan) into the baseline side.
    aa = _baseline(e)
    bb = _key_filter(_current_window(e_anchored, lookback_days=3)).select(
        floor_int(F.col("value")).alias("current_elapsed_ms"),
        F.col("event_type").alias("response_message"),
        (
            ts_from_epoch_ms_string(F.col("ts_ms"))
            >= F.col("anchor_date").cast("timestamp")
        ).alias("today"),
    )
    avg, cur = F.col("avg_elapsed_ms"), F.col("current_elapsed_ms")
    return (
        bb.join(F.broadcast(aa), aa.response == bb.response_message)
        .select(
            "avg_elapsed_ms",
            "current_elapsed_ms",
            "response_message",
            guarded_pct_diff(avg, cur).alias("percentage_difference"),
            (F.col("today") & (avg < cur)).alias("regression"),
        )
        .filter(
            F.col("regression")
            | ((avg > cur) & (F.col("percentage_difference") < -40.0))
        )
    )


def _registered_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changes frame the registered Q7/Q8 builders read: anchored in
    the plan and sorted worst-first, like their DuckDB twins."""
    e = _events(spark, sf_dir)
    return (
        _changes(e, _with_anchor(e))
        .repartition(1)
        .orderBy(F.col("percentage_difference").desc())
    )


def report_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Callable[[str | None], DataFrame]]:
    """The daily frame, and the changes frame for a given anchor date,
    over one ``events`` read.

    The anchor date is the daily frame's ``is_anchor`` ``summary_date``
    (``yyyy-MM-dd``), cast to a DATE literal; ``None`` (no such row)
    selects no changes, as the NULL in-plan anchor does.
    """
    e = _events(spark, sf_dir)

    def changes_at(anchor_date: str | None) -> DataFrame:
        return _changes(
            e, e.withColumn("anchor_date", F.lit(anchor_date).cast("date"))
        )

    return _daily(e), changes_at


# --- §2.7 queries ---------------------------------------------------------


def _anchor_day(spark: SparkSession, sf_dir: str, column: str) -> DataFrame:
    """One daily-frame column on the anchor day, as a one-row global
    aggregate (NULL when there is no anchor day)."""
    return (
        _daily(_events(spark, sf_dir))
        .filter(F.col("is_anchor"))
        .agg(F.max(column).alias("summary_value"))
    )


def q_summary_avg_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's Avg run value (tabjolt_email.py:375)."""
    return _anchor_day(spark, sf_dir, "summary_value")


def q_summary_max_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's Max run value (tabjolt_email.py:376)."""
    return _anchor_day(spark, sf_dir, "max_value")


def q_summary_min_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's Min run value (tabjolt_email.py:377)."""
    return _anchor_day(spark, sf_dir, "min_value")


def q_last_run_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT max(summary_timestamp)`` (tabjolt_email.py:378);
    rendered as a string so Spark/DuckDB timestamp types can't skew
    the schema comparison."""
    return _daily(_events(spark, sf_dir)).agg(
        F.max("last_run_ts").alias("last_run_ts")
    )


def q_historic_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-time average of the daily Avg (tabjolt_email.py:379)."""
    return _daily(_events(spark, sf_dir)).agg(
        F.max("average_summary_value").alias("average_summary_value")
    )


def q_trend_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(date, avg) day-wise trend series for the chart
    (tabjolt_email.py:86)."""
    return _daily(_events(spark, sf_dir)).select("summary_date", "summary_value")


def q_samples_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's samples, validated + filtered + sorted desc
    (tabjolt_email.py:382-383). Exercises P3 (rlike), P4/P5 (ilike /
    not ilike), P6 (epoch-string → timestamp ≥ midnight), P9 (cast),
    O2 (desc sort on computed column)."""
    e = _current_window(_with_anchor(_events(spark, sf_dir)))
    return (
        _key_filter(e)
        .filter(F.col("props").rlike('"k": [0-9]+'))
        .select(
            floor_int(F.col("value")).alias("elapsed_time"),
            "user_id",
            F.col("event_type").alias("request_label"),
            F.col("props").alias("response_message"),
        )
        .repartition(1)
        .orderBy(F.col("elapsed_time").desc())
    )


def q_regressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 (tabjolt_email.py:385): current-window samples slower than
    their per-key historical baseline, with % difference, sorted
    worst-first."""
    return (
        _registered_changes(spark, sf_dir)
        .filter(F.col("regression"))
        .select(*COMPARISON_COLUMNS)
    )


def q_regressions_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 plus the renderer's red-alert rule as an engine-level column
    (strictly > 20.0 → RED, tabjolt_email.py:223)."""
    return q_regressions(spark, sf_dir).withColumn(
        "alert_flag",
        F.when(F.col("percentage_difference") > 20.0, F.lit("RED")).otherwise(
            F.lit("")
        ),
    )


def q_improvements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 (tabjolt_email.py:387): 3-day window, faster-than-baseline
    keys improved by more than 40% (strict < -40.0)."""
    return (
        _registered_changes(spark, sf_dir)
        .filter(~F.col("regression"))
        .select(*COMPARISON_COLUMNS)
    )


QUERIES = {
    "q_summary_avg_today": q_summary_avg_today,
    "q_summary_max_today": q_summary_max_today,
    "q_summary_min_today": q_summary_min_today,
    "q_last_run_ts": q_last_run_ts,
    "q_historic_avg": q_historic_avg,
    "q_trend_series": q_trend_series,
    "q_samples_today": q_samples_today,
    "q_regressions": q_regressions,
    "q_regressions_flagged": q_regressions_flagged,
    "q_improvements": q_improvements,
}

# --- DuckDB oracle twins (ANSI-ish SQL, DuckDB dialect) -------------------

_BASELINE_SQL = f"""
    SELECT ROUND(AVG(CAST(FLOOR(value) AS INTEGER)), 4) AS avg_elapsed_ms,
           event_type AS response
    FROM events
    WHERE {_KEY_FILTER_SQL}
    GROUP BY event_type
"""


def _current_sql(window_start_sql: str) -> str:
    return f"""
    SELECT CAST(FLOOR(value) AS INTEGER) AS current_elapsed_ms,
           event_type AS response_message
    FROM events
    WHERE regexp_matches({_TS_MS_SQL}, '^[0-9]+$')
      AND to_timestamp(CAST({_TS_MS_SQL} AS BIGINT) / 1000)
          >= CAST({window_start_sql} AS TIMESTAMP)
      AND {_KEY_FILTER_SQL}
"""


def _cmp_sql(window_start_sql: str, cmp_op: str) -> str:
    """The literal aa LEFT OUTER JOIN bb + outer WHERE of
    tabjolt_email.py:385/:387."""
    return f"""
    SELECT avg_elapsed_ms, current_elapsed_ms, response_message,
           CASE WHEN avg_elapsed_ms = 0 THEN NULL
                ELSE ROUND((current_elapsed_ms - avg_elapsed_ms)
                           / avg_elapsed_ms * 100.0, 4)
           END AS percentage_difference
    FROM ({_BASELINE_SQL}) aa
    LEFT OUTER JOIN ({_current_sql(window_start_sql)}) bb
      ON aa.response = bb.response_message
    WHERE avg_elapsed_ms {cmp_op} current_elapsed_ms
"""


ORACLE_SQL = {
    "q_summary_avg_today": f"""
        SELECT CAST(FLOOR(ROUND(AVG(value), 4)) AS INTEGER) AS summary_value
        FROM events
        WHERE CAST(ts AS DATE) = {_ANCHOR_DATE_SQL}
    """,
    "q_summary_max_today": f"""
        SELECT CAST(FLOOR(MAX(value)) AS INTEGER) AS summary_value
        FROM events
        WHERE CAST(ts AS DATE) = {_ANCHOR_DATE_SQL}
    """,
    "q_summary_min_today": f"""
        SELECT CAST(FLOOR(MIN(value)) AS INTEGER) AS summary_value
        FROM events
        WHERE CAST(ts AS DATE) = {_ANCHOR_DATE_SQL}
    """,
    "q_last_run_ts": """
        SELECT strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_run_ts
        FROM events
    """,
    "q_historic_avg": """
        SELECT CAST(FLOOR(ROUND(AVG(daily_avg), 4)) AS INTEGER)
               AS average_summary_value
        FROM (
            SELECT CAST(ts AS DATE) AS event_date,
                   ROUND(AVG(value), 4) AS daily_avg
            FROM events GROUP BY CAST(ts AS DATE)
        )
    """,
    "q_trend_series": """
        SELECT CAST(CAST(ts AS DATE) AS STRING) AS summary_date,
               CAST(FLOOR(ROUND(AVG(value), 4)) AS INTEGER) AS summary_value
        FROM events
        GROUP BY CAST(ts AS DATE)
        ORDER BY summary_date
    """,
    "q_samples_today": f"""
        SELECT CAST(FLOOR(value) AS INTEGER) AS elapsed_time,
               user_id,
               event_type AS request_label,
               props AS response_message
        FROM events
        WHERE regexp_matches({_TS_MS_SQL}, '^[0-9]+$')
          AND to_timestamp(CAST({_TS_MS_SQL} AS BIGINT) / 1000)
              >= CAST({_ANCHOR_DATE_SQL} AS TIMESTAMP)
          AND {_KEY_FILTER_SQL}
          AND regexp_matches(props, '"k": [0-9]+')
        ORDER BY elapsed_time DESC
    """,
    "q_regressions": _cmp_sql(_ANCHOR_DATE_SQL, "<")
    + " ORDER BY percentage_difference DESC",
    "q_regressions_flagged": f"""
        SELECT *,
               CASE WHEN percentage_difference > 20.0 THEN 'RED' ELSE '' END
               AS alert_flag
        FROM ({_cmp_sql(_ANCHOR_DATE_SQL, "<")}) flagged
        ORDER BY percentage_difference DESC
    """,
    "q_improvements": f"""
        SELECT * FROM ({_cmp_sql(f"{_ANCHOR_DATE_SQL} - INTERVAL 3 DAY", ">")}) fin
        WHERE percentage_difference < -40.0
        ORDER BY percentage_difference DESC
    """,
}
