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

``pipeline.run_report`` runs the report as two Spark actions:

- the **summary** (``_summary``, registered as ``q_report_summary``):
  one ``groupingSets`` aggregate over one ``events`` scan. Its day set
  gives one row per event date with the day's avg/max/min, and a
  window over those ≤#days rows adds the anchor-day flag, the historic
  average and the last event time. Its key set gives the per-key
  all-history baseline of Q7/Q8. The five summary scalars and the
  trend series are projections of its day rows;
- the **window scan** (``window_rows``): the 3-day window of the
  key-filtered rows, anchored on the summary's anchor day as a DATE
  literal, with the collected baselines as a map literal. It flags
  each row as a regression, an improvement and/or a sample, keeps the
  flagged rows and runs as one job with no exchange. It is not sorted.

Where the anchor date comes from, and who sorts:

- the registered builders derive it in the plan (``_with_anchor``, a
  1-row ``max(event_date)`` aggregate broadcast into the fact scan: no
  driver round trip), and Q7/Q8 and ``q_samples_today`` sort with
  ``orderBy`` like their DuckDB twins;
- ``pipeline.run_report`` has already collected the summary, so the
  window scan needs neither the anchor aggregate nor the baseline
  join, and the report sorts the collected rows on the driver.

Scale notes: the registered Q7/Q8 join a ≤#distinct-keys row baseline
against the fact table — the small side is explicitly broadcast so the
fact side never shuffles. The report's map literal holds the same
≤#distinct-keys rows, shipped through the driver instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

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


def _is_key() -> Column:
    """True for the rows whose ``event_type`` the report compares."""
    return F.col("event_type").ilike(KEY_ILIKE) & ~F.col("event_type").ilike(
        KEY_NOT_ILIKE
    )


def _key_filter(df: DataFrame) -> DataFrame:
    return df.filter(_is_key())


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

#: The samples' ``props`` check (tabjolt_email.py:383).
_SAMPLE_PROPS_RE = '"k": [0-9]+'


def _summary(e: DataFrame) -> DataFrame:
    """The day rows and the baseline rows of the report, from one
    ``groupingSets`` aggregate over one scan, sorted day rows first.

    A **day row** (``response`` NULL) holds one event date, the NULL
    date included: ``summary_value``/``max_value``/``min_value`` are the
    day's floor-int avg/max/min; the avg is rounded before the floor so
    float noise cannot differ between Spark and DuckDB (see
    functions.expressions.floor_int). A window over the day rows adds
    ``is_anchor`` (the max-date day, the CURRENT_DATE stand-in), the
    all-time average of the daily avg and the last event time, which
    are the same on every day row.

    A **baseline row** holds one key that passes the key filter and its
    all-history ``avg_elapsed_ms`` (subquery ``aa`` of
    tabjolt_email.py:385: AVG of int-cast values grouped by key). The
    aggregate's second grouping set groups every row by that key, NULL
    for the rows that fail the filter; that NULL group is dropped.

    Each row holds NULL in the other kind's columns.
    """
    grouped = (
        e.select(
            "event_date",
            "value",
            "ts",
            F.when(_is_key(), F.col("event_type")).alias("response"),
        )
        .groupingSets([["event_date"], ["response"]], "event_date", "response")
        .agg(
            F.grouping_id().alias("grouping_set"),
            F.round(F.avg("value"), 4).alias("daily_avg"),
            F.max("value").alias("day_max"),
            F.min("value").alias("day_min"),
            F.max("ts").alias("day_last_ts"),
            F.round(F.avg(floor_int(F.col("value"))), 4).alias("avg_elapsed_ms"),
        )
    )
    # grouping_id is 1 for the event_date set, 2 for the key set
    day = F.col("grouping_set") == 1
    per_set = Window.partitionBy("grouping_set")

    def on_days(col: Column) -> Column:
        return F.when(day, col)

    # one partition before the window: the window needs no exchange of
    # its own, and the final sort no range exchange, also where a
    # projection (q_trend_series) prunes the window away
    return (
        grouped.filter(day | F.col("response").isNotNull())
        .repartition(1)
        .select(
            F.date_format("event_date", "yyyy-MM-dd").alias("summary_date"),
            floor_int(on_days(F.col("daily_avg"))).alias("summary_value"),
            floor_int(on_days(F.col("day_max"))).alias("max_value"),
            floor_int(on_days(F.col("day_min"))).alias("min_value"),
            (F.col("event_date") == F.max("event_date").over(per_set)).alias(
                "is_anchor"
            ),
            floor_int(
                on_days(F.round(F.avg("daily_avg").over(per_set), 4))
            ).alias("average_summary_value"),
            on_days(
                F.date_format(
                    F.max("day_last_ts").over(per_set), "yyyy-MM-dd HH:mm:ss.SSSSSS"
                )
            ).alias("last_run_ts"),
            "response",
            F.when(~day, F.col("avg_elapsed_ms")).alias("avg_elapsed_ms"),
        )
        .orderBy("response", "summary_date")
    )


def _days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The summary's day rows."""
    return _summary(_events(spark, sf_dir)).filter(F.col("response").isNull())


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


def _registered_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aa ⋈ bb comparisons of Q7 and Q8 (tabjolt_email.py:385,387)
    in one frame, anchored in the plan and sorted worst-first, like
    their DuckDB twins.

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
    e = _events(spark, sf_dir)
    # aa never references the anchor — build it from the bare scan so
    # Catalyst doesn't drag a degenerate anchor cross-join (and a
    # second full table scan) into the baseline side.
    aa = _baseline(e)
    bb = _key_filter(_current_window(_with_anchor(e), lookback_days=3)).select(
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
        .repartition(1)
        .orderBy(F.col("percentage_difference").desc())
    )


def window_rows(
    spark: SparkSession,
    sf_dir: str,
    anchor_date: str,
    baselines: dict[str, float | None],
) -> DataFrame:
    """The report's rows of the 3-day window before ``anchor_date``
    (``yyyy-MM-dd``, the summary's anchor day), as one scan with no
    exchange, unsorted.

    ``baselines`` maps each key to its collected baseline; the keys are
    every ``event_type`` that passes the key filter, so ``isin`` stands
    in for it, and a key whose baseline is NULL still yields its
    samples. The map literal replaces Q7/Q8's broadcast join. Each row
    is flagged ``regression`` (today and slower than its baseline),
    ``improvement`` (faster and below -40%) and ``sample`` (today, with
    a ``props`` key: Q6, tabjolt_email.py:382-383); only flagged rows
    are kept.
    """
    e = _events(spark, sf_dir).withColumn(
        "anchor_date", F.lit(anchor_date).cast("date")
    )
    base = F.create_map(
        *(c for k, v in baselines.items() for c in (F.lit(k), F.lit(v).cast("double")))
    )[F.col("event_type")]
    cur = floor_int(F.col("value"))
    pct = guarded_pct_diff(base, cur)
    today = ts_from_epoch_ms_string(F.col("ts_ms")) >= F.col("anchor_date").cast(
        "timestamp"
    )
    rows = _current_window(e, lookback_days=3).filter(
        F.col("event_type").isin(list(baselines))
    ).select(
        base.alias("avg_elapsed_ms"),
        cur.alias("current_elapsed_ms"),
        "event_type",
        "user_id",
        "props",
        pct.alias("percentage_difference"),
        (today & (base < cur)).alias("regression"),
        ((base > cur) & (pct < -40.0)).alias("improvement"),
        (today & F.col("props").rlike(_SAMPLE_PROPS_RE)).alias("sample"),
    )
    return rows.filter(F.col("regression") | F.col("improvement") | F.col("sample"))


# --- §2.7 queries ---------------------------------------------------------


def q_report_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report's first action: the day rows and the per-key
    baselines of ``_summary``."""
    return _summary(_events(spark, sf_dir))


def _anchor_day(spark: SparkSession, sf_dir: str, column: str) -> DataFrame:
    """One day-row column on the anchor day, as a one-row global
    aggregate (NULL when there is no anchor day)."""
    return (
        _days(spark, sf_dir)
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
    return _days(spark, sf_dir).agg(F.max("last_run_ts").alias("last_run_ts"))


def q_historic_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-time average of the daily Avg (tabjolt_email.py:379)."""
    return _days(spark, sf_dir).agg(
        F.max("average_summary_value").alias("average_summary_value")
    )


def q_trend_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(date, avg) day-wise trend series for the chart
    (tabjolt_email.py:86)."""
    return _days(spark, sf_dir).select("summary_date", "summary_value")


def q_samples_today(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Today's samples, validated + filtered + sorted desc
    (tabjolt_email.py:382-383). Exercises P3 (rlike), P4/P5 (ilike /
    not ilike), P6 (epoch-string → timestamp ≥ midnight), P9 (cast),
    O2 (desc sort on computed column)."""
    e = _current_window(_with_anchor(_events(spark, sf_dir)))
    return (
        _key_filter(e)
        .filter(F.col("props").rlike(_SAMPLE_PROPS_RE))
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
    "q_report_summary": q_report_summary,
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


#: ``_summary``'s twin: the two GROUP BYs of its grouping sets, the
#: window over the day rows, and NULL in the other kind's columns.
_REPORT_SUMMARY_SQL = f"""
    WITH days AS (
        SELECT CAST(ts AS DATE) AS event_date,
               ROUND(AVG(value), 4) AS daily_avg,
               MAX(value) AS day_max,
               MIN(value) AS day_min,
               MAX(ts) AS day_last_ts
        FROM events
        GROUP BY CAST(ts AS DATE)
    )
    SELECT CAST(event_date AS STRING) AS summary_date,
           CAST(FLOOR(daily_avg) AS INTEGER) AS summary_value,
           CAST(FLOOR(day_max) AS INTEGER) AS max_value,
           CAST(FLOOR(day_min) AS INTEGER) AS min_value,
           event_date = MAX(event_date) OVER () AS is_anchor,
           CAST(FLOOR(ROUND(AVG(daily_avg) OVER (), 4)) AS INTEGER)
               AS average_summary_value,
           strftime(MAX(day_last_ts) OVER (), '%Y-%m-%d %H:%M:%S.%f')
               AS last_run_ts,
           CAST(NULL AS STRING) AS response,
           CAST(NULL AS DOUBLE) AS avg_elapsed_ms
    FROM days
    UNION ALL
    SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, response, avg_elapsed_ms
    FROM ({_BASELINE_SQL}) aa
    ORDER BY response NULLS FIRST, summary_date NULLS FIRST
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
    "q_report_summary": _REPORT_SUMMARY_SQL,
}
