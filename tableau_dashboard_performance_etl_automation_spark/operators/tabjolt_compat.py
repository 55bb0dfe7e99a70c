"""Drop-in compatibility layer: the reference's exact tables and the
nine queries in their original shape, over Spark.

A user of the reference points this module at the same four delimited
files their TabJolt pipeline drops today (tabjolt_email.py:361-366),
gets the same four tables (`wincounter`, `summary_line`,
`thread_details`, `performance_samples`), and runs the same nine
queries — translated from Vertica SQL to Spark SQL with identical
semantics:

- ``REGEXP_LIKE(c, p)``       → ``c RLIKE p``
- ``x::INT``                  → ``CAST(x AS INT)``
- ``TO_TIMESTAMP(bigint/1000)`` → ``TIMESTAMP_SECONDS(CAST(... AS
  BIGINT) / 1000)``
- ``interval '3 days'``       → ``INTERVAL 3 DAYS``
- ``ILIKE``                   → ``ILIKE`` (native since Spark 3.3)
- ``CURRENT_DATE``            → parameterizable ``as_of`` date so the
  daily-cron queries are testable against historical golden data
  (with the default, behavior matches the reference exactly).

Everything stays a string-typed table like Vertica's VARCHAR columns:
the queries carry the reference's own validate-then-cast discipline,
so dirty rows flow through identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from tableau_dashboard_performance_etl_automation_spark.sources.delimited import (
    load_manifest,
)

#: Column layouts reverse-engineered in SURVEY.md §1.2.
WINCOUNTER_SCHEMA = StructType(
    [
        StructField(c, StringType())
        for c in (
            "epoch_ms host counter_group counter_name instance value "
            "summary_timestamp".split()
        )
    ]
)

SUMMARY_LINE_SCHEMA = StructType(
    [
        StructField("summary_metrix", StringType()),
        StructField("summary_value", StringType()),
        StructField("summary_timestamp", StringType()),
    ]
)

THREAD_DETAILS_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("ts", "thread_name", "state")]
)

#: JMeter JTL layout (modified_workbook.csv header t,lt,ts,s,lb,rc,rm,
#: tn,dt,by,ng,na + trailing column), DB names per tabjolt_email.py:383.
PERFORMANCE_SAMPLES_SCHEMA = StructType(
    [
        StructField(c, StringType())
        for c in (
            "elapsed_time_ms latency_time_ms timestamp_ms success_indicator "
            "request_label response_code response_message thread_name "
            "data_type bytes grp_threads all_threads trailing".split()
        )
    ]
)

#: (view name, schema, delimiter, skip_header) — the reference's load
#: manifest (tabjolt_email.py:361-366; modified_workbook has a header).
LOAD_MANIFEST = {
    "wincounter": (WINCOUNTER_SCHEMA, "\t", False),
    "summary_line": (SUMMARY_LINE_SCHEMA, ",", False),
    "thread_details": (THREAD_DETAILS_SCHEMA, "\t", False),
    "performance_samples": (PERFORMANCE_SAMPLES_SCHEMA, ",", True),
}


def load_tabjolt_tables(
    spark: SparkSession,
    files: dict[str, str],
    reject_path: str | None = None,
) -> dict[str, DataFrame]:
    """Load any subset of the four tables from delimited files and
    register them as temp views (the ``tabjolt.<table>`` namespace)."""
    results = load_manifest(
        spark,
        [(path, name, *LOAD_MANIFEST[name]) for name, path in files.items()],
        reject_path=reject_path,
    )
    return {name: res.good for name, res in results.items()}


def _as_of(as_of: str | None) -> str:
    return f"DATE '{as_of}'" if as_of else "CURRENT_DATE"


def reference_queries(as_of: str | None = None) -> dict[str, str]:
    """The nine queries of tabjolt_email.py:374-387 and :86, in
    execution order, as Spark SQL."""
    today = _as_of(as_of)
    samples_filters = (
        "response_message ILIKE '%site%' "
        "AND response_message NOT ILIKE '%null%'"
    )
    current_window = (
        "timestamp_ms RLIKE '^[0-9]+$' "
        "AND TIMESTAMP_SECONDS(CAST(timestamp_ms AS BIGINT) / 1000) >= "
        "CAST({start} AS TIMESTAMP)"
    )
    baseline = (
        "SELECT AVG(CAST(elapsed_time_ms AS INT)) AS avg_elapsed_ms, "
        "response_message AS response FROM performance_samples "
        "WHERE elapsed_time_ms RLIKE '^[0-9]+$' AND "
        f"{samples_filters} GROUP BY response_message"
    )

    def cmp_query(start: str, op: str) -> str:
        current = (
            "SELECT CAST(elapsed_time_ms AS INT) AS current_elapsed_ms, "
            "response_message FROM performance_samples WHERE "
            + current_window.format(start=start)
            + " AND elapsed_time_ms RLIKE '^[0-9]+$' AND "
            + samples_filters
        )
        return (
            "SELECT avg_elapsed_ms, current_elapsed_ms, response_message, "
            "CASE WHEN avg_elapsed_ms = 0 THEN NULL ELSE "
            "((current_elapsed_ms - avg_elapsed_ms) / avg_elapsed_ms) * 100.0 "
            "END AS percentage_difference "
            f"FROM ({baseline}) aa LEFT OUTER JOIN ({current}) bb "
            "ON aa.response = bb.response_message "
            f"WHERE avg_elapsed_ms {op} current_elapsed_ms "
        )

    return {
        "summary_avg_today": (
            "SELECT summary_value FROM summary_line "
            f"WHERE summary_timestamp = CAST({today} AS STRING) "
            "AND summary_metrix = 'Avg'"
        ),
        "summary_max_today": (
            "SELECT summary_value FROM summary_line "
            f"WHERE summary_timestamp = CAST({today} AS STRING) "
            "AND summary_metrix = 'Max'"
        ),
        "summary_min_today": (
            "SELECT summary_value FROM summary_line "
            f"WHERE summary_timestamp = CAST({today} AS STRING) "
            "AND summary_metrix = 'Min'"
        ),
        "last_run_ts": "SELECT max(summary_timestamp) FROM wincounter",
        "historic_avg": (
            "SELECT CAST(AVG(summary_value) AS INT) AS average_summary_value "
            "FROM summary_line WHERE summary_metrix = 'Avg'"
        ),
        "trend_series": (
            "SELECT summary_timestamp, summary_value FROM summary_line "
            "WHERE summary_metrix = 'Avg' ORDER BY summary_timestamp"
        ),
        "samples_today": (
            "SELECT CAST(elapsed_time_ms AS INT) AS elapsed_time, "
            "latency_time_ms, success_indicator, request_label, "
            "response_message FROM performance_samples WHERE "
            + current_window.format(start=today)
            + f" AND {samples_filters} ORDER BY elapsed_time DESC"
        ),
        "regressions": cmp_query(today, "<")
        + "ORDER BY percentage_difference DESC",
        "improvements": (
            "SELECT * FROM ("
            + cmp_query(f"{today} - INTERVAL 3 DAYS", ">")
            + "ORDER BY percentage_difference DESC) fin "
            "WHERE percentage_difference < -40.0"
        ),
    }


def run_reference_queries(
    spark: SparkSession, as_of: str | None = None
) -> dict[str, DataFrame]:
    """Execute all nine against the registered compat views."""
    return {
        name: spark.sql(sql) for name, sql in reference_queries(as_of).items()
    }
