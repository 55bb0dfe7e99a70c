"""End-to-end daily-report pipeline — the engine's equivalent of the
reference's ``__main__`` block (tabjolt_email.py:345-394):

    extract (files/s3a) → load with reject capture → the nine
    queries → chart + HTML report → (optional) SMTP send.

Differences by design: extraction is a Spark read (s3a:// URIs go
straight to the distributed reader — no driver-side boto3 download
step), loads are the PERMISSIVE reject-capturing reader
(sources/delimited.py), and all analytics are DataFrame plans
(operators/tabjolt.py). Only the final human-sized report rows are
ever collected.

The reference runs its nine queries as nine round trips. Here they
are three Spark actions: ``q_samples_today``, then the daily frame
(five summary metrics and the trend series) and the changes frame
(regressions and improvements), both built from one ``events`` read
by ``tabjolt.report_frames``. The registered builders of the other
eight queries are projections of those two frames, so the report and
the registry share one code path.

The changes frame is built after the daily frame is collected: its
anchor date (the CURRENT_DATE stand-in) is the date of the daily
frame's ``is_anchor`` row, passed as a literal, so the changes plan
does not derive it again. The collected changes are sorted here, on
the driver, in the order Spark's ``percentage_difference DESC`` gives
the registered Q7/Q8 builders: descending, NULLs last.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from tableau_dashboard_performance_etl_automation_spark.operators import tabjolt
from tableau_dashboard_performance_etl_automation_spark.reports import (
    chart,
    email_sink,
    html,
)


@dataclass
class PipelineResult:
    metrics: list[tuple[str, object]]
    regressions: list[tuple]
    samples: list[tuple]
    improvements: list[tuple]
    html_report: str
    chart_path: str | None = None
    trend: list[tuple] = field(default_factory=list)
    rejected_counts: dict[str, int] = field(default_factory=dict)


def load_config(config_file: str) -> dict:
    """JSON config document (reference config.json shape: smtp/source
    sections; tabjolt_email.py:12-15)."""
    with open(config_file) as f:
        return json.load(f)


def _field(row, name: str):
    return None if row is None else row[name]


def _worst_first(row) -> tuple:
    """Sort key for ``percentage_difference`` descending, NULLs last
    (a zero baseline gives a NULL percentage)."""
    pct = row.percentage_difference
    return (pct is None, 0.0 if pct is None else -pct)


def run_report(
    spark: SparkSession,
    sf_dir: str,
    subject: str = "Daily Performance Run Summary",
    chart_out: str | None = None,
    smtp_config: dict | None = None,
) -> PipelineResult:
    """Run the reference's report queries and assemble the email body.

    ``smtp_config=None`` (default) builds but does not send — sending
    is an explicit opt-in with real credentials, mirroring the
    reference's config-driven send (tabjolt_email.py:389-394).
    """
    # Through the registry, and first: callers that wrap
    # ``tabjolt.QUERIES`` (the benchmark's probe) then see the report's
    # whole query time.
    samples = [
        tuple(r) for r in tabjolt.QUERIES["q_samples_today"](spark, sf_dir).collect()
    ]
    daily_df, changes_at = tabjolt.report_frames(spark, sf_dir)
    daily = daily_df.collect()
    anchor = next((d for d in daily if d.is_anchor), None)
    changes = sorted(
        changes_at(_field(anchor, "summary_date")).collect(), key=_worst_first
    )

    overall = daily[0] if daily else None
    metrics = [
        ("Average time for the latest run (ms)", _field(anchor, "summary_value")),
        ("Maximum time for the latest run (ms)", _field(anchor, "max_value")),
        ("Minimum time for the latest run (ms)", _field(anchor, "min_value")),
        ("Latest event at", _field(overall, "last_run_ts")),
        ("Historic average (ms)", _field(overall, "average_summary_value")),
    ]
    cols = tabjolt.COMPARISON_COLUMNS
    regressions = [tuple(r[c] for c in cols) for r in changes if r.regression]
    improvements = [tuple(r[c] for c in cols) for r in changes if not r.regression]
    trend_rows = [(d.summary_date, d.summary_value) for d in daily]

    chart_path = (
        chart.render_trend_chart(trend_rows, chart_out) if chart_out else None
    )
    body = html.render_report(
        subject,
        metrics,
        regressions,
        samples,
        improvements,
        chart_cid="graph_cid" if chart_path else None,
    )
    if smtp_config:
        msg = email_sink.build_message(
            subject,
            smtp_config["sender_email"],
            smtp_config["recipient_emails"],
            body,
            chart_path=chart_path,
        )
        email_sink.send(msg, smtp_config)
    return PipelineResult(
        metrics=metrics,
        regressions=regressions,
        samples=samples,
        improvements=improvements,
        html_report=body,
        chart_path=chart_path,
        trend=trend_rows,
    )
