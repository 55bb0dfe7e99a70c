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
are two Spark actions (operators/tabjolt.py):

1. the **summary**, ``q_report_summary``, called through
   ``tabjolt.QUERIES``: one grouping-sets aggregate over one
   ``events`` scan gives the day rows (the five summary metrics and
   the trend series) and the per-key baselines of Q7/Q8;
2. the **window scan**, ``tabjolt.window_rows``: one scan of the 3-day
   window with no exchange, anchored on the summary's anchor day (the
   CURRENT_DATE stand-in) as a DATE literal and given the collected
   baselines as a map literal. It returns the regressions, the
   improvements and today's samples, flagged.

The registered builders of the five metrics and the trend series are
projections of the summary, so the report and the registry share one
code path; the registered Q6-Q8 derive the anchor in the plan and
match the report's rows. The collected rows are sorted here, on the
driver, in the order Spark's ``DESC`` gives the registered builders:
descending, NULLs last.
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


def _sorted_desc(rows: list, column: str) -> list:
    """``rows`` by ``column`` descending, NULLs last (a zero baseline
    gives a NULL percentage, a NULL value a NULL elapsed time)."""
    return sorted(
        rows, key=lambda r: (r[column] is None, 0 if r[column] is None else -r[column])
    )


def _comparison(row) -> tuple:
    """A window row as a Q7/Q8 row (``tabjolt.COMPARISON_COLUMNS``)."""
    return (
        row.avg_elapsed_ms,
        row.current_elapsed_ms,
        row.event_type,
        row.percentage_difference,
    )


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
    # Through the registry: callers that wrap ``tabjolt.QUERIES`` (the
    # benchmark's probe) then see the report's whole query time.
    summary = tabjolt.QUERIES["q_report_summary"](spark, sf_dir).collect()
    daily = [r for r in summary if r.response is None]
    baselines = {
        r.response: r.avg_elapsed_ms for r in summary if r.response is not None
    }
    anchor = next((d for d in daily if d.is_anchor), None)
    # without an anchor day or a key, the window holds no row
    rows = (
        tabjolt.window_rows(spark, sf_dir, anchor.summary_date, baselines).collect()
        if anchor and baselines
        else []
    )

    overall = daily[0] if daily else None
    metrics = [
        ("Average time for the latest run (ms)", _field(anchor, "summary_value")),
        ("Maximum time for the latest run (ms)", _field(anchor, "max_value")),
        ("Minimum time for the latest run (ms)", _field(anchor, "min_value")),
        ("Latest event at", _field(overall, "last_run_ts")),
        ("Historic average (ms)", _field(overall, "average_summary_value")),
    ]
    changes = _sorted_desc(rows, "percentage_difference")
    regressions = [_comparison(r) for r in changes if r.regression]
    improvements = [_comparison(r) for r in changes if r.improvement]
    samples = [
        (r.current_elapsed_ms, r.user_id, r.event_type, r.props)
        for r in _sorted_desc(rows, "current_elapsed_ms")
        if r.sample
    ]
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
