"""Report sinks: HTML structure, red-alert styling, chart data prep,
MIME assembly, and the end-to-end report pipeline."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tableau_dashboard_performance_etl_automation_spark import pipeline
from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators import tabjolt
from tableau_dashboard_performance_etl_automation_spark.reports import (
    chart,
    email_sink,
    html,
)
from tools.check_correctness import row_multiset

#: The registered query behind each of ``run_report``'s five metrics,
#: in metric order.
_METRIC_QUERIES = (
    "q_summary_avg_today",
    "q_summary_max_today",
    "q_summary_min_today",
    "q_last_run_ts",
    "q_historic_avg",
)
_ROWSET_QUERIES = ("q_regressions", "q_improvements", "q_samples_today", "q_trend_series")


def test_regression_table_red_is_strictly_above_20():
    rows = [
        (100.0, 120, "key_at_boundary", 20.0),
        (100.0, 121, "key_above", 21.0),
    ]
    out = html.regression_table(rows)
    # per-cell styling like the reference (tabjolt_email.py:230):
    # all 4 cells of the >20 row are red, the boundary row has none
    boundary_row, above_row = out.split("<tr>")[2], out.split("<tr>")[3]
    assert "key_at_boundary" in boundary_row
    assert "color: red;" not in boundary_row
    assert "key_above" in above_row
    assert above_row.count("color: red;") == 4


def test_float_cells_format_two_decimal_percent():
    out = html.regression_table([(100.0, 150, "k", 50.1234)])
    assert "50.12%" in out
    assert "100.00%" in out  # avg column is float too, same rule as reference


def test_chart_data_prep_sorts_and_scales():
    dates, values = chart.trend_points([("2024-02-01", 1500), ("2024-01-01", 900)])
    assert dates == ["2024-01-01", "2024-02-01"]
    assert values == [900, 1500]
    assert chart.ytick_ceiling(12973) == 13000 + 1000


def test_chart_renderer_always_produces_png(tmp_path):
    # with or without matplotlib a real decodable PNG comes out
    # (stdlib fallback since round 7); empty series → None
    out = chart.render_trend_chart(
        [("2024-01-01", 100)], str(tmp_path / "g.png")
    )
    assert out is not None
    data = (tmp_path / "g.png").read_bytes()
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert chart.render_trend_chart([], str(tmp_path / "e.png")) is None


def test_stdlib_chart_golden_five_point_series(tmp_path):
    """The fallback raster against the reference golden's shape
    (average_time_graph.png: 1000×600, bit depth 8, RGBA): full
    zlib round-trip, blue series pixels present, marker at the
    expected projected position, annotations/tick text drawn."""
    import datetime
    import struct
    import zlib

    from tableau_dashboard_performance_etl_automation_spark.reports import png_mini

    rows = [
        (datetime.date(2024, 7, 26), 9534),
        (datetime.date(2024, 7, 27), 12661),
        (datetime.date(2024, 7, 28), 11200),
        (datetime.date(2024, 7, 29), 12973),
        (datetime.date(2024, 7, 30), 12661),
    ]
    out = chart._render_trend_chart_stdlib(
        [r[0] for r in rows], [r[1] for r in rows], str(tmp_path / "g.png")
    )
    data = (tmp_path / "g.png").read_bytes()
    w, h, depth, ctype = png_mini.decode_png_header(data)
    assert (w, h, depth, ctype) == (1000, 600, 8, 6)  # golden header shape
    i = data.find(b"IDAT")
    (ln,) = struct.unpack(">I", data[i - 4 : i])
    raw = zlib.decompress(data[i + 4 : i + 4 + ln])
    assert len(raw) == h * (1 + w * 4)  # filter byte + RGBA per row

    def pixel(x, y):
        base = y * (1 + w * 4) + 1 + x * 4
        return tuple(raw[base : base + 4])

    blue = (31, 119, 180, 255)
    # the middle point (11200 on 2024-07-28) projects to the center
    # column; recompute the projection the renderer used
    x0, x1 = chart._MARGIN_L, chart._FIG_W - chart._MARGIN_R
    y0, y1 = chart._MARGIN_T, chart._FIG_H - chart._MARGIN_B
    ymax = chart.ytick_ceiling(12973)
    mx = x0 + round(2 / 4 * (x1 - x0))
    my = y1 - round(11200 / ymax * (y1 - y0))
    assert pixel(mx, my) == blue  # marker disc center
    n_blue = sum(
        1
        for y in range(y0, y1)
        for x in range(x0, x1, 7)
        if pixel(x, y) == blue
    )
    assert n_blue > 50  # the polyline crosses the sampled columns
    # black text pixels exist above the top marker (its annotation)
    tx = x0 + round(3 / 4 * (x1 - x0))
    ty = y1 - round(12973 / ymax * (y1 - y0))
    ann = sum(
        1
        for y in range(ty - 20, ty - 5)
        for x in range(tx - 30, tx + 30)
        if pixel(x, y) == (0, 0, 0, 255)
    )
    assert ann > 10


def test_build_message_inlines_chart(tmp_path):
    png = tmp_path / "g.png"
    png.write_bytes(b"\x89PNG\r\n\x1a\nfake")
    msg = email_sink.build_message(
        "subj", "a@x", ["b@y", "c@z"], "<html></html>", chart_path=str(png)
    )
    parts = msg.get_payload()
    assert msg["To"] == "b@y, c@z"
    assert parts[0].get_content_type() == "text/html"
    assert parts[1].get_content_type() == "image/png"
    assert parts[1]["Content-ID"] == "<graph_cid>"


def _report_multisets(res) -> dict[str, list[str]]:
    """``run_report``'s rows per registered query name."""
    out = {
        name: row_multiset(["v"], [(value,)])
        for name, (_label, value) in zip(_METRIC_QUERIES, res.metrics)
    }
    cmp_cols = list(tabjolt.COMPARISON_COLUMNS)
    out["q_regressions"] = row_multiset(cmp_cols, res.regressions)
    out["q_improvements"] = row_multiset(cmp_cols, res.improvements)
    out["q_samples_today"] = row_multiset(
        ["elapsed_time", "user_id", "request_label", "response_message"], res.samples
    )
    out["q_trend_series"] = row_multiset(["summary_date", "summary_value"], res.trend)
    return out


def _registry_multisets(spark, sf_dir) -> dict[str, list[str]]:
    """The registered builders' rows, in ``_report_multisets`` form."""
    out = {}
    for name in _METRIC_QUERIES:
        rows = tabjolt.QUERIES[name](spark, sf_dir).collect()
        out[name] = row_multiset(["v"], [tuple(r) for r in rows])
    for name in _ROWSET_QUERIES:
        df = tabjolt.QUERIES[name](spark, sf_dir)
        out[name] = row_multiset(df.columns, [tuple(r) for r in df.collect()])
    return out


def _assert_registry_order(spark, sf_dir, res) -> None:
    """The report lists its changes in the order the registered Q7 and
    Q8 builders sort them (``percentage_difference`` desc, NULLs last)."""
    for name, rows in (("q_regressions", res.regressions), ("q_improvements", res.improvements)):
        want = tabjolt.QUERIES[name](spark, sf_dir).collect()
        assert [r[3] for r in rows] == [r.percentage_difference for r in want], name


def _oracle_multisets(events_parquet: str) -> dict[str, list[str]]:
    """The DuckDB ``ORACLE_SQL`` twins' rows, in ``_report_multisets``
    form."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_parquet}/*.parquet'")
    out = {}
    for name in _METRIC_QUERIES:
        rows = con.sql(tabjolt.ORACLE_SQL[name]).fetchall()
        out[name] = row_multiset(["v"], rows)
    for name in _ROWSET_QUERIES:
        res = con.sql(tabjolt.ORACLE_SQL[name])
        out[name] = row_multiset(res.columns, res.fetchall())
    return out


def test_run_report_end_to_end(spark, sf_dir):
    res = pipeline.run_report(spark, sf_dir)
    assert len(res.metrics) == 5
    assert "<h1>" in res.html_report
    assert res.regressions and res.samples
    # every section's rows made it into the html
    assert str(res.regressions[0][1]) in res.html_report
    # the report's shared frames and the registered builders agree
    assert _report_multisets(res) == _registry_multisets(spark, sf_dir)
    _assert_registry_order(spark, sf_dir, res)
    # the changes frame arrives worst-first, like Q7 and Q8
    for rows in (res.regressions, res.improvements):
        pct = [r[3] for r in rows if r[3] is not None]
        assert pct == sorted(pct, reverse=True)
    assert [d for d, _v in res.trend] == sorted(d for d, _v in res.trend)


def test_run_report_spark_jobs(spark, sf_dir, jobs_started):
    """A warm ``run_report`` runs 4 Spark jobs at sf0.001, in two
    actions: the summary's grouping-sets aggregate (its two shuffle
    stages and the result stage) and the window scan, which takes the
    anchor day and the baselines as literals and runs as one job with
    no exchange (10 jobs when the samples, the daily frame and the
    changes frame were three actions)."""
    pipeline.run_report(spark, sf_dir)
    _res, jobs = jobs_started(lambda: pipeline.run_report(spark, sf_dir))
    assert len(jobs) == 4, jobs


#: ``event_type`` values the report's map and ``isin`` literals must
#: carry unchanged: a quote, a backslash and non-ASCII text, each still
#: passing the key filter.
_ODD_KEYS = {"view": "vi'ew", "error": "err\\or", "purchase": "pürchase ünïcode"}


def _degenerate_events(e, kind: str):
    day = F.col("ts").cast("date")
    if kind == "empty":
        return e.limit(0)
    if kind in ("single_day", "stale_key", "null_anchor_values"):
        last = e.agg(F.max(day)).first()[0]
    if kind == "single_day":
        return e.filter(day == last)
    if kind == "stale_key":
        # a key with history but no row in the 3-day window
        return e.filter(~((F.col("event_type") == "purchase") & (F.datediff(F.lit(last), day) <= 3)))
    if kind == "null_anchor_values":
        # every value NULL on the anchor day, which still has samples
        return e.withColumn("value", F.when(day != last, F.col("value")))
    if kind == "odd_keys":
        return e.replace(_ODD_KEYS, subset=["event_type"])
    if kind == "null_value":
        return e.withColumn("value", F.lit(None).cast("double"))
    # null_ts: a third of the rows fall into the NULL event_date group
    return e.withColumn(
        "ts", F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("ts"))
    )


@pytest.mark.parametrize(
    "kind",
    [
        "empty",
        "single_day",
        "null_value",
        "null_ts",
        "odd_keys",
        "stale_key",
        "null_anchor_values",
    ],
)
def test_run_report_degenerate_events(spark, sf_dir, tmp_path, kind):
    """``run_report`` on an empty table, a single day, an all-NULL
    ``value`` column, NULL timestamps, keys with a quote, a backslash
    and non-ASCII text, a key with history but no row in the window,
    and an anchor day whose values are all NULL: the metrics that have
    no input come back None, and every section equals both the
    registered builders and their DuckDB twins."""
    events = tmp_path / "events.parquet"
    _degenerate_events(load_table(spark, sf_dir, "events"), kind).write.parquet(str(events))
    res = pipeline.run_report(spark, str(tmp_path), chart_out=str(tmp_path / "g.png"))
    got = _report_multisets(res)
    assert got == _registry_multisets(spark, str(tmp_path))
    assert got == _oracle_multisets(str(events))
    _assert_registry_order(spark, str(tmp_path), res)
    values = [v for _label, v in res.metrics]
    if kind == "empty":
        assert values == [None] * 5
        assert not (res.regressions or res.improvements or res.samples or res.trend)
        assert res.chart_path is None
    elif kind == "null_value":
        assert values[:3] == [None] * 3 and values[4] is None
        assert values[3] is not None  # the last event time still exists
        assert all(v is None for _d, v in res.trend)
    elif kind == "single_day":
        assert len(res.trend) == 1 and None not in values
    elif kind == "odd_keys":
        keys = {r[2] for r in res.regressions + res.improvements + res.samples}
        assert keys <= set(_ODD_KEYS.values()) and len(keys) > 1, keys
    elif kind == "stale_key":
        keys = {r[2] for r in res.regressions + res.improvements + res.samples}
        assert "purchase" not in keys and keys, keys
    elif kind == "null_anchor_values":
        assert values[:3] == [None] * 3 and res.samples
        assert all(r[0] is None for r in res.samples)
    else:
        assert (None, res.trend[0][1]) == res.trend[0]  # NULL date sorts first
        assert None not in values
