"""Day-wise trend chart sink — twin of ``create_average_time_graph``
(tabjolt_email.py:81-122): markers, per-point annotations, 45° date
ticks, 1000 ms y-tick grid.

Two rendering backends, matplotlib preferred when importable, and a
dependency-free fallback (``png_mini``: stdlib zlib/struct PNG writer
with a built-in 5×7 font) otherwise — so the daily-email pipeline
produces a real, decodable chart PNG in every environment, matching
the reference golden's raster shape (1000×600 RGBA,
``average_time_graph.png``). The pure data-preparation step is
exposed separately so it stays tested independent of backend.
"""

from __future__ import annotations

try:  # pragma: no cover - environment-dependent
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    HAVE_MATPLOTLIB = True
except ImportError:  # pragma: no cover
    plt = None
    HAVE_MATPLOTLIB = False


def trend_points(rows) -> tuple[list, list]:
    """(dates, values) sorted by date — the reference re-sorts
    client-side (tabjolt_email.py:94); sorting here keeps the chart
    correct regardless of upstream ordering. Points without a date or
    a value (the NULL-date group, an all-NULL day) are not drawn."""
    pairs = sorted(
        (r[0], int(r[1])) for r in rows if r[0] is not None and r[1] is not None
    )
    if not pairs:
        return [], []
    dates, values = zip(*pairs)
    return list(dates), list(values)


def ytick_ceiling(max_value: int) -> int:
    """Y-axis upper bound: ceil to the next 1000 plus one grid step
    (tabjolt_email.py:103)."""
    return (int(max_value / 1000) + 1) * 1000 + 1000


def render_trend_chart(rows, out_path: str) -> str | None:
    """Render the day-wise average chart; ``None`` only for an empty
    series. Uses matplotlib when available (pixel-parity with the
    reference), else the stdlib raster fallback."""
    dates, values = trend_points(rows)
    if not values:
        return None
    if not HAVE_MATPLOTLIB:
        return _render_trend_chart_stdlib(dates, values, out_path)
    plt.figure(figsize=(10, 6))
    plt.plot(dates, values, marker="o", linestyle="-")
    plt.xlabel("Date")
    plt.ylabel("Average Time (ms)")
    plt.title("Average Time Taken (Day Wise)")
    plt.xticks(rotation=45)
    plt.yticks(range(1000, ytick_ceiling(max(values)), 1000))
    for date, value in zip(dates, values):
        plt.annotate(
            f"{value}", (date, value), textcoords="offset points",
            xytext=(0, 10), ha="center",
        )
    plt.tight_layout()
    plt.savefig(out_path)
    plt.close()
    return out_path


#: Raster geometry of the fallback — matches the reference golden's
#: 10in×6in @ 100 dpi figure (average_time_graph.png: 1000×600 RGBA).
_FIG_W, _FIG_H = 1000, 600
_MARGIN_L, _MARGIN_R, _MARGIN_T, _MARGIN_B = 95, 40, 50, 130
_BLUE = (31, 119, 180, 255)  # matplotlib C0
_BLACK = (0, 0, 0, 255)
_GRAY = (120, 120, 120, 255)


def _render_trend_chart_stdlib(dates, values, out_path: str) -> str:
    """Dependency-free twin of the matplotlib path: line + circular
    markers, per-point value annotations 10 px above, 45°-stepped
    date tick labels, 1000 ms y ticks, titled/labelled axes — drawn
    on a ``png_mini.Canvas`` and written as a real RGBA PNG."""
    from tableau_dashboard_performance_etl_automation_spark.reports import png_mini

    cv = png_mini.Canvas(_FIG_W, _FIG_H)
    x0, x1 = _MARGIN_L, _FIG_W - _MARGIN_R
    y0, y1 = _MARGIN_T, _FIG_H - _MARGIN_B  # y0 = top, y1 = axis

    top_tick = ytick_ceiling(max(values)) - 1000  # last tick drawn
    ymax = top_tick + 1000  # headroom for annotations
    labels = [str(d) for d in dates]
    # x positions: true date spacing when the series carries
    # date-like values (uneven gaps show as uneven spacing, like
    # matplotlib); positional spacing otherwise
    try:
        ords = [d.toordinal() for d in dates]
    except AttributeError:
        ords = list(range(len(dates)))
    omin, omax = min(ords), max(ords)
    span = (omax - omin) or 1

    def px(o) -> int:
        if omax == omin:
            return (x0 + x1) // 2
        return x0 + round((o - omin) / span * (x1 - x0))

    def py(v) -> int:
        return y1 - round(v / ymax * (y1 - y0))

    # axes box (all four spines, matplotlib default)
    for ax, ay, bx, by in (
        (x0, y1, x1, y1),
        (x0, y0, x0, y1),
        (x0, y0, x1, y0),
        (x1, y0, x1, y1),
    ):
        cv.line(ax, ay, bx, by, _BLACK)

    # y ticks every 1000 ms; label at most ~12 to stay legible
    n_ticks = top_tick // 1000
    label_every = max(1, -(-n_ticks // 12))
    for i in range(1, n_ticks + 1):
        v = i * 1000
        ty = py(v)
        cv.line(x0 - 4, ty, x0, ty, _BLACK)
        if i % label_every == 0:
            s = str(v)
            cv.text(x0 - 8 - cv.text_width(s), ty - 3, s, _BLACK)

    # x ticks: one per point, 45°-stepped date labels
    x_every = max(1, -(-len(dates) // 16))
    for i, (o, lab) in enumerate(zip(ords, labels)):
        tx = px(o)
        cv.line(tx, y1, tx, y1 + 4, _BLACK)
        if i % x_every == 0:
            cv.text(tx - 6, y1 + 10, lab, _BLACK, rot=45)

    # the series: polyline, markers, annotations
    pts = [(px(o), py(v)) for o, v in zip(ords, values)]
    for (ax, ay), (bx, by) in zip(pts, pts[1:]):
        cv.line(ax, ay, bx, by, _BLUE, thick=2)
    for (mx, my), v in zip(pts, values):
        cv.disc(mx, my, 4, _BLUE)
        s = str(v)
        # centered 10 px above the marker, clamped inside the axes
        # box so edge points don't collide with the y tick labels
        ax_ = min(max(mx - cv.text_width(s) // 2, x0 + 2), x1 - cv.text_width(s))
        cv.text(ax_, my - 10 - png_mini.GLYPH_H, s, _BLACK)

    title = "Average Time Taken (Day Wise)"
    cv.text(
        (_FIG_W - cv.text_width(title, 2)) // 2, 14, title, _BLACK, scale=2
    )
    cv.text((x0 + x1) // 2 - cv.text_width("Date") // 2, _FIG_H - 18, "Date", _GRAY)
    ylab = "Average Time (ms)"
    cv.text(14, (y0 + y1) // 2 + cv.text_width(ylab) // 2, ylab, _GRAY, rot=90)

    with open(out_path, "wb") as fh:
        fh.write(png_mini.encode_png(cv))
    return out_path
