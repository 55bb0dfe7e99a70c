"""The two workloads. Each calls the package only through public
functions: ``session.get_spark``, ``sources.delimited.load_manifest``,
``pipeline.run_report`` (which renders ``reports.chart`` and
``reports.html``), ``__spark_entry__.queries()`` / ``oracle_sql()`` and
the ``sources.warehouse`` ledgers ``BUILD_LOG`` / ``ARTIFACT_EVENTS``.

Every workload returns its end-to-end metrics, its per-layer metrics
(per pass, from spans and the folded Spark event log), the operation
counts and the list of correctness errors.
"""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import sys
import time
from functools import reduce

import duckdb
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import __spark_entry__ as entry
import gen
import spans
from run import RUN, WORK
from tableau_dashboard_performance_etl_automation_spark import pipeline
from tableau_dashboard_performance_etl_automation_spark.operators import tabjolt
from tableau_dashboard_performance_etl_automation_spark.reports import chart, html
from tableau_dashboard_performance_etl_automation_spark.session import get_spark
from tableau_dashboard_performance_etl_automation_spark.sources import warehouse
from tableau_dashboard_performance_etl_automation_spark.sources.delimited import (
    load_manifest,
)


def _row_multiset():
    """``row_multiset`` from the repository's correctness tool, loaded
    by path (``tools`` is not a package) without keeping its path edits."""
    path = os.path.join(os.path.dirname(os.path.abspath(entry.__file__)), "tools", "check_correctness.py")
    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod.row_multiset


row_multiset = _row_multiset()

#: Input sizes. ``CORPUS_SF`` scales the ten catalog tables like the
#: engine's sf corpora; ``DAILY_ROWS`` is the delimited extract's lines.
CORPUS_SF = 0.01
DAILY_ROWS = 40_000

#: Untimed passes run as part of setup, after the first (cold) one: the
#: JVM's JIT and Spark's codegen cache keep speeding passes up for about
#: this many more, so timing them would measure the warm-up curve.
WARM_BATCHES = 3
WARM_PASSES = 2

#: Wall of one measured pass on the reference box (4 vCPUs): a daily
#: batch, and one pass over the query sample. ``--seconds`` over these
#: gives the number of measured passes.
BATCH_S = 4.0
MIX_PASS_S = 3.7

#: query_mix: a fixed stratified sample of ``queries()``: one query from
#: each of eight operator modules (``tabjolt`` runs in report_daily).
#: Four read persisted artifacts of different families and one runs a
#: pandas UDF. Fixed rather than drawn per seed, because queries differ
#: in cost by 10x and a per-seed draw would swamp the metrics with
#: sampling noise; ``--seed`` sets the data and the run order. The
#: exact top-k queries (``ann_*_topk``) are left out: they rank by a
#: rounded cosine, and on some generated corpora (seed 10) a near-tie
#: makes ``ann_cosine_topk`` disagree with its oracle.
QUERY_MIX = (
    "forecast_revenue",  # analytics
    "cross_source_dup_matrix",  # dedup; shingles -> signatures -> bands -> LSH pairs
    "multimodal_binary_meta",  # multimodal; pandas UDF
    "event_type_share",  # relational_ext
    "neardup_embedding_cosine",  # similarity; persisted LSH signatures -> pairs
    "order_last_shippers",  # starjoins; persisted last-supplier table
    "conversion_ab_ztest",  # statstests
    "boilerplate_ngram_stats",  # textops; persisted n-gram stats
)


EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_SCALARS = (
    "q_summary_avg_today",
    "q_summary_max_today",
    "q_summary_min_today",
    "q_last_run_ts",
    "q_historic_avg",
)
_ROWSETS = ("q_regressions", "q_samples_today", "q_improvements", "q_trend_series")

PER_LAYER = {
    "session.start_s": "s",
    "delimited.load_s": "s",
    "delimited.rows_per_s": "1/s",
    "delimited.reject_ratio": "ratio",
    "delimited.cached_mb": "MB",
    "table.write_s": "s",
    "table.bytes_per_input_byte": "ratio",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.python_eval_s": "s",
    "pipeline.scalar_s": "s",
    "pipeline.rowset_s": "s",
    "pipeline.collect_rows": "count",
    "reports.html_s": "s",
    "reports.html_bytes": "bytes",
    "reports.chart_s": "s",
    "warehouse.builds": "count",
    "warehouse.hits": "count",
    "warehouse.hit_ratio": "ratio",
    "warehouse.build_s": "s",
    "warehouse.bytes_written_mb": "MB",
}


class Run:
    """State shared by one invocation: the session, the tracer and the
    operation and error tallies."""

    def __init__(self, seed: int, seconds: float, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.tr = spans.Tracer(jobs=trace)
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes = 0
        self.layer: dict[str, float] = {}

    def start(self) -> float:
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.tr.sc = self.spark.sparkContext
        self.tr.mark("session.start", t0, t1)
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        return t1 - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def op(self, name: str, fn):
        """Run one operation, counting it; an exception fails it."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - every failure is reported
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None

    def cpu(self) -> float:
        return spans.work_cpu_s(self.jvm_pid)

    def measured_passes(self, nominal_s: float) -> int:
        """How many passes the measured loop runs: ``--seconds`` over
        the pass's wall on the reference box, so every run does the same
        work, at the same point of the JIT's warm-up, whatever the
        host's speed."""
        return max(2, round(self.seconds / nominal_s))


def _duck(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


def _oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.sql(sql)
    return res.columns, [tuple(r) for r in res.fetchall()]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _p50_by_name(lat: list[tuple[str, float, float]]) -> dict[str, list[float]]:
    """Median ``[wall, cpu]`` per query name."""
    by: dict[str, list[tuple[float, float]]] = {}
    for name, t, c in lat:
        by.setdefault(name, []).append((t, c))
    return {name: [statistics.median(x) for x in zip(*tc)] for name, tc in by.items()}


def _mb(n: float) -> float:
    return n / (1024.0 * 1024.0)


# --- report_daily ---------------------------------------------------------


class _ReportProbe:
    """Wraps the report's query builders and renderers (looked up by
    ``run_report`` at call time) with timestamps: a query's latency runs
    from its builder call to the next builder or renderer call, because
    ``run_report`` collects each query right after building it."""

    def __init__(self, tr: spans.Tracer, cpu):
        self.tr = tr
        self.cpu = cpu
        self.marks: list[tuple[str, float, float]] = []
        self.trend: list[tuple] = []
        self._orig = dict(tabjolt.QUERIES)
        self._chart = chart.render_trend_chart
        self._html = html.render_report

    def __enter__(self):
        tr = self.tr

        def builder(name, fn):
            def call(spark, sf_dir):
                t0 = time.perf_counter()
                self.marks.append((name, t0, self.cpu()))
                tr.group("operators.construct", name)
                df = fn(spark, sf_dir)
                tr.mark("operators.construct", t0, time.perf_counter())
                tr.group("pipeline.collect", name)
                return df

            return call

        def render_chart(rows, out_path):
            self.marks.append(("render", time.perf_counter(), self.cpu()))
            self.trend = [tuple(x) for x in rows]
            with tr.span("reports.chart"):
                return self._chart(rows, out_path)

        def render_html(*a, **kw):
            self.marks.append(("render", time.perf_counter(), self.cpu()))
            with tr.span("reports.html"):
                return self._html(*a, **kw)

        for name, fn in self._orig.items():
            tabjolt.QUERIES[name] = builder(name, fn)
        chart.render_trend_chart = render_chart
        html.render_report = render_html
        return self

    def __exit__(self, *exc):
        tabjolt.QUERIES.update(self._orig)
        chart.render_trend_chart = self._chart
        html.render_report = self._html

    def latencies(self, since: int) -> list[tuple[str, float, float]]:
        """``(query, wall, cpu)`` of every report query since mark
        ``since``."""
        m = self.marks[since:]
        return [
            (name, m[i + 1][1] - t, m[i + 1][2] - c)
            for i, (name, t, c) in enumerate(m[:-1])
            if name != "render"
        ]


def _report_oracle(good_parquet: str) -> dict:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{good_parquet}'")
    out = {}
    for name in _SCALARS + _ROWSETS:
        cols, rows = _oracle_rows(con, tabjolt.ORACLE_SQL[name])
        out[name] = row_multiset(cols, rows)
    return out


def _check_report(r: Run, res, pr, trend: list[tuple], oracle: dict, meta: dict) -> None:
    counts = [v.counts() for v in res.values()]
    good = sum(c[0] for c in counts)
    rejected = sum(c[1] for c in counts)
    lines = sum(f["lines"] for f in meta["files"])
    injected = sum(f["rejects"] for f in meta["files"])
    if good + rejected != lines or rejected != injected:
        r.fail(f"row conservation: good={good} rejected={rejected} lines={lines} injected={injected}")
    got = {name: row_multiset(["v"], [(v,)]) for name, (_label, v) in zip(_SCALARS, pr.metrics)}
    cmp_cols = ["avg_elapsed_ms", "current_elapsed_ms", "response_message", "percentage_difference"]
    got["q_regressions"] = row_multiset(cmp_cols, pr.regressions)
    got["q_improvements"] = row_multiset(cmp_cols, pr.improvements)
    got["q_samples_today"] = row_multiset(
        ["elapsed_time", "user_id", "request_label", "response_message"], pr.samples
    )
    got["q_trend_series"] = row_multiset(["summary_date", "summary_value"], trend)
    for name, rows in got.items():
        if rows != oracle[name]:
            r.fail(f"report {name} differs from the DuckDB oracle")


def report_daily(r: Run) -> dict:
    meta = gen.delimited(os.path.join(WORK, "data"), r.seed, DAILY_ROWS)
    manifest = [
        (os.path.join(meta["dir"], f["file"]), f["file"].split(".")[0], EVENTS_SCHEMA, f["delimiter"], True)
        for f in meta["files"]
    ]
    input_bytes = sum(os.path.getsize(p) for p, *_ in manifest)
    lines = sum(f["lines"] for f in meta["files"])
    out = os.path.join(RUN, "out")
    report_dir = os.path.join(out, "report")
    html_path = os.path.join(out, "report.html")
    oracle = _report_oracle(os.path.join(meta["dir"], "good_events.parquet"))
    tr = r.tr
    probe = _ReportProbe(tr, r.cpu)
    last: dict = {}

    def batch():
        with tr.span("delimited.load"):
            res = load_manifest(r.spark, manifest, reject_path=os.path.join(out, "rejects"))
        with tr.span("table.write"):
            good = reduce(lambda a, b: a.unionByName(b), [v.good for v in res.values()])
            good.write.mode("overwrite").parquet(os.path.join(report_dir, "events.parquet"))
        pr = pipeline.run_report(r.spark, report_dir, chart_out=os.path.join(out, "chart.png"))
        with open(html_path, "w") as fh:
            fh.write(pr.html_report)
        return res, pr

    def checked_batch() -> tuple[float, float, float]:
        t0, c0 = time.perf_counter(), r.cpu()
        got = r.op("daily batch", batch)
        dt, dc = time.perf_counter() - t0, r.cpu() - c0
        cached = 0.0
        if got is not None:
            res, pr = got
            phase, tr.phase = tr.phase, "check"
            tr.group("check")
            _check_report(r, res, pr, probe.trend, oracle, meta)
            tr.phase = phase
            infos = r.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            cached = _mb(sum(i.memSize() + i.diskSize() for i in infos))
            last["pr"] = pr
        # load_delimited caches its raw scan and never releases it
        r.spark.catalog.clearCache()
        return dt, dc, cached

    with probe:
        t0 = time.perf_counter()
        start_s = r.start()
        warm_s = [checked_batch()[0] for _ in range(1 + WARM_BATCHES)]
        setup_s = time.perf_counter() - t0
        tr.phase = "loop"
        since, marks0 = len(tr.spans), len(probe.marks)
        batch_s, batch_cpu, cached = [], [], []
        for _ in range(r.measured_passes(BATCH_S)):
            dt, dc, mb = checked_batch()
            batch_s.append(dt)
            batch_cpu.append(dc)
            cached.append(mb)
        lat = probe.latencies(marks0)
    r.passes = n = len(batch_s)
    stored = spans.dir_bytes(out) - os.path.getsize(html_path)
    stored += spans.dir_bytes(os.path.join(RUN, "warehouse"))
    load_s = tr.total("delimited.load", since) / n
    pr = last.get("pr")
    r.layer.update(
        {
            "session.start_s": start_s,
            "delimited.load_s": load_s,
            "delimited.rows_per_s": lines / load_s if load_s else 0.0,
            "delimited.reject_ratio": sum(f["rejects"] for f in meta["files"]) / lines,
            "delimited.cached_mb": statistics.median(cached),
            "table.write_s": tr.total("table.write", since) / n,
            "table.bytes_per_input_byte": spans.dir_bytes(os.path.join(report_dir, "events.parquet"))
            / input_bytes,
            "pipeline.scalar_s": sum(t for q, t, _c in lat if q in _SCALARS) / n,
            "pipeline.rowset_s": sum(t for q, t, _c in lat if q in _ROWSETS) / n,
            "pipeline.collect_rows": (
                len(pr.metrics) + len(pr.regressions) + len(pr.samples) + len(pr.improvements)
                + len(probe.trend)
            )
            if pr
            else 0,
            "reports.html_s": tr.total("reports.html", since) / n,
            "reports.html_bytes": len(pr.html_report.encode()) if pr else 0,
            "reports.chart_s": tr.total("reports.chart", since) / n,
        }
    )
    return {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(batch_cpu),
        "stored_bytes_ratio": stored / input_bytes,
        "_since": since,
        "_context": {
            "input_lines": lines,
            "input_bytes": input_bytes,
            "injected_rejects": meta["bad_kinds"],
            "warmup_batch_s": warm_s,
            "batch_s": batch_s,
            "batch_cpu_s": batch_cpu,
            "query_samples": len(lat),
            "query_p50_s": statistics.median(t for _q, t, _c in lat),
            "query_cpu_p50_s": statistics.median(c for _q, _t, c in lat),
            "query_p50_by_name": _p50_by_name(lat),
        },
    }


# --- query_mix ------------------------------------------------------------


def _run_query(r: Run, name: str, fn, corpus: str, collect: bool):
    """Build one registered query and execute it (collect, or write to
    the noop sink); returns ``(columns, rows)`` when collecting."""
    tr = r.tr

    def call():
        with tr.span("operators.construct", name):
            df = fn(r.spark, corpus)
        with tr.span("exec.run", name):
            if collect:
                return df.columns, [tuple(x) for x in df.collect()]
            _noop(df)
            return None

    return r.op(name, call)


def _artifact_builds(events: list[tuple[str, str]]) -> dict[str, int]:
    builds: dict[str, int] = {}
    for name, kind in events:
        builds[name] = builds.get(name, 0) + (kind == "build")
    return builds


def query_mix(r: Run) -> dict:
    """Setup is the cold pass: a fresh process on an empty warehouse
    runs every sampled query once, building the artifacts it consumes,
    and checks it against its DuckDB twin, then ``WARM_PASSES`` warm
    passes follow, the first checked against the cold rows (the checks
    untimed). The measured loop reruns the sample with the artifacts
    built."""
    corpus = gen.corpus(os.path.join(WORK, "data"), r.seed, CORPUS_SF)
    queries, oracles = entry.queries(), entry.oracle_sql()
    con = _duck(corpus)
    wh = os.path.join(RUN, "warehouse")
    tr = r.tr
    t0 = time.perf_counter()
    start_s = r.start()
    ev0, builds0 = len(warehouse.ARTIFACT_EVENTS), dict(warehouse.BUILD_LOG)
    check_s = 0.0
    cold_s = {}
    cold_rows: dict[str, tuple[list[str], list[str]]] = {}
    for name in QUERY_MIX:
        q0 = time.perf_counter()
        got = _run_query(r, name, queries[name], corpus, collect=True)
        c0 = time.perf_counter()
        cold_s[name] = c0 - q0
        if got is not None:
            cols, rows = got
            cold_rows[name] = (sorted(cols), row_multiset(cols, rows))
            ocols, orows = _oracle_rows(con, oracles[name])
            if cold_rows[name] != (sorted(ocols), row_multiset(ocols, orows)):
                r.fail(f"{name}: differs from its oracle_sql() twin")
        check_s += time.perf_counter() - c0
    ev1 = len(warehouse.ARTIFACT_EVENTS)
    built = _artifact_builds(warehouse.ARTIFACT_EVENTS[ev0:ev1])
    wrong = {n: k for n, k in built.items() if k != 1}
    if wrong:
        r.fail(f"consumed artifacts not built exactly once: {wrong}")
    build_s = sum(v - builds0.get(k, 0.0) for k, v in warehouse.BUILD_LOG.items())
    wh_bytes = spans.dir_bytes(wh)
    rng = random.Random(r.seed)

    def one_pass(lat: list, rows: dict | None = None) -> tuple[float, float]:
        """Run the sample once in a seeded order, appending each query's
        ``(name, wall, cpu)`` to ``lat``; with ``rows`` given, collect
        each query's result into it instead of the noop sink. Returns
        the pass's wall and CPU seconds."""
        order = list(QUERY_MIX)
        rng.shuffle(order)
        p0, pc0 = time.perf_counter(), r.cpu()
        for name in order:
            q0, qc0 = time.perf_counter(), r.cpu()
            got = _run_query(r, name, queries[name], corpus, collect=rows is not None)
            lat.append((name, time.perf_counter() - q0, r.cpu() - qc0))
            if got is not None:
                rows[name] = got
        return time.perf_counter() - p0, r.cpu() - pc0

    # the first warm pass reads the artifacts the cold pass built, down
    # the paths every timed pass takes; its rows must equal the cold ones
    warm_rows: dict[str, tuple[list[str], list[tuple]]] = {}
    warm_s = [one_pass([], warm_rows)[0]] + [one_pass([])[0] for _ in range(WARM_PASSES - 1)]
    c0 = time.perf_counter()
    for name, (cols, rows) in warm_rows.items():
        if name in cold_rows and (sorted(cols), row_multiset(cols, rows)) != cold_rows[name]:
            r.fail(f"{name}: warm result differs from the cold one")
    check_s += time.perf_counter() - c0
    setup_s = time.perf_counter() - t0 - check_s

    tr.phase = "loop"
    since, ev2 = len(tr.spans), len(warehouse.ARTIFACT_EVENTS)
    lat: list[tuple[str, float, float]] = []
    pass_s, pass_cpu = [], []
    for _ in range(r.measured_passes(MIX_PASS_S)):
        dt, dc = one_pass(lat)
        pass_s.append(dt)
        pass_cpu.append(dc)
    r.passes = len(pass_s)
    rebuilt = sorted(n for n, k in _artifact_builds(warehouse.ARTIFACT_EVENTS[ev1:]).items() if k)
    if rebuilt:
        r.fail(f"artifacts rebuilt after the cold pass: {rebuilt}")
    events = warehouse.ARTIFACT_EVENTS[ev2:]
    hits = sum(1 for _n, kind in events if kind != "build")
    r.layer.update(
        {
            "session.start_s": start_s,
            "warehouse.builds": sum(built.values()),
            "warehouse.build_s": build_s,
            "warehouse.bytes_written_mb": _mb(wh_bytes),
            "warehouse.hits": hits / r.passes,
            "warehouse.hit_ratio": hits / len(events) if events else 0.0,
        }
    )
    return {
        "setup_s": setup_s,
        "pass_cpu_s": statistics.median(pass_cpu),
        "stored_bytes_ratio": wh_bytes / spans.dir_bytes(corpus),
        "_since": since,
        "_context": {
            "sample": list(QUERY_MIX),
            "artifacts_built": sorted(built),
            "cold_query_s": cold_s,
            "warmup_pass_s": warm_s,
            "pass_s": pass_s,
            "pass_cpu_s": pass_cpu,
            "query_samples": len(lat),
            "query_p50_s": statistics.median(t for _q, t, _c in lat),
            "query_cpu_p50_s": statistics.median(c for _q, _t, c in lat),
            "query_p50_by_name": _p50_by_name(lat),
        },
    }


# --- driver ---------------------------------------------------------------

_EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "python_eval_s",
)


def _stop_jvm() -> None:
    """End the driver JVM (it exits when its stdin closes) and wait
    until it and the Python workers it started have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    workers = spans.descendants(gateway.proc.pid)
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.05)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    r = Run(seed, seconds, trace)
    fn = {"report_daily": report_daily, "query_mix": query_mix}[workload]
    try:
        e2e = fn(r)
        rss = spans.peak_rss_mb(r.jvm_pid)
    finally:
        r.stop()
        _stop_jvm()
    since = e2e.pop("_since")
    context = e2e.pop("_context")
    context.update({"passes": r.passes, "attempted": r.attempted})
    n = r.passes
    layer = r.layer
    layer["operators.construct_s"] = r.tr.total("operators.construct", since) / n
    if trace:
        folded = spans.fold_eventlog(os.path.join(RUN, "eventlog"))
        for key in _EXEC_KEYS:
            layer[f"exec.{key}"] = sum(v.get(key, 0.0) for v in folded.values()) / n
        layer["exec.run_s"] = sum(v.get("job_s", 0.0) for v in folded.values()) / n
        layer["operators.construct_jobs"] = folded.get("operators.construct", {}).get("jobs", 0) / n
        context["jobs_by_layer"] = {k: v.get("jobs", 0) for k, v in folded.items()}
    end_to_end = {
        "setup_s": (e2e["setup_s"], "s"),
        "pass_cpu_s": (e2e["pass_cpu_s"], "s"),
        "stored_bytes_ratio": (e2e["stored_bytes_ratio"], "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    return {
        "end_to_end": end_to_end,
        "per_layer": {k: (layer.get(k, 0.0), unit) for k, unit in PER_LAYER.items()},
        "attempted": r.attempted,
        "failed": r.failed,
        "errors": r.errors,
        "context": context,
    }
