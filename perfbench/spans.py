"""Spans, Spark job groups and the event-log fold behind the per-layer
metrics.

Spans are recorded in the benchmark's own code around each call into
the package's public functions; nothing inside the package is changed.
With tracing on, every span also tags the Spark jobs it starts with a
job group (``<phase>|<layer>|<detail>``), and the Spark event log,
written as a local file with the UI off, is folded per group after the
session stops.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans ``(name, start, end)`` in memory. With
    ``jobs`` true it also sets the Spark job group for each span, so the
    event log can be folded per layer."""

    def __init__(self, jobs: bool):
        self.jobs = jobs
        self.spans: list[tuple[str, float, float]] = []
        self.sc = None
        self.phase = "setup"

    def group(self, layer: str, detail: str = "") -> None:
        if self.jobs and self.sc is not None:
            self.sc.setJobGroup(f"{self.phase}|{layer}|{detail}", layer, False)

    @contextmanager
    def span(self, name: str, detail: str = ""):
        """Time the body as span ``name`` (a layer name such as
        ``delimited.load``); its Spark jobs get that layer's group."""
        self.group(name, detail)
        i = len(self.spans)
        t0 = time.perf_counter()
        self.spans.append((name, t0, t0))
        try:
            yield
        finally:
            self.spans[i] = (name, t0, time.perf_counter())

    def mark(self, name: str, start: float, end: float) -> None:
        """Record an already-timed span."""
        self.spans.append((name, start, end))

    def total(self, name: str, since: int) -> float:
        return sum(e - s for n, s, e in self.spans[since:] if n == name)


def eventlog_conf(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that make the driver JVM write an
    uncompressed event log to ``log_dir``; the UI stays off."""
    os.makedirs(log_dir, exist_ok=True)
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )


#: SQL metric (ms) of the Arrow/pandas UDF operators: time spent in
#: Python workers evaluating the UDF.
_PYTHON_EVAL = "time to run Python workers"


def fold_eventlog(log_dir: str) -> dict[str, dict]:
    """Per-layer Spark counters from every event log in ``log_dir``,
    keyed by the layer part of the job group; only jobs of the measured
    loop (phase ``loop``) count. Times in seconds, sizes in MB."""
    layers: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_layer: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    mb = 1024.0 * 1024.0

    def layer_of(props: dict | None) -> str | None:
        g = (props or {}).get("spark.jobGroup.id") or ""
        parts = g.split("|")
        return parts[1] if len(parts) >= 2 and parts[0] == "loop" else None

    # Spark writes rolling logs: one directory per application holding
    # events_<n>_<appId> parts
    parts = glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(parts, key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1]))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    layer = layer_of(ev.get("Properties"))
                    if layer is not None:
                        job_start[ev["Job ID"]] = (layer, ev["Submission Time"])
                        layers[layer]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    start = job_start.pop(ev["Job ID"], None)
                    if start is not None:
                        layers[start[0]]["job_s"] += (ev["Completion Time"] - start[1]) / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    layer = layer_of(ev.get("Properties"))
                    if layer is not None:
                        stage_layer[ev["Stage Info"]["Stage ID"]] = layer
                        layers[layer]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_layer.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if layer is None or not m:
                        continue
                    acc = layers[layer]
                    acc["tasks"] += 1
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / mb
                    sr = m.get("Shuffle Read Metrics", {})
                    acc["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / mb
                    sw = m.get("Shuffle Write Metrics", {})
                    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                    for a in ev.get("Task Info", {}).get("Accumulables", []):
                        if a.get("Name") == _PYTHON_EVAL:
                            acc["python_eval_s"] += float(a.get("Update", 0)) / 1e3
    return {k: dict(v) for k, v in layers.items()}


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


_jit_tids: dict[int, list[str]] = {}


def _jit_threads(jvm_pid: int) -> list[str]:
    """Thread ids of the JVM's JIT compiler threads (fixed for the JVM's
    life under ``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    if jvm_pid not in _jit_tids:
        tids = []
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            try:
                with open(f"/proc/{jvm_pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        tids.append(tid)
            except OSError:  # a thread that ended since the listing
                continue
        _jit_tids[jvm_pid] = tids
    return _jit_tids[jvm_pid]


def _stat_ticks(path: str, fields: slice) -> int:
    with open(path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[fields])


def work_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds (user + system) used so far by this Python process,
    the driver JVM and every process the JVM started (Python workers,
    counting those that have already ended), less the JVM's JIT
    compiler threads: compilation is warm-up, and how much of it lands
    in a pass varies from run to run."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    total = ru.ru_utime + ru.ru_stime
    if not jvm_pid:
        return total
    ticks = 0
    for pid in [jvm_pid, *descendants(jvm_pid)]:
        try:
            # utime stime cutime cstime (fields 14-17 of proc(5))
            ticks += _stat_ticks(f"/proc/{pid}/stat", slice(11, 15))
        except OSError:
            continue
    for tid in _jit_threads(jvm_pid):
        ticks -= _stat_ticks(f"/proc/{jvm_pid}/task/{tid}/stat", slice(11, 13))
    return total + ticks / _TICK


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
