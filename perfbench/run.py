"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Each invocation is one driver
process and a closed loop with one client (the next operation starts
when the previous one returns). It generates its inputs from ``--seed``
under ``.perfbench/`` in the checkout, gives Spark a freshly wiped
warehouse, local and temp directory there, sets the engine up through
``session.get_spark`` as ``local[<cpus>]``, measures a fixed number of
passes that take about ``--seconds`` seconds on the reference box,
checks every output, and prints as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see ``perfbench/README.md``). The
line before it is a JSON context record: pinned settings, the sampled
query names, sample counts and, in a traced run, the end-to-end
figures measured with tracing on. Every sample is kept; medians are
taken over all of them. The exit code is non-zero when any output is
wrong or any operation fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
RUN = os.path.join(WORK, "run")

#: Driver JVM heap; sized for a 4-core, 15 GB box shared with others.
DRIVER_MEM = "3g"

WORKLOADS = ("report_daily", "query_mix")


def _isolate(trace: bool) -> dict:
    """Pin the engine's knobs and confine every file Spark, the JVM and
    Python write to this invocation's wiped directory. Must run before
    pyspark starts its JVM."""
    shutil.rmtree(RUN, ignore_errors=True)
    tmp = os.path.join(RUN, "tmp")
    for d in ("warehouse", "local", "tmp", "out"):
        os.makedirs(os.path.join(RUN, d))
    cpus = len(os.sched_getaffinity(0))
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(RUN, "warehouse"),
        "SPARK_GRAFT_EXTRA_JAVA_OPTS": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "SPARK_LOCAL_DIRS": os.path.join(RUN, "local"),
        "TMPDIR": tmp,
        # Python workers (pandas UDFs) import the package from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    }
    os.environ.update(pins)
    if trace:
        from spans import eventlog_conf

        os.environ["PYSPARK_SUBMIT_ARGS"] = eventlog_conf(os.path.join(RUN, "eventlog"))
    else:
        os.environ["PYSPARK_SUBMIT_ARGS"] = "pyspark-shell"
    sys.path.insert(0, ROOT)
    return {"cpus": cpus, "driver_mem": DRIVER_MEM}


def _host_probe() -> int:
    """Print ``bench.host_probe`` (a fixed synthetic workload's wall)
    measured on the benchmark's own pinned session."""
    import bench
    import workloads
    from tableau_dashboard_performance_etl_automation_spark.session import get_spark

    spark = get_spark("perfbench-probe")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        seconds = bench.host_probe(spark)
    finally:
        spark.stop()
        workloads._stop_jvm()
    print(json.dumps({"host_probe": True}))
    print(json.dumps({"host_probe_seconds": seconds}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--host-probe", action="store_true", help="only time bench.host_probe")
    args = ap.parse_args()
    if not args.host_probe and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    sys.path.insert(0, HERE)
    pins = _isolate(bool(args.trace))
    if args.host_probe:
        return _host_probe()
    import workloads  # imports the package: fails outside a full checkout

    res = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace))
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **pins,
        **res["context"],
    }
    if args.trace:
        context["end_to_end_traced"] = res["end_to_end"]
    if res["errors"]:
        context["errors"] = res["errors"][:20]
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps(context, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": not res["errors"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if not res["errors"] else 1


if __name__ == "__main__":
    sys.exit(main())
