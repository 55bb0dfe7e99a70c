"""Run the benchmark over several seeds and record the figures.

    python3 perfbench/baseline.py --label NAME [--seeds 1-10]

From the root of a checkout. For each workload it makes one untraced run
per seed and one traced run, then writes ``perfbench/results/NAME.json``:
every run's metrics, each end-to-end metric's median, quartiles and
spread (interquartile range over median), the traced per-layer figures,
the tracing overhead (traced minus untraced median, per end-to-end
metric), the sampled query names and one ``bench.host_probe`` reading
taken before the runs. The probe and the query names are context for
telling box drift apart from code changes, not metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(args: list[str]) -> tuple[dict, dict, float, int]:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    try:
        context, result = json.loads(lines[-2]), json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"run failed: {args}")
    return context, result, wall, p.returncode


def _stats(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--label", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = str(bench["run_seconds"])
    out: dict = {
        "label": args.label,
        "run_seconds": bench["run_seconds"],
        "host_probe_seconds": _run(["--host-probe"])[1]["host_probe_seconds"],
        "workloads": {},
    }
    bad = 0
    for name in (w["name"] for w in bench["workloads"]):
        runs = []
        for seed in _seeds(args.seeds):
            ctx, res, wall, rc = _run(
                ["--workload", name, "--seed", str(seed), "--seconds", seconds, "--trace", "0"]
            )
            bad += rc != 0 or not res["correct"]
            runs.append({"seed": seed, "wall_s": wall, "result": res, "context": ctx})
            print(name, seed, f"{wall:.0f}s", json.dumps(res["metrics"]), flush=True)
        e2e = {
            m["name"]: _stats([r["result"]["metrics"][m["name"]]["value"] for r in runs])
            for m in bench["end_to_end"]
        }
        entry = {"end_to_end": e2e, "runs": runs, "sample": runs[0]["context"].get("sample")}
        ctx, res, wall, rc = _run(
            ["--workload", name, "--seed", str(runs[0]["seed"]), "--seconds", seconds, "--trace", "1"]
        )
        bad += rc != 0 or not res["correct"]
        traced = {k: v[0] for k, v in ctx["end_to_end_traced"].items()}
        entry["traced"] = {
            "seed": runs[0]["seed"],
            "wall_s": wall,
            "per_layer": {k: v["value"] for k, v in res["metrics"].items()},
            "end_to_end": traced,
            # one traced run against the untraced median
            "overhead": {k: traced[k] - e2e[k]["median"] for k in traced},
            "context": ctx,
        }
        out["workloads"][name] = entry
        for k, s in e2e.items():
            print(f"  {name} {k}: median {s['median']:.4g} spread {s['spread']:.3f}", flush=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", f"{args.label}.json"), "w") as fh:
        json.dump(out, fh, indent=1, default=str)
        fh.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
