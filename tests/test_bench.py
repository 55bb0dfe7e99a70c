"""``bench.py``'s output contract for a subset run."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_subset_run_prints_both_lines_and_keeps_bench_detail(sf_dir, tmp_path):
    """``bench.py name`` prints the detail line and the summary line but
    leaves ``BENCH_DETAIL.json`` (the committed whole-registry baseline
    that the perf-budget gate reads) byte-identical. The script runs
    from a copy, so it can only touch the copy's ``BENCH_DETAIL.json``."""
    shutil.copy(os.path.join(ROOT, "bench.py"), tmp_path)
    detail = tmp_path / "BENCH_DETAIL.json"
    baseline = b'{"metric": "query_set_wall_seconds", "queries": {}}\n'
    detail.write_bytes(baseline)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_WARM_SF_DIR": sf_dir,
        "SPARK_GRAFT_WAREHOUSE_DIR": str(tmp_path / "warehouse"),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    env.pop("SPARK_GRAFT_FRESH_WAREHOUSE", None)
    out = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py"), "q_regressions"],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    )
    lines = out.stdout.strip().splitlines()
    printed_detail, summary = json.loads(lines[-2]), json.loads(lines[-1])
    assert list(printed_detail["queries"]) == ["q_regressions"]
    assert summary["n_queries"] == 1
    assert detail.read_bytes() == baseline
