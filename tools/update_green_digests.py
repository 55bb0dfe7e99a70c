"""Maintain GREEN_DIGESTS.json — per-query source digest at last driver-green.

For every query whose latest ``CORRECTNESS_r*.json`` green round is
newer than its recorded one, stamp the source digest the query had in
the tree that round was recorded against: the commit that added
``CORRECTNESS_rNN.json``. That tree is exported with ``git archive``
and its digests are computed in a subprocess, so the tool gives the
same result at any commit after the round landed.

The rotation in ``__spark_entry__`` then treats any green query whose
live digest mismatches its stamp as unchecked — reworked queries
re-enter the 50-slot driver window the next round instead of waiting
out the staleness queue (VERDICT r9 finding #1 / next-round #1).

Usage:
    python tools/update_green_digests.py                 # stamp fresh greens
    python tools/update_green_digests.py --invalidate NAME [NAME...]
        # force-mark queries as reworked-since-green (used to seed the
        # ledger for reworks that predate digest tracking)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SIDE = os.path.join(ROOT, "GREEN_DIGESTS.json")

_DIGESTS_SCRIPT = """
import json, sys
sys.path.insert(0, ".")
import __spark_entry__ as e
from tableau_dashboard_performance_etl_automation_spark.digests import registry_digests
print(json.dumps(registry_digests(e._raw_queries(), e._raw_oracles())))
"""


def _git(*args: str) -> bytes:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True
    ).stdout


def digests_at_round(rnd: int) -> dict[str, str]:
    """Registry digests of the tree ``CORRECTNESS_r{rnd}.json`` was
    recorded against (the commit that added the file)."""
    name = f"CORRECTNESS_r{rnd:02d}.json"
    commit = _git(
        "log", "-1", "--diff-filter=A", "--format=%H", "--", name
    ).decode().strip()
    if not commit:
        raise SystemExit(f"{name} is not committed; commit it first")
    with tempfile.TemporaryDirectory(prefix="green-digests-") as tree:
        subprocess.run(
            ["tar", "-x", "-C", tree],
            input=_git("archive", commit),
            check=True,
        )
        out = subprocess.run(
            [sys.executable, "-c", _DIGESTS_SCRIPT],
            cwd=tree,
            check=True,
            capture_output=True,
            text=True,
        ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    import __spark_entry__ as entry_mod

    invalidate: set[str] = set()
    if argv and argv[0] == "--invalidate":
        invalidate = set(argv[1:])

    try:
        with open(SIDE) as fh:
            side = json.load(fh)
    except (OSError, ValueError):
        side = {}

    greens = entry_mod._green_rounds()
    registered = set(entry_mod._raw_queries())

    unknown = invalidate - registered
    if unknown:
        print(f"--invalidate names not registered: {sorted(unknown)}")
        return 1

    by_round: dict[int, dict[str, str]] = {}
    stamped = invalidated = pruned = 0
    for name, rnd in greens.items():
        prev = side.get(name, {})
        if prev.get("round", -1) < rnd:
            if rnd not in by_round:
                by_round[rnd] = digests_at_round(rnd)
            side[name] = {"round": rnd, "digest": by_round[rnd][name]}
            stamped += 1
    for name in invalidate:
        if name in side:
            side[name]["digest"] = "invalidated:rework-predates-digest-tracking"
        else:
            side[name] = {
                "round": greens.get(name, 0),
                "digest": "invalidated:rework-predates-digest-tracking",
            }
        invalidated += 1
    for name in list(side):
        if name not in registered:
            del side[name]
            pruned += 1

    with open(SIDE, "w") as fh:
        json.dump(dict(sorted(side.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        f"GREEN_DIGESTS.json: {len(side)} entries "
        f"({stamped} stamped, {invalidated} invalidated, {pruned} pruned)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
