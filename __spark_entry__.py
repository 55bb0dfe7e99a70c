"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (Q7 regressions analog,
SURVEY.md §7 minimum slice) at sf0.001; ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2
plus the large-scale pipeline extensions for the DuckDB correctness
gate at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tableau_dashboard_performance_etl_automation_spark.operators import (
    analytics,
    asof,
    chunking,
    clustering,
    cohorts,
    curation,
    dedup,
    history,
    intervals,
    linkage,
    multimodal,
    profiling,
    relational_ext,
    sampling,
    scrubbing,
    similarity,
    sketches,
    starjoins,
    statstests,
    streaming_twins,
    subqueries,
    tabjolt,
    textops,
    textstats,
)

_SMOKE_SF_DIR = "/root/testdata/sf0.001"

# The driver's correctness gate checks the FIRST 50 entries of ``queries()``
# insertion order. Rotate entries that already earned a driver-green row (in
# any recorded round's CORRECTNESS_r*.json) to the tail, so newly added and
# never-checked queries always land inside the checked window — the rotation
# re-derives itself every round from the driver's own artifacts.


def _green_rounds() -> dict[str, int]:
    """name -> LATEST round whose CORRECTNESS_r*.json holds a fully
    green (rows+schema+hash) row for that query.  Drives both the
    green/unchecked split and the re-verification cadence: green
    entries re-enter the checked window longest-unverified first."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                green[name] = max(green.get(name, 0), rnd)
    return green


def _driver_green() -> set[str]:
    return set(_green_rounds())


_STALE_CACHE: set[str] | None = None


def _stale_green_names() -> set[str]:
    """Green queries whose implementation changed since their last
    driver-green round (VERDICT r9 #1: rework-aware rotation).

    ``GREEN_DIGESTS.json`` (maintained by ``tools/update_green_digests.py``,
    which computes digests in the tree each green round was recorded
    against) records each query's source digest at its last green.  A green query whose *current* digest mismatches
    — or that has no recorded digest — is treated as unchecked and
    re-enters the 50-slot window ahead of fresh greens."""
    global _STALE_CACHE
    if _STALE_CACHE is not None:
        return _STALE_CACHE
    import json
    import os

    from tableau_dashboard_performance_etl_automation_spark.digests import (
        registry_digests,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "GREEN_DIGESTS.json")) as fh:
            recorded = json.load(fh)
    except (OSError, ValueError):
        recorded = {}
    current = registry_digests(_raw_queries(), _raw_oracles())
    _STALE_CACHE = {
        name
        for name in _green_rounds()
        if recorded.get(name, {}).get("digest") != current.get(name)
    }
    return _STALE_CACHE


def _ledger_order() -> dict[str, int]:
    """Registration order, read from ``QUERY_LEDGER.json`` — an
    append-only list of query names in the order they were first
    registered (``tools/update_ledger.py`` appends new names;
    ``tests/test_entry_rotation.py`` fails if a registered query is
    missing, so the ledger cannot silently rot). No query-name
    literals live in this module."""
    import json
    import os

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "QUERY_LEDGER.json")) as fh:
            names = json.load(fh)
    except (OSError, ValueError):
        names = []
    return {name: i for i, name in enumerate(names)}


def _rotated(full: dict) -> dict:
    """Unchecked-first ordering, in three groups:

    0. never-driver-green — longest-waiting first (earliest ledger
       position); names not yet in the ledger are by definition the
       newest and sort last among the unchecked;
    1. green but REWORKED since (source digest mismatch vs
       ``GREEN_DIGESTS.json``) — stalest green round first, so a
       rework re-enters the checked window the very next round
       instead of waiting out the staleness queue (VERDICT r9 #1);
    2. fresh greens, LONGEST-UNVERIFIED first (earliest last-green
       round, then ledger position) — when groups 0+1 < 50, the free
       slots of the driver's window re-verify the stalest greens.

    With the driver checking the first 50, every query earns its
    driver row within two rounds of being registered or reworked, and
    greens keep cycling back for re-verification."""
    green = _green_rounds()
    stale = _stale_green_names()
    order = _ledger_order()
    unseen = len(order)
    # name tiebreak: ledger-unseen entries (all equally new until
    # tools/update_ledger.py runs) order identically in queries() and
    # oracle_sql() even though the module dicts declare them apart
    ranked = sorted(
        full,
        key=lambda k: (
            (0 if k not in green else (1 if k in stale else 2)),
            green.get(k, 0),
            order.get(k, unseen),
            k,
        ),
    )
    return {k: full[k] for k in ranked}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Q7 (tabjolt_email.py:385) retargeted at the events table: per-key
    historical baseline vs. current-window samples with percentage
    difference — it alone exercises scan, regex/ilike filters, casts,
    epoch→timestamp, group-by AVG, broadcast join, guarded-division
    CASE, theta filter, and a desc sort (SURVEY.md §7).
    """
    return tabjolt.q_regressions(spark, _SMOKE_SF_DIR)


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(tabjolt.QUERIES)
    out.update(analytics.QUERIES)
    out.update(dedup.QUERIES)
    out.update(similarity.QUERIES)
    out.update(textops.QUERIES)
    out.update(multimodal.QUERIES)
    out.update(relational_ext.QUERIES)
    out.update(starjoins.QUERIES)
    out.update(statstests.QUERIES)
    out.update(subqueries.QUERIES)
    out.update(sketches.QUERIES)
    out.update(scrubbing.QUERIES)
    out.update(chunking.QUERIES)
    out.update(history.QUERIES)
    out.update(intervals.QUERIES)
    out.update(linkage.QUERIES)
    out.update(clustering.QUERIES)
    out.update(curation.QUERIES)
    out.update(asof.QUERIES)
    out.update(sampling.QUERIES)
    out.update(streaming_twins.QUERIES)
    out.update(profiling.QUERIES)
    out.update(cohorts.QUERIES)
    out.update(textstats.QUERIES)
    return out


def _raw_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    out.update(tabjolt.ORACLE_SQL)
    out.update(analytics.ORACLE_SQL)
    out.update(dedup.ORACLE_SQL)
    out.update(similarity.ORACLE_SQL)
    out.update(textops.ORACLE_SQL)
    out.update(multimodal.ORACLE_SQL)
    out.update(relational_ext.ORACLE_SQL)
    out.update(starjoins.ORACLE_SQL)
    out.update(statstests.ORACLE_SQL)
    out.update(subqueries.ORACLE_SQL)
    out.update(sketches.ORACLE_SQL)
    out.update(scrubbing.ORACLE_SQL)
    out.update(chunking.ORACLE_SQL)
    out.update(history.ORACLE_SQL)
    out.update(intervals.ORACLE_SQL)
    out.update(linkage.ORACLE_SQL)
    out.update(clustering.ORACLE_SQL)
    out.update(curation.ORACLE_SQL)
    out.update(asof.ORACLE_SQL)
    out.update(sampling.ORACLE_SQL)
    out.update(streaming_twins.ORACLE_SQL)
    out.update(profiling.ORACLE_SQL)
    out.update(cohorts.ORACLE_SQL)
    out.update(textstats.ORACLE_SQL)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _rotated(_raw_queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each entry in ``queries()``."""
    return _rotated(_raw_oracles())
