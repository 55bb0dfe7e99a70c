from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tableau_dashboard_performance_etl_automation_spark.session import (
    ENV_WAREHOUSE_DIR,
    get_spark,
)

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # one empty warehouse per run: artifacts built from tmp corpora do
    # not pile up in a shared one, and no run trusts artifacts that
    # another version of the code built
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv(ENV_WAREHOUSE_DIR, str(tmp_path_factory.mktemp("warehouse")))
        spark = get_spark("tdpe-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def jobs_started(spark):
    """``jobs_started(fn)`` calls ``fn()`` under a fresh job group and
    returns ``(result, ids of the Spark jobs it started)``."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-started-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the async
        # listener bus; drain it so no started job is missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
