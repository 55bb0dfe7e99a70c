"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target, tested on local[32]):

- **AQE on** (coalesce + skew-join): at cluster scale the static
  ``spark.sql.shuffle.partitions`` is only a starting point; AQE
  re-plans post-shuffle partition counts and splits skewed joins.
- **Non-ANSI mode**: the reference's Vertica SQL relies on lax
  string→number coercion guarded by ``REGEXP_LIKE(col,'^[0-9]+$')``
  filters (tabjolt_email.py:383-387). ANSI mode (Spark 4 default)
  would throw on dirty values instead of yielding NULL; we preserve
  the reference's filter-then-cast discipline and keep casts lax.
- **UTC session timezone**: all timestamp semantics (epoch→ts
  conversion, date windows) are defined in UTC so results are
  reproducible across machines and match the DuckDB oracle.
- **nanosAsLong**: the driver's ``events.parquet`` stores
  TIMESTAMP(NANOS) which Spark's vectorized reader rejects; we read
  nanos as BIGINT and convert in the catalog layer (catalog.py).
- **No DataFrame call-site capture**: PySpark 4.1 captures the Python
  call site of every ``functions.*`` call and ``Column`` method by
  default (a stack walk plus about ten py4j round trips each). Building
  the eight queries of perfbench's ``query_mix`` sample once took
  2,964 py4j calls with it and 1,240 without.
  The cost of turning it off: runtime errors no longer name the Python
  file and line that built the failing expression. Analysis errors
  (unknown column, type mismatch) read the same. PySpark reads the
  setting once per process, from the first active session.
- **zstd parquet writes**: every parquet file the engine writes (the
  daily ``events`` table, ``persisted_table`` and ``write_bucketed``
  artifacts) takes the codec from this one session default instead of
  Spark's snappy; the reference bulk-loads the same table into a
  compressed columnar store. On perfbench (4 cores) the stored bytes
  per input byte fell from 0.356 to 0.252 on ``report_daily`` and from
  0.408 to 0.302 on ``query_mix``. Results do not depend on the codec,
  so it is not in ``catalog._REQUIRED_SQL_CONFS``; Spark, pyarrow and
  DuckDB 1.0 all read zstd, and an artifact's stamp does not name its
  codec, so snappy artifacts stay trusted. Measured and left out, as
  events-table bytes per input byte at perfbench seed 3:

  - Parquet v2 data pages: 0.236 → 0.212, but the largest artifact
    then, a per-order, per-supplier last-ship table that
    ``order_last_shippers`` now computes in its own aggregate, stayed
    at 284.6 KB, and fewer engines read v2 pages.
  - ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``: 0.189,
    but DuckDB 1.0.0 reads those columns as ``TIMESTAMP WITH TIME
    ZONE`` (checked with ``DESCRIBE``), not ``TIMESTAMP``, which would
    change the oracle's types on files Spark writes (as in
    ``tests/test_reports.py::test_run_report_degenerate_events``).

  So timestamps stay INT96 and data pages stay v1.
- **Generated-class cache at Spark's default** (100 entries,
  ``spark.sql.codegen.cache.maxEntries``): a warm ``query_mix`` pass of
  8 queries recompiles 26 whole-stage-codegen classes on every pass.
  Measured and left out: a 2000-entry cache took the compiles to 0 per
  pass, but ``query_mix`` ``pass_cpu_s`` read 0.993× over 6
  interleaved pairs (lower in 4 of 6), so no setting is added.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Default parallelism knobs, overridable via environment.
ENV_CPUS = "SPARK_GRAFT_CPUS"
ENV_DRIVER_MEM = "SPARK_GRAFT_DRIVER_MEM"
#: Warehouse location for managed/bucketed tables and persisted
#: artifacts. Overridable so the bench's fresh-warehouse mode
#: (SPARK_GRAFT_FRESH_WAREHOUSE=1, round-11 VERDICT item 6) can point
#: one run at an empty directory and measure cold artifact builds
#: end-to-end without disturbing the shared warm warehouse.
ENV_WAREHOUSE_DIR = "SPARK_GRAFT_WAREHOUSE_DIR"
#: Extra JVM flags appended to the driver options (single local JVM =
#: driver carries the executors too). Used by the bench harness to
#: A/B JIT/GC hypotheses (e.g. -XX:ReservedCodeCacheSize) without
#: changing engine defaults.
ENV_EXTRA_JAVA = "SPARK_GRAFT_EXTRA_JAVA_OPTS"


def get_spark(app_name: str = "tdpe-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    The config block is written so the same plan scales from
    ``local[32]`` to a 1000-executor cluster: everything
    partition-count-related is AQE-adaptive, broadcast thresholds are
    explicit, and no config pins data to a single JVM.
    """
    cpus = os.environ.get(ENV_CPUS, "*")
    driver_mem = os.environ.get(ENV_DRIVER_MEM, "8g")
    extra_java = os.environ.get(ENV_EXTRA_JAVA, "")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 32 MB broadcast budget: every dimension table in the star
        # schema (region/nation/supplier/part at 100 TB lineitem
        # scale) still broadcasts; fact-fact joins shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Runtime bloom-filter join pruning (pinned on, Spark default):
        # a selective dim/fact filter semi-propagates into the big
        # fact scan as a bloom_filter_might_contain predicate. The
        # injection thresholds stay at their defaults (application
        # side >= 10 GB) — it fires exactly in the 100 TB regime it
        # exists for, not on toy scans; the plan contract is asserted
        # with lowered thresholds in tests/test_plans.py.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Shuffled-hash over sort-merge when the planner's size
        # conditions allow it (guide §3.1/§9). The round-12 fact-ladder
        # geomeans that motivated it (≈1.06× faster at 16×/64×, ≈1.26×
        # at 256×) were never committed as ladder rows or plan pairs
        # (r12 VERDICT #1), so the setting rests on no recorded
        # evidence. The planner's own gate bounds the risk: a side only
        # builds a hash map when its estimated per-partition size fits
        # (canBuildLocalHashMap). An A/B of this setting runs a parent
        # tree and a change tree through `tools/ladder.py fact`.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # tz-naive parquet micros → TIMESTAMP (session-UTC), not NTZ;
        # keeps epoch functions valid and matches the DuckDB oracle
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Call-site capture off (design notes above): it costs a stack
        # walk and py4j round trips per expression call while a query
        # is built. Runtime errors then lose the Python file and line
        # that built the failing expression; analysis errors do not.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd for every parquet write (design notes above): the events
        # table and the warehouse artifacts; results do not depend on it
        .config("spark.sql.parquet.compression.codec", "zstd")
        # 128 MB input splits: right-sized tasks at 100 TB (≈800k
        # tasks) without tiny-file overhead at test scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # managed-table state (bucketed tables) lives outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(ENV_WAREHOUSE_DIR, "/tmp/tdpe-warehouse"),
        )
        .config(
            "spark.driver.extraJavaOptions",
            ("-Dderby.system.home=/tmp/tdpe-derby " + extra_java).strip(),
        )
        .config("spark.ui.enabled", "false")
        # keep stdout machine-readable: console progress bars interleave
        # with (and in captured runs truncate) the one-line JSON outputs
        # bench.py / tools emit
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
