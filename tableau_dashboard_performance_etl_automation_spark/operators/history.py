"""Warehouse history/maintenance passes: slowly-changing-dimension
interval construction (SCD type 2) from an event log, and a
referential-integrity audit across every foreign-key edge of the star
schema — the jobs that run nightly around the analytic queries.

Scale notes (100 TB): the SCD2 build is the gaps-and-islands pattern
— one window partitioned by the entity key (per-user ordering only;
no global sort, state bounded by one entity's history per task) and
one hash aggregate. The FK audit is a union of LEFT ANTI joins; each
edge's parent side is either a broadcastable dimension or the natural
shuffle key the fact is already organized by, and only per-edge
violation COUNTS survive to the result.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table


def _band() -> Column:
    """Spend band for an event value — the SCD2 'attribute' whose
    changes open/close validity intervals. Boundaries are integer
    literals compared against a double, identical in both engines."""
    return (
        F.when(F.col("value") < 50, "low")
        .when(F.col("value") < 200, "mid")
        .otherwise("high")
    )


_BAND_SQL = (
    "CASE WHEN value < 50 THEN 'low' "
    "WHEN value < 200 THEN 'mid' ELSE 'high' END"
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def scd2_user_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the SCD type-2 history of each user's spend band from the
    raw event log: consecutive same-band events collapse into one
    validity interval [valid_from, valid_to] with its event count.

    Gaps-and-islands: a lag-change marker and its running sum assign a
    segment id inside each user's ordered history, then one aggregate
    per (user, segment). The (ts, event_id) tiebreak makes segment
    boundaries deterministic under equal timestamps. Timestamps are
    rendered as strings so cross-engine type mapping cannot drift.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _band().alias("band")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "chg",
        F.when(
            F.lag("band").over(w).isNull()
            | (F.lag("band").over(w) != F.col("band")),
            1,
        ).otherwise(0),
    ).withColumn(
        "seg",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        marked.groupBy("user_id", "seg", "band")
        .agg(
            F.date_format(F.min("ts"), _TS_FMT).alias("valid_from"),
            F.date_format(F.max("ts"), _TS_FMT).alias("valid_to"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("seg").cast("bigint").alias("seg"),
            "band",
            "valid_from",
            "valid_to",
            "n_events",
        )
        .orderBy("user_id", "seg")
    )


#: (edge name, child table, child key, parent table, parent key).
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count referential-integrity violations (orphaned child rows)
    on every FK edge of the star schema — the audit that gates a
    warehouse load. LEFT ANTI join per edge (dimension parents
    broadcast), reduced to counts before the union, so the result is
    always exactly one row per edge regardless of fact size."""
    counts = []
    for edge, child_t, child_k, parent_t, parent_k in _FK_EDGES:
        child = load_table(spark, sf_dir, child_t).select(child_k)
        parent = load_table(spark, sf_dir, parent_t).select(parent_k)
        orphans = child.join(
            parent, child[child_k] == parent[parent_k], "left_anti"
        )
        counts.append(
            orphans.agg(
                F.lit(edge).alias("fk_edge"),
                F.count(F.lit(1)).alias("n_orphans"),
            )
        )
    return reduce(DataFrame.unionAll, counts).orderBy("fk_edge")


QUERIES = {
    "scd2_user_bands": scd2_user_bands,
    "fk_integrity_audit": fk_integrity_audit,
}

ORACLE_SQL = {
    "scd2_user_bands": f"""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   {_BAND_SQL} AS band,
                   CASE WHEN LAG({_BAND_SQL}) OVER w IS NULL
                             OR LAG({_BAND_SQL}) OVER w <> {_BAND_SQL}
                        THEN 1 ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        seg AS (
            SELECT user_id, ts, band,
                   CAST(SUM(chg) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS seg
            FROM marked
        )
        SELECT user_id, seg, band,
               strftime(MIN(ts), '{_TS_FMT_DUCK}') AS valid_from,
               strftime(MAX(ts), '{_TS_FMT_DUCK}') AS valid_to,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM seg
        GROUP BY user_id, seg, band
        ORDER BY user_id, seg
    """,
    "fk_integrity_audit": """
        SELECT * FROM (
            SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
                   CAST(COUNT(*) AS BIGINT) AS n_orphans
            FROM lineitem WHERE l_orderkey NOT IN
                 (SELECT o_orderkey FROM orders)
            UNION ALL
            SELECT 'lineitem.l_partkey->part',
                   CAST(COUNT(*) AS BIGINT)
            FROM lineitem WHERE l_partkey NOT IN
                 (SELECT p_partkey FROM part)
            UNION ALL
            SELECT 'lineitem.l_suppkey->supplier',
                   CAST(COUNT(*) AS BIGINT)
            FROM lineitem WHERE l_suppkey NOT IN
                 (SELECT s_suppkey FROM supplier)
            UNION ALL
            SELECT 'orders.o_custkey->customer',
                   CAST(COUNT(*) AS BIGINT)
            FROM orders WHERE o_custkey NOT IN
                 (SELECT c_custkey FROM customer)
            UNION ALL
            SELECT 'customer.c_nationkey->nation',
                   CAST(COUNT(*) AS BIGINT)
            FROM customer WHERE c_nationkey NOT IN
                 (SELECT n_nationkey FROM nation)
            UNION ALL
            SELECT 'supplier.s_nationkey->nation',
                   CAST(COUNT(*) AS BIGINT)
            FROM supplier WHERE s_nationkey NOT IN
                 (SELECT n_nationkey FROM nation)
            UNION ALL
            SELECT 'nation.n_regionkey->region',
                   CAST(COUNT(*) AS BIGINT)
            FROM nation WHERE n_regionkey NOT IN
                 (SELECT r_regionkey FROM region)
        )
        ORDER BY fk_edge
    """,
}


def cdc_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics (the nightly CDC apply): fold the latest
    order per customer into the customer dimension — WHEN MATCHED →
    'update' rows carrying the new last-order attributes, WHEN NOT
    MATCHED BY SOURCE → 'unchanged' snapshot rows, WHEN NOT MATCHED
    BY TARGET → 'insert' rows for changelog keys absent from the
    snapshot (0 on this corpus — the FK audit proves orders ⊆
    customer — but the branch is real and unit-tested on synthetic
    orphans).

    Plan: the changelog collapses to one row per key with an argmax
    (MAX of a (date, key, …) struct — map-side combinable, no window
    sort), then ONE full-outer equi-join on the dimension key decides
    all three MERGE branches. Both sides shuffle on the same key, so
    at 100 TB this is a single co-partitioned exchange; no branch
    materializes more than its own rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    latest = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.struct("o_orderdate", "o_orderkey", "o_orderstatus", "o_totalprice")
            ).alias("m")
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("m.o_orderkey").alias("last_orderkey"),
            F.col("m.o_orderstatus").alias("last_status"),
            F.round(F.col("m.o_totalprice"), 2).alias("last_price"),
        )
    )
    merged = cust.join(
        latest, cust["c_custkey"] == latest["custkey"], "full_outer"
    )
    action = (
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("custkey").isNull(), "unchanged")
        .otherwise("update")
    )
    return merged.select(
        F.coalesce(F.col("c_custkey"), F.col("custkey")).alias("custkey"),
        action.alias("action"),
        "last_orderkey",
        "last_status",
        "last_price",
    ).orderBy("custkey")


QUERIES["cdc_upsert_customers"] = cdc_upsert_customers

ORACLE_SQL["cdc_upsert_customers"] = """
    WITH latest AS (
        SELECT o_custkey AS custkey,
               o_orderkey AS last_orderkey,
               o_orderstatus AS last_status,
               ROUND(o_totalprice, 2) AS last_price
        FROM (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC
                   ) AS rn
            FROM orders
        )
        WHERE rn = 1
    )
    SELECT COALESCE(c.c_custkey, l.custkey) AS custkey,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN l.custkey IS NULL THEN 'unchanged'
                ELSE 'update' END AS action,
           l.last_orderkey, l.last_status, l.last_price
    FROM customer c FULL OUTER JOIN latest l
      ON c.c_custkey = l.custkey
    ORDER BY custkey
"""


def scd2_point_in_time_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-in-time (PIT) lookup against the SCD2 band history: every
    purchase event joins the band interval that was CURRENT at its
    event time — the temporal-dimension join every warehouse with
    slowly-changing dimensions runs (feature stores call it the
    point-in-time-correct join; ``asof.py`` is its nearest-event
    cousin, this is exact interval membership).

    Scale shape: an equi-join on ``user_id`` with the interval test
    applied inside the join — each user's history rows are few, so
    the pair space per user is events × segments of THAT user, never
    cross-user. Interval bounds compare as ``yyyy-MM-dd HH:mm:ss``
    strings, whose lexicographic order IS chronological order —
    engine-identical with zero timestamp-type drift. Boundary note:
    a purchase whose ts equals the shared boundary of two segments
    (band flip within one timestamp) matches both intervals; the
    predicate is identical in the oracle, so the (deterministic)
    double-count cannot diverge.

    Returns (band, n_purchases, value_cents) ordered by band.
    """
    bands = scd2_user_bands(spark, sf_dir).select(
        "user_id", "band", "valid_from", "valid_to"
    )
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_format("ts", _TS_FMT).alias("pts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return (
        p.join(
            bands,
            (p["user_id"] == bands["user_id"])
            & (F.col("pts") >= F.col("valid_from"))
            & (F.col("pts") <= F.col("valid_to")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("value_cents"),
        )
        .repartition(1)
        .orderBy("band")
    )


QUERIES["scd2_point_in_time_purchases"] = scd2_point_in_time_purchases

ORACLE_SQL["scd2_point_in_time_purchases"] = f"""
    WITH hist AS ({ORACLE_SQL["scd2_user_bands"]})
    SELECT h.band AS band,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events e
    JOIN hist h ON h.user_id = e.user_id
               AND strftime(e.ts, '{{duck_fmt}}') >= h.valid_from
               AND strftime(e.ts, '{{duck_fmt}}') <= h.valid_to
    WHERE e.event_type = 'purchase'
    GROUP BY h.band
    ORDER BY band
""".replace("{duck_fmt}", _TS_FMT_DUCK)


# ---------------------------------------------------------------------------
# Snapshot diff + incremental aggregate maintenance — the two passes a
# warehouse runs BETWEEN snapshots: "what changed since yesterday's
# version" and "fold the change into the stored rollup without
# rescanning history".
# ---------------------------------------------------------------------------

#: Deterministic next-day simulation knobs for the snapshot diff:
#: every 97th key is deleted, every 5th surviving key gets a +10.00
#: balance restatement, every 193rd key spawns a brand-new customer
#: (key shifted past MAX(c_custkey)). Scaffolding, not the operator —
#: the operator is the hash-compare diff below.
DIFF_DELETE_MOD = 97
DIFF_UPDATE_MOD = 5
DIFF_INSERT_MOD = 193


def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff — classify every key of two snapshots of
    the customer dimension as added / removed / changed / unchanged
    and emit one audit row per class: row count plus an
    order-independent key checksum (the same md5-sum fold as
    ``dataset_content_checksums``, so the diff report is itself
    verifiable against an independently computed copy).

    The operator is ONE full-outer equi-join on the snapshot key with
    a row-content hash compare — both sides shuffle on the same key
    (co-partitioned single exchange), only per-class aggregates
    survive, and nothing is ever sorted.  At 100 TB this is the cheap
    way to answer "what did the vendor's new drop actually change":
    the alternative the fold replaces — collect both versions and
    compare sorted dumps — is quadratic in operator pain and linear
    in driver memory.  V2 is simulated from V1 by deterministic
    arithmetic (see DIFF_*_MOD) so both engines construct the
    identical pair of versions.
    """
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    max_key = cust.agg(F.max("c_custkey").alias("mk"))
    v1 = cust
    survivors = cust.filter(F.col("c_custkey") % DIFF_DELETE_MOD != 0)
    updated = survivors.withColumn(
        "cents",
        F.when(
            F.col("c_custkey") % DIFF_UPDATE_MOD == 0,
            F.col("cents") + 1000,
        ).otherwise(F.col("cents")),
    )
    inserts = (
        cust.filter(F.col("c_custkey") % DIFF_INSERT_MOD == 0)
        .crossJoin(F.broadcast(max_key))  # 1-row aggregate, bounded
        .select(
            # +1 past the max key: key 0 is its own insert source,
            # and 0 + max would collide with the existing max key
            (F.col("c_custkey") + F.col("mk") + 1).alias("c_custkey"),
            "c_nationkey",
            F.lit("NEWSEG").alias("c_mktsegment"),
            F.lit(0).cast("bigint").alias("cents"),
        )
    )
    v2 = updated.unionByName(inserts)

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        sep = F.lit("|")
        canon = F.concat(
            F.col("c_custkey").cast("string"),
            sep,
            F.col("c_nationkey").cast("string"),
            sep,
            F.col("c_mktsegment"),
            sep,
            F.col("cents").cast("string"),
        )
        return df.select(
            F.col("c_custkey").alias(f"key_{tag}"),
            F.md5(canon).alias(f"rh_{tag}"),
        )

    a = hashed(v1, "a")
    b = hashed(v2, "b")
    diff_class = (
        F.when(F.col("key_a").isNull(), "added")
        .when(F.col("key_b").isNull(), "removed")
        .when(F.col("rh_a") != F.col("rh_b"), "changed")
        .otherwise("unchanged")
    )
    key = F.coalesce(F.col("key_a"), F.col("key_b"))
    return (
        a.join(b, a["key_a"] == b["key_b"], "full_outer")
        .select(
            diff_class.alias("diff_class"),
            md5_hex_bigint(F.md5(key.cast("string")), 1, 12).alias("kh"),
        )
        .groupBy("diff_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("kh").cast("bigint").alias("key_checksum"),
        )
        .repartition(1)
        .orderBy("diff_class")
    )


QUERIES["snapshot_table_diff"] = snapshot_table_diff


def _hex12_sql(expr: str) -> str:
    """12-hex-digit BIGINT fold of an md5 expression (DuckDB; shared
    ``hashing.md5_hex_bigint_sql``)."""
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint_sql,
    )

    return md5_hex_bigint_sql(f"md5({expr})", 1, 12)


ORACLE_SQL["snapshot_table_diff"] = f"""
    WITH cust AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    v2 AS (
        SELECT c_custkey, c_nationkey, c_mktsegment,
               CASE WHEN c_custkey % {DIFF_UPDATE_MOD} = 0
                    THEN cents + 1000 ELSE cents END AS cents
        FROM cust WHERE c_custkey % {DIFF_DELETE_MOD} != 0
        UNION ALL
        SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM cust),
               c_nationkey, 'NEWSEG', CAST(0 AS BIGINT)
        FROM cust WHERE c_custkey % {DIFF_INSERT_MOD} = 0
    ),
    a AS (
        SELECT c_custkey AS key_a,
               md5(c_custkey::STRING || '|' || c_nationkey::STRING
                   || '|' || c_mktsegment || '|' || cents::STRING)
                   AS rh_a
        FROM cust
    ),
    b AS (
        SELECT c_custkey AS key_b,
               md5(c_custkey::STRING || '|' || c_nationkey::STRING
                   || '|' || c_mktsegment || '|' || cents::STRING)
                   AS rh_b
        FROM v2
    )
    SELECT CASE WHEN key_a IS NULL THEN 'added'
                WHEN key_b IS NULL THEN 'removed'
                WHEN rh_a != rh_b THEN 'changed'
                ELSE 'unchanged' END AS diff_class,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_hex12_sql("COALESCE(key_a, key_b)::STRING")})
                AS BIGINT) AS key_checksum
    FROM a FULL OUTER JOIN b ON key_a = key_b
    GROUP BY 1
    ORDER BY diff_class
"""


#: Days of events treated as the "new batch" the stored rollup has
#: not yet absorbed (everything later than max(ts) − this many days).
REFRESH_DELTA_DAYS = 7


def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: refresh a stored
    per-(event_type, day) rollup — count / value-cents sum / max —
    by MERGING the stored partial aggregates with the new batch's
    partial aggregates, never rescanning history rows.

    The merge works because every kept statistic is a mergeable
    state: COUNT and SUM combine by +, MAX by MAX — the algebra
    behind every incremental-view-maintenance engine.  Here both
    halves derive from the same parquet (base = days ≤ cutoff, delta
    = days > cutoff, cutoff = max day − {REFRESH_DELTA_DAYS}); in
    production the base half is a stored artifact, so the refresh
    cost is |delta| + |rollup|, independent of history size — THE
    property that matters when history is 100 TB and the nightly
    delta is 100 GB.  Result provably equals the full recompute: the
    oracle is the plain one-pass GROUP BY over all events.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    cutoff = ev.agg(
        F.date_sub(F.max("day"), REFRESH_DELTA_DAYS).alias("cutoff")
    )
    tagged = ev.crossJoin(F.broadcast(cutoff))  # 1-row aggregate

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
        )

    base = rollup(tagged.filter(F.col("day") <= F.col("cutoff")))
    delta = rollup(tagged.filter(F.col("day") > F.col("cutoff")))
    return (
        base.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
            F.max("max_cents").cast("bigint").alias("max_cents"),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "total_cents",
            "max_cents",
        )
        .orderBy("event_type", "day")
    )


QUERIES["incremental_agg_refresh"] = incremental_agg_refresh

# the refresh must equal the from-scratch rollup — that equality IS
# the incremental-maintenance contract, so the oracle is the full
# recompute (no base/delta split on the DuckDB side)
ORACLE_SQL["incremental_agg_refresh"] = """
    SELECT event_type,
           CAST(CAST(ts AS DATE) AS STRING) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    ORDER BY event_type, day
"""
