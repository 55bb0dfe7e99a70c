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

The FK audit, the snapshot diff and the incremental refresh are
registered as their SQL text (``catalog.sql_query``), which the
DuckDB oracle reads too. The two SCD2 queries stay DataFrame
builders, because their timestamp formatting has no spelling both
engines read, and so does the CDC upsert (see its docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import (
    load_table,
    oracle_text,
    sql_query,
)
from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
    md5_hex_bigint_sql,
)


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


QUERIES = {
    "scd2_user_bands": scd2_user_bands,
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

    Kept as a builder: the portable text picks the latest order with a
    ROW_NUMBER window, which shuffles and sorts every order where the
    argmax combines map-side (1.20× the builder's build + execute at
    sf0.1, median of 9 interleaved pairs).
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

#: Deterministic next-day simulation knobs for the snapshot diff:
#: every 97th key is deleted, every 5th surviving key gets a +10.00
#: balance restatement, every 193rd key spawns a brand-new customer
#: (key shifted past MAX(c_custkey)). Scaffolding, not the operator —
#: the operator is the hash-compare diff below.
DIFF_DELETE_MOD = 97
DIFF_UPDATE_MOD = 5
DIFF_INSERT_MOD = 193

#: Days of events treated as the "new batch" the stored rollup has
#: not yet absorbed (everything later than max(day) − this many days).
REFRESH_DELTA_DAYS = 7

#: Queries registered as their SQL text, ``{table}`` placeholders bound
#: per call (``catalog.sql_query``).
_TEXTS = {
    # Orphaned child rows on every FK edge of the star schema — the
    # audit that gates a warehouse load. Each NOT EXISTS is a LEFT ANTI
    # equi-join (dimension parents broadcast) reduced to one count, so
    # the result is one row per edge at any fact size.
    "fk_integrity_audit": "SELECT * FROM ("
    + " UNION ALL".join(
        f"""
        SELECT '{edge}' AS fk_edge, CAST(COUNT(*) AS BIGINT) AS n_orphans
        FROM {{{child}}} c
        WHERE NOT EXISTS (SELECT 1 FROM {{{parent}}} p
                          WHERE p.{parent_key} = c.{child_key})"""
        for edge, child, child_key, parent, parent_key in _FK_EDGES
    )
    + "\n) ORDER BY fk_edge",
    # Dataset-version diff: classify every key of two snapshots of the
    # customer dimension as added / removed / changed / unchanged, one
    # audit row per class with its row count and an order-independent
    # key checksum. One FULL OUTER equi-join on the key with a
    # row-content hash compare; only per-class aggregates survive. V2
    # is simulated from V1 by the DIFF_* arithmetic.
    "snapshot_table_diff": f"""
        WITH cust AS (
            SELECT c_custkey, c_nationkey, c_mktsegment,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
            FROM {{customer}}
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
        SELECT /*+ REPARTITION(1) */
               CASE WHEN key_a IS NULL THEN 'added'
                    WHEN key_b IS NULL THEN 'removed'
                    WHEN rh_a != rh_b THEN 'changed'
                    ELSE 'unchanged' END AS diff_class,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({md5_hex_bigint_sql(
                   "md5(COALESCE(key_a, key_b)::STRING)", 1, 12
               )}) AS BIGINT) AS key_checksum
        FROM a FULL OUTER JOIN b ON key_a = key_b
        GROUP BY 1
        ORDER BY diff_class
    """,
    # Incremental materialized-view maintenance: refresh a per-
    # (event_type, day) rollup by MERGING the stored partial aggregates
    # (days ≤ cutoff) with the new batch's (days > cutoff) — COUNT and
    # SUM combine by +, MAX by MAX — never rescanning history rows. Both
    # halves derive from the same parquet here; in production the base
    # half is stored, so the refresh costs |delta| + |rollup|. The
    # result equals the full recompute (tests check that equality).
    "incremental_agg_refresh": f"""
        WITH ev AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM {{events}}
        ),
        cut AS (
            SELECT MAX(d) - INTERVAL {REFRESH_DELTA_DAYS} DAY AS cutoff
            FROM ev
        ),
        parts AS (
            SELECT event_type, d, COUNT(*) AS n_events,
                   SUM(cents) AS total_cents, MAX(cents) AS max_cents
            FROM ev CROSS JOIN cut WHERE d <= cutoff
            GROUP BY event_type, d
            UNION ALL
            SELECT event_type, d, COUNT(*) AS n_events,
                   SUM(cents) AS total_cents, MAX(cents) AS max_cents
            FROM ev CROSS JOIN cut WHERE d > cutoff
            GROUP BY event_type, d
        )
        SELECT event_type, CAST(d AS STRING) AS day,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(SUM(total_cents) AS BIGINT) AS total_cents,
               CAST(MAX(max_cents) AS BIGINT) AS max_cents
        FROM parts
        GROUP BY event_type, d
        ORDER BY event_type, day
    """,
}

QUERIES.update({name: sql_query(text) for name, text in _TEXTS.items()})
ORACLE_SQL.update({name: oracle_text(text) for name, text in _TEXTS.items()})
