"""As-of join — the classic time-series operator Spark has no
built-in for (SURVEY.md §2.6 notes the reference has none either;
this is engine capability beyond both).

Semantics: for each left-side event, attach the most recent
right-side event with the same key at or before its timestamp.

Spark-first implementation: the **union + partitioned window** form —
tag both streams, union them, and carry the right side's latest value
forward with ``last_value(..., ignoreNulls) OVER (PARTITION BY key
ORDER BY ts)``. One shuffle on the key, state bounded per key,
no range cross-join, no per-key driver loop — this is the shape that
scales to billions of rows per day. (A range-join would compare every
left row against every right row in a time bucket; the union form is
strictly cheaper when the right side is dense.)

The DuckDB oracle uses its native ``ASOF JOIN`` — two genuinely
different algorithms validating each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_value_cols: list[str],
) -> DataFrame:
    """Generic as-of join: left rows + latest right values at-or-before
    each left timestamp. Ties (equal ts) see the right row, matching
    ASOF JOIN's ``>=`` convention."""
    l_tagged = left.withColumn("_side", F.lit(1))
    r_tagged = right.select(
        key, ts, *right_value_cols
    ).withColumn("_side", F.lit(0))
    merged = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    # right rows sort before left rows at the same timestamp so a
    # same-instant right row is visible to the left row (>= semantics)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged
    for c in right_value_cols:
        carried = carried.withColumn(
            f"_asof_{c}",
            F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True).over(w),
        )
    out = carried.filter(F.col("_side") == 1).drop("_side", *right_value_cols)
    for c in right_value_cols:
        out = out.withColumnRenamed(f"_asof_{c}", f"asof_{c}")
    return out


def purchases_with_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution query: every purchase event with the user's most
    recent click at-or-before it (ts compared at epoch-micros
    precision; rendered as strings for the oracle)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    joined = asof_join(
        purchases, clicks, key="user_id", ts="ts", right_value_cols=["click_id"]
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.round(F.col("purchase_value"), 2).alias("purchase_value"),
        F.col("asof_click_id").alias("last_click_id"),
    ).orderBy("purchase_id")


#: Click lookback window: a click at most this many minutes BEFORE a
#: purchase (same user) pairs with it.
CLICK_WINDOW_MIN = 60


def purchase_click_pairs(
    spark: SparkSession, sf_dir: str, how: str = "inner"
) -> DataFrame:
    """Interval (range) join: each purchase (``purchase_id``,
    ``user_id``, ``purchase_ts``) with every click (``click_id``,
    ``click_ts``) of the same user in the ``CLICK_WINDOW_MIN``-minute
    window ending at the purchase; ``how="left"`` keeps clickless
    purchases with NULL click columns. The window-join, attribution and
    multi-touch queries are projections or aggregates of it.

    Spark evaluates the equi-part (user_id) as the join key — only the
    time-range predicate is post-join, so this shuffles once on
    user_id, never a cross product.
    """
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {CLICK_WINDOW_MIN} MINUTES")
        ),
        how,
    ).drop("c_user")


def purchase_click_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (purchase, click) pair of :func:`purchase_click_pairs`
    with the click-to-purchase gap."""
    return (
        purchase_click_pairs(spark, sf_dir)
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            (
                F.unix_millis("purchase_ts") - F.unix_millis("click_ts")
            ).alias("gap_ms"),
        )
        .orderBy("purchase_id", "click_id")
    )


QUERIES = {
    "purchases_with_last_click": purchases_with_last_click,
    "purchase_click_window_join": purchase_click_window_join,
}

ORACLE_SQL = {
    # DuckDB's native ASOF JOIN: right side must be the one carried
    # forward; ASOF LEFT JOIN keeps purchases with no prior click.
    "purchases_with_last_click": """
        SELECT p.event_id AS purchase_id,
               p.user_id AS user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
               ROUND(p.value, 2) AS purchase_value,
               c.event_id AS last_click_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY purchase_id
    """,
    "purchase_click_window_join": """
        SELECT p.event_id AS purchase_id,
               c.event_id AS click_id,
               p.user_id AS user_id,
               epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 1 HOUR
        ORDER BY purchase_id, click_id
    """,
}


def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution report: each
    purchase distributes 100 integer credit units across the clicks
    in its 1-hour lookback window — 100 to a lone click, 50/50 with
    two, 40 (first) / 20 (middles, as a pool) / 40 (last) with three
    or more — the standard marketing-mix model next to the last-click
    single-touch (:func:`purchases_with_last_click`). EVERY purchase
    is accounted: one with no window click keeps its 100 units in the
    ``unattributed`` bucket, so ``n_purchases`` is the day's full
    purchase count and credits conserve against any external order
    tally. Credits are aggregated per POSITION BUCKET per purchase
    date, so every number is an exact integer (no per-click splitting
    of the middle pool is ever materialized) and
    ``unattributed+only+first+middle+last = 100·n`` row by row — the
    pytest invariant. ``n_click_pairs`` counts (purchase, click)
    window pairs — a click inside two purchases' windows counts for
    each, by design.

    Scale shape: the single user_id-shuffled interval join of
    :func:`purchase_click_pairs` (LEFT, so clickless purchases
    survive), one per-purchase count aggregate (map-side combinable),
    a CASE projection, and a bounded per-day rollup. No windows, no
    floats."""
    per = (
        purchase_click_pairs(spark, sf_dir, "left")
        .groupBy(
            "purchase_id",
            F.col("purchase_ts").cast("date").alias("d"),
        )
        .agg(F.count("click_ts").alias("m"))
    )
    m = F.col("m")
    credited = per.select(
        "d",
        "m",
        F.when(m == 0, F.lit(100)).otherwise(0).alias("unattr_c"),
        F.when(m == 1, F.lit(100)).otherwise(0).alias("only_c"),
        F.when(m == 2, F.lit(50))
        .when(m >= 3, F.lit(40))
        .otherwise(0)
        .alias("first_c"),
        F.when(m >= 3, F.lit(20)).otherwise(0).alias("middle_c"),
        F.when(m == 2, F.lit(50))
        .when(m >= 3, F.lit(40))
        .otherwise(0)
        .alias("last_c"),
    )
    return (
        credited.groupBy(F.date_format("d", "yyyy-MM-dd").alias("purchase_date"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("m").cast("bigint").alias("n_click_pairs"),
            F.sum("unattr_c").cast("bigint").alias("unattributed"),
            F.sum("only_c").cast("bigint").alias("only_credit"),
            F.sum("first_c").cast("bigint").alias("first_credit"),
            F.sum("middle_c").cast("bigint").alias("middle_credit"),
            F.sum("last_c").cast("bigint").alias("last_credit"),
        )
        .orderBy("purchase_date")
    )


QUERIES["multi_touch_attribution"] = multi_touch_attribution

ORACLE_SQL["multi_touch_attribution"] = """
    WITH per AS (
        SELECT p.event_id AS purchase_id,
               CAST(p.ts AS DATE) AS d,
               COUNT(c.ts) AS m
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 1 HOUR
        GROUP BY p.event_id, CAST(p.ts AS DATE)
    ),
    credited AS (
        SELECT d, m,
               CASE WHEN m = 0 THEN 100 ELSE 0 END AS unattr_c,
               CASE WHEN m = 1 THEN 100 ELSE 0 END AS only_c,
               CASE WHEN m = 2 THEN 50
                    WHEN m >= 3 THEN 40 ELSE 0 END AS first_c,
               CASE WHEN m >= 3 THEN 20 ELSE 0 END AS middle_c,
               CASE WHEN m = 2 THEN 50
                    WHEN m >= 3 THEN 40 ELSE 0 END AS last_c
        FROM per
    )
    SELECT strftime(d, '%Y-%m-%d') AS purchase_date,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(m) AS BIGINT) AS n_click_pairs,
           CAST(SUM(unattr_c) AS BIGINT) AS unattributed,
           CAST(SUM(only_c) AS BIGINT) AS only_credit,
           CAST(SUM(first_c) AS BIGINT) AS first_credit,
           CAST(SUM(middle_c) AS BIGINT) AS middle_credit,
           CAST(SUM(last_c) AS BIGINT) AS last_credit
    FROM credited
    GROUP BY d
    ORDER BY purchase_date
"""


#: Decay half-life bucket width (minutes): a click's weight halves
#: every bucket — weights are EXACT powers of two (dyadic), so both
#: engines compute bit-identical doubles with no exp()/log() parity
#: risk.
DECAY_BUCKET_MIN = 10

#: Attribution lookback (minutes), same window as the U-shaped model.
DECAY_WINDOW_MIN = 60


def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: each purchase splits one
    unit of credit across its lookback-window clicks with weight
    ``2^-(Δ // {bucket})`` — recency halves every
    ``DECAY_BUCKET_MIN`` minutes — normalized per purchase; credit is
    then rolled up per (purchase_date, decay bucket). The third
    member of the attribution family (last-click → position-based →
    time-decay), and the one marketers reach for when recency, not
    position, drives conversion.

    Determinism: weights are exact dyadic rationals (the bucket index
    is integer FLOOR division of an exact millisecond delta), the
    per-purchase normalizer is a sum of ≤7 such weights, and the
    final shares are ROUND(...,4) — no transcendental functions, so
    cross-engine parity is exact-arithmetic, not libm luck.

    Scale shape: one user-key interval join (the attribution family's
    shared shape), a per-purchase normalizer window (state = one
    purchase's window clicks, bounded by the 60-minute lookback), and
    a bounded (date × 7 buckets) rollup."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    pairs = p.join(
        c,
        (p.user_id == F.col("c_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts")
            - F.expr(f"INTERVAL {DECAY_WINDOW_MIN} MINUTES")
        ),
    )
    delta_ms = F.unix_millis("purchase_ts") - F.unix_millis("click_ts")
    bucket = F.floor(
        delta_ms / F.lit(DECAY_BUCKET_MIN * 60 * 1000)
    ).cast("int")
    weighted = pairs.select(
        "purchase_id",
        F.col("purchase_ts").cast("date").alias("d"),
        bucket.alias("decay_bucket"),
        F.pow(F.lit(0.5), bucket.cast("double")).alias("w"),
    )
    norm = Window.partitionBy("purchase_id")
    credited = weighted.withColumn(
        "credit", F.col("w") / F.sum("w").over(norm)
    )
    return (
        credited.groupBy(
            F.date_format("d", "yyyy-MM-dd").alias("purchase_date"),
            "decay_bucket",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.sum("credit"), 4).alias("credit"),
        )
        .orderBy("purchase_date", "decay_bucket")
    )


QUERIES["time_decay_attribution"] = time_decay_attribution

ORACLE_SQL["time_decay_attribution"] = f"""
    WITH pairs AS (
        SELECT p.event_id AS purchase_id,
               CAST(p.ts AS DATE) AS d,
               CAST(FLOOR((epoch_ms(p.ts) - epoch_ms(c.ts))
                    / ({DECAY_BUCKET_MIN} * 60 * 1000)) AS INTEGER)
                   AS decay_bucket
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL {DECAY_WINDOW_MIN} MINUTES
    ),
    weighted AS (
        SELECT purchase_id, d, decay_bucket,
               POWER(0.5, decay_bucket) AS w
        FROM pairs
    ),
    credited AS (
        SELECT d, decay_bucket,
               w / SUM(w) OVER (PARTITION BY purchase_id) AS credit
        FROM weighted
    )
    SELECT strftime(d, '%Y-%m-%d') AS purchase_date,
           decay_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(SUM(credit), 4) AS credit
    FROM credited
    GROUP BY d, decay_bucket
    ORDER BY purchase_date, decay_bucket
"""
