"""Relational breadth beyond the reference: semi/anti joins, set
operations, ROLLUP, existence subqueries, percent-of-total, and
approximate distinct — the remaining warehouse shapes a migrating
user will reach for.

Scale notes: semi/anti joins are expressed as Spark's LEFT SEMI/ANTI
(hash-join based, no row duplication); the percent-of-total avoids an
unpartitioned global window (a single-reducer anti-pattern) by
cross-joining a broadcast 1-row total; ROLLUP is a single multi-level
hash aggregate (Spark expands grouping sets map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
    corpus_slug,
)
from tableau_dashboard_performance_etl_automation_spark.functions.skew import (
    salted_count,
)


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no order in the recent window
    (churn candidates)."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def active_high_value_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one order over
    a price floor in the window — no duplication however many orders
    match."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") > 200000)
        & (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("c_custkey")
    )


def priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with ≥1 line shipped after the order
    date (EXISTS via semi join), counted per priority."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late_orders = orders.join(
        li.select("l_orderkey", "l_shipdate"),
        (orders.o_orderkey == F.col("l_orderkey"))
        & (F.col("l_shipdate") > orders.o_orderdate),
        "left_semi",
    )
    return (
        late_orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .repartition(1)
        .orderBy("o_orderpriority")
    )


def extreme_orders_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: distinct union of the cheapest and priciest
    order tiers."""
    orders = load_table(spark, sf_dir, "orders")
    lo = orders.filter(F.col("o_totalprice") < 1000).select(
        "o_orderkey", F.lit("LOW").alias("tier")
    )
    hi = orders.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", F.lit("HIGH").alias("tier")
    )
    return lo.union(hi).distinct().orderBy("o_orderkey")


def brand_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(p_brand, p_type): subtotal and grand-total rows
    with NULL group keys, one multi-level hash aggregate."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.rollup("p_brand", "p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .repartition(1)
        .orderBy(
            F.col("p_brand").asc_nulls_first(), F.col("p_type").asc_nulls_first()
        )
    )


def event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total without a global window: per-type aggregate
    cross-joined with a broadcast 1-row total."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("type_value"),
    )
    total = e.agg(F.count(F.lit(1)).alias("total_events"))
    return (
        per_type.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n_events",
            "type_value",
            F.round(F.col("n_events") / F.col("total_events") * 100.0, 4).alias(
                "pct_of_events"
            ),
        )
        .repartition(1)
        .orderBy("event_type")
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog-backed approximate distinct per event type.

    Sketch values differ across engines, so the raw estimate can't be
    hash-compared — instead the *accuracy contract* is the checked
    value: ``estimate_ok`` asserts the HLL estimate lands within
    ±3·rsd (rsd = 0.05 default) of the exact count, and the oracle
    expects literally TRUE. A broken sketch fails the gate; the gate
    stays green without pretending two engines' sketches agree."""
    e = load_table(spark, sf_dir, "events")
    rsd = 0.05
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 3 * rsd * F.col("exact_users")
            ).alias("estimate_ok"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


def event_type_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the explicit salting path: events
    group to only ~5 event types, which at 100 TB makes the final
    aggregate 5 straggler partitions; the two-phase salted count
    spreads each key over 16 sub-partitions first. Results are
    identical to a plain count — the oracle is the plain SQL."""
    e = load_table(spark, sf_dir, "events")
    return (
        salted_count(e.select("event_type"), "event_type", n_salts=16)
        .select("event_type", F.col("n").alias("n_events"))
        .repartition(1)
        .orderBy("event_type")
    )


#: Salt fan-out for the skew-safe fact⋈dim join (dim replicated ×S).
JOIN_SALTS = 8


def skewsafe_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⋈dim equi-join via SALTING — the standard cure
    when one join key holds a disproportionate share of fact rows (a
    celebrity user, a null-ish default key) and the dim is too big or
    the engine too old for broadcast/AQE skew handling: the fact side
    gets a deterministic salt ``pmod(hash(event_id), S)``, the dim
    side is replicated across all ``S`` salts (``explode`` of a
    literal range — S× a small dim, never S× the fact), and the join
    key becomes (user_id, salt) — each hot key's rows spread over S
    reducers instead of one straggler task.  Result is IDENTICAL to
    the plain join (the oracle): per-market-segment event totals.

    xxhash64 keys the salt (present in both engines? no — salting
    only needs determinism WITHIN Spark; the salt never affects
    output, so the oracle stays the plain unsalted SQL).  At 100 TB
    you'd pick S from the key-skew profile (``key_skew_stats``);
    AQE's skew-join handles sort-merge skew automatically, but
    salting remains the portable, plan-stable form — this operator
    keeps the technique tested and its plan contracted
    (fact-side exchange on (user_id, salt), dim exchange ≤ S×dim)."""
    e = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    salted_fact = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        F.pmod(F.xxhash64("event_id"), F.lit(JOIN_SALTS))
        .cast("int")
        .alias("salt"),
    )
    salted_dim = cust.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(JOIN_SALTS - 1)))
    ).withColumn("salt", F.col("salt").cast("int"))
    return (
        salted_fact.join(salted_dim, ["user_id", "salt"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            (F.sum("cents") / F.lit(100.0)).alias("total_value"),
        )
        .repartition(1)
        .orderBy("c_mktsegment")
    )


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: parse the JSON ``props`` column with a
    declared schema (``from_json`` — JVM-side, no UDF) and aggregate
    on the extracted field."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.withColumn(
        "k", F.from_json(F.col("props"), "struct<k:int>").getField("k")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


#: Declared pivot column set — shared by the PIVOT and its UNPIVOT
#: inverse (and their oracles) so the two lists cannot drift apart.
PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def daily_metric_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-day average value per event type, types as columns
    (the summary_line wide-format shape). Pivot values are declared
    explicitly — at scale an undeclared pivot needs an extra pass to
    discover the column set."""
    e = load_table(spark, sf_dir, "events")
    types = PIVOT_TYPES
    # Fully exact aggregation: value has 2 decimals, so sum cents as
    # bigint (order-independent), and perform the 4-decimal half-up
    # rounding ITSELF in integer arithmetic —
    # round(100*sum/cnt) == (200*sum + cnt) div (2*cnt) — because
    # engines disagree on rounding a double that sits exactly on a
    # boundary (Spark rounds the shortest decimal repr, DuckDB the
    # binary value; observed at sf0.001 with 30703/800 = 38.37875).
    exact_avg = F.expr(
        "((200 * sum(CAST(ROUND(value * 100) AS BIGINT)) + count(value))"
        " div (2 * count(value))) / 1e4"  # 1e4: double literal (10000.0
        # would parse as DECIMAL and change the output type)
    )
    return (
        e.withColumn("event_date", F.col("ts").cast("date"))
        .groupBy("event_date")
        .pivot("event_type", types)
        .agg(exact_avg)
        .select(
            F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
            *[F.col(t).alias(f"avg_{t}") for t in types],
        )
        .orderBy("event_date")
    )


def user_activity_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER snapshot merge (the SCD/upsert shape): first-half vs
    second-half month per-user activity, outer-joined so users present
    in either window survive, with COALESCE-style reconciliation."""
    e = load_table(spark, sf_dir, "events")
    mid = F.lit("2024-01-16").cast("timestamp_ntz")
    first = (
        e.filter(F.col("ts") < mid)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("h1_events"))
    )
    second = (
        e.filter(F.col("ts") >= mid)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("h2_events"))
    )
    return (
        first.join(second, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("h1_events", F.lit(0)).alias("h1_events"),
            F.coalesce("h2_events", F.lit(0)).alias("h2_events"),
            F.when(F.col("h1_events").isNull(), "new")
            .when(F.col("h2_events").isNull(), "churned")
            .otherwise("retained")
            .alias("status"),
        )
        .orderBy("user_id")
    )


def part_cube_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE(p_brand, p_size) with an explicit grouping
    id — all four aggregation levels (detail, per-brand, per-size,
    grand total) in one multi-level hash aggregate, the OLAP cross-tab
    shape. Totals accumulate exact integer cents so every level is
    bit-identical across engines; gid is computed as
    2*grouping(brand) + grouping(size) on both sides."""
    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    return (
        part.withColumn("cents", cents)
        .cube("p_brand", "p_size")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("sum_cents"),
            (F.grouping("p_brand") * 2 + F.grouping("p_size"))
            .cast("int")
            .alias("gid"),
        )
        .select(
            "gid",
            "p_brand",
            "p_size",
            "n_parts",
            (F.col("sum_cents") / F.lit(100.0)).alias("total_retail"),
        )
        .repartition(1)
        .orderBy(
            "gid",
            F.col("p_brand").asc_nulls_first(),
            F.col("p_size").asc_nulls_first(),
        )
    )


def order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NTILE(4) price quartiles within each order priority,
    rolled up to per-(priority, quartile) stats — computed WITHOUT a
    per-key row sort (tabjolt_email.py has no window ops; this is the
    engine's scale-safe exact-ntile shape: windows sort the distinct
    values of a key with their counts, never its rows).

    Exact-ntile-without-row-sort argument: compact to
    (priority, price, count) — a hash aggregate with map-side combine
    — then a per-priority cumulative-count window over DISTINCT
    prices only. NTILE(4) over n rows puts ``base = n div 4`` rows in
    each tile plus one extra in the first ``n mod 4`` tiles, so tile
    t covers ranks (B(t-1), B(t)] with
    ``B(t) = t*base + least(t, n mod 4)``.  A price-group spanning
    ranks (lo, hi] contributes ``least(hi,B(t)) - greatest(lo,B(t-1))``
    rows to tile t — and because every row in the group shares one
    price, WHICH tied rows land in which tile (the o_orderkey
    tiebreak) cannot change any per-tile count/min/max/sum.  Memory
    is bounded by distinct prices per key (the money domain), which
    stays fixed while the row count grows unbounded — at 100 TB the
    window sorts the value domain, never the rows."""
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        orders.groupBy("o_orderpriority", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "cents", F.round(F.col("o_totalprice") * 100).cast("bigint")
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    cum = counts.withColumn("hi", F.sum("cnt").over(w)).withColumn(
        "lo", F.col("hi") - F.col("cnt")
    )
    # the per-key total is a whole-partition window sum over the SAME
    # partitioning the cumulative window established — no second
    # aggregate of the compaction, no join-back (which re-ran the
    # scan+hash-agg subtree and added a broadcast exchange)
    t = F.col("quartile").cast("bigint")
    base = F.expr("n DIV 4")
    rem = F.col("n") % 4
    b_hi = t * base + F.least(t, rem)
    b_lo = (t - 1) * base + F.least(t - 1, rem)
    tiled = (
        cum.withColumn(
            "n", F.sum("cnt").over(Window.partitionBy("o_orderpriority"))
        )
        .withColumn(
            "quartile", F.explode(F.sequence(F.lit(1), F.lit(4)))
        )
        .withColumn(
            "overlap",
            F.least(F.col("hi"), b_hi) - F.greatest(F.col("lo"), b_lo),
        )
        .filter(F.col("overlap") > 0)
    )
    return (
        tiled.groupBy("o_orderpriority", "quartile")
        .agg(
            F.sum("overlap").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            (F.sum(F.col("overlap") * F.col("cents")) / F.lit(100.0)).alias(
                "total_price"
            ),
        )
        .repartition(1)
        .orderBy("o_orderpriority", "quartile")
    )


def buyer_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over yearly buyer cohorts: customers who
    ordered in both 1997 and 1998 (retained) vs only in 1997
    (lapsed). Set ops compile to distinct-aggregated joins on the
    customer key — shuffle on ``o_custkey`` with map-side distinct,
    no row duplication."""
    orders = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    a = orders.filter(yr == 1997).select("o_custkey").distinct()
    b = orders.filter(yr == 1998).select("o_custkey").distinct()
    retained = a.intersect(b).withColumn("segment", F.lit("retained"))
    lapsed = a.subtract(b).withColumn("segment", F.lit("lapsed"))
    return (
        retained.unionByName(lapsed)
        .select("o_custkey", "segment")
        .orderBy("segment", "o_custkey")
    )


def price_rank_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders per priority with dense_rank, percent_rank, and
    the LEAD gap to the next-cheaper order — the leaderboard shape
    exercising the rank-family windows together, computed WITHOUT
    sorting a whole priority partition in one task.

    Two-phase top-k (the distributed TakeOrderedAndProject shape):
    phase 1 keeps each physical partition's local top-11 per priority
    — the window partitions on (priority, spark_partition_id), so no
    task ever sorts more than its own input split; any row in the
    GLOBAL top-11 of its priority has at most 10 rows above it
    anywhere, hence at most 10 above it in its own split, hence
    survives phase 1.  Phase 2 runs the real rank window over the
    ≤ 11 × n_partitions × 5 survivors (driver-bounded, trivially
    sorted).  dense_rank over survivors equals the true dense_rank
    for every pos ≤ 10 row because all strictly-higher-priced rows
    are themselves top-10 rows and therefore present; percent_rank
    with a full (price, key) tiebreak equals (pos-1)/(n-1), with n
    folded from a map-side hash count — no window needs the full
    rowset.  Row 11 survives phase 1 too, so pos-10's LEAD gap is
    exact."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    n_by_key = F.broadcast(
        orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    )
    local_w = Window.partitionBy("o_orderpriority", "_spid").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    survivors = (
        orders.withColumn("_spid", F.spark_partition_id())
        .withColumn("_lrn", F.row_number().over(local_w))
        .filter(F.col("_lrn") <= 11)
        .drop("_spid", "_lrn")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        survivors.withColumn("rn", F.row_number().over(w))
        .withColumn("price_rank", F.dense_rank().over(w))
        .withColumn(
            "gap_to_next",
            F.round(
                F.col("o_totalprice") - F.lead("o_totalprice").over(w), 2
            ),
        )
        .filter(F.col("rn") <= 10)
        .join(n_by_key, "o_orderpriority")
        .withColumn(
            "pct_rank",
            F.when(F.col("n") > 1,
                   F.round((F.col("rn") - 1) / (F.col("n") - 1), 6))
            .otherwise(F.lit(0.0)),
        )
        .select(
            "o_orderpriority",
            F.col("rn").alias("pos"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "price_rank",
            "pct_rank",
            "gap_to_next",
        )
        .repartition(1)
        .orderBy("o_orderpriority", "pos")
    )


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO parts' share of discounted revenue per
    ship year. The part dimension broadcasts (never shuffles the
    fact); revenue accumulates in exact cents×percent integer units,
    so the share is a ratio of exact BIGINTs and the displayed total
    is an integer-truncated quotient — identical in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    bps = F.round(F.col("l_discount") * 100).cast("bigint")
    rev = cents * (F.lit(100) - bps)  # dollars × 1e4, exact int
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        li.l_partkey == F.col("p_partkey"),
    )
    return (
        j.groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)).alias(
                "promo_units"
            ),
            F.sum(rev).alias("total_units"),
        )
        .select(
            "ship_year",
            F.round(
                F.col("promo_units") * 100 / F.col("total_units"), 4
            ).alias("promo_pct"),
            (
                F.expr("CAST(total_units DIV 100 AS DOUBLE)") / F.lit(100.0)
            ).alias("total_revenue"),
        )
        .orderBy("ship_year")
    )


def brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type),
    excluding the PROMO type — COUNT(DISTINCT) over the broadcast
    part join, ordered suppliers-first like a sourcing report."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(
        F.broadcast(
            part.filter(F.col("p_type") != "PROMO").select(
                "p_partkey", "p_brand", "p_type"
            )
        ),
        li.l_partkey == F.col("p_partkey"),
    )
    return (
        j.groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .repartition(1)
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in small-lot lines (quantity
    below 20% of the part's average). The per-part average joins back
    on the fact's own key (one co-partitioned shuffle); the 0.2×avg
    comparison is integer-exact — ``5·q·n < Σq`` — since quantities
    are integral."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_q"), F.count(F.lit(1)).alias("n_lines")
    )
    small = li.join(per_part, "l_partkey").filter(
        F.col("qty") * 5 * F.col("n_lines") < F.col("sum_q")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_small_lines"),
        (F.sum("cents") / F.lit(100.0)).alias("small_revenue"),
    )


def quantity_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (type, quantity-band) predicate
    pairs across the broadcast part join — the OR-of-ANDs filter that
    exercises predicate pushdown through a join. Revenue in exact
    cents×percent units, displayed as an integer-truncated quotient."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    j = li.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        li.l_partkey == F.col("p_partkey"),
    )
    cond = (
        ((F.col("p_type") == "SMALL") & qty.between(1, 11))
        | ((F.col("p_type") == "MEDIUM") & qty.between(10, 20))
        | ((F.col("p_type") == "LARGE") & qty.between(20, 30))
    )
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint")
    )
    return (
        j.filter(cond)
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).alias("units"),
        )
        .select(
            "p_type",
            "n_lines",
            (F.expr("CAST(units DIV 100 AS DOUBLE)") / F.lit(100.0)).alias(
                "band_revenue"
            ),
        )
        .repartition(1)
        .orderBy("p_type")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders-per-customer —
    LEFT OUTER join so zero-order customers count, then a histogram
    over the per-customer counts. Two hash aggregates; the second
    groups on a count (bounded domain), so the final shuffle is
    tiny."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_orders").desc())
    )


def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind bulk orders — HAVING on the
    per-order quantity sum, then joined back to orders + customer.
    The qualifying-order set is small (HAVING is selective), so it
    broadcasts into both enrichment joins; quantity sums stay exact
    BIGINTs."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def dormant_segment_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers in selected
    segments with no order since 2000 — scalar-average subquery
    (1-row broadcast) + LEFT ANTI join against the recent-order set,
    grouped per segment. The above-average test is an exact integer
    comparison (``100·n·bal > Σcents``)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    seg = cust.filter(
        F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY", "HOUSEHOLD")
    )
    avg_bal = seg.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias(
            "bal_cents"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    rich = (
        seg.crossJoin(F.broadcast(avg_bal))
        # exact-integer comparison: 100·n·bal > sum_cents  ⇔  bal > avg
        .filter(
            F.round(F.col("c_acctbal") * 100).cast("bigint") * F.col("n")
            > F.col("bal_cents")
        )
    )
    dormant = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        dormant.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (
                F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
                / F.lit(100.0)
            ).alias("total_balance"),
        )
        .repartition(1)
        .orderBy("c_mktsegment")
    )


def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day DISTINCT user count per day — the windowed
    count-distinct a plain window frame cannot express (DISTINCT
    inside a moving frame isn't decomposable), solved as a bounded-
    fanout interval join:

    distinct (day, user) pairs join the tiny anchor-day dimension on
    ``day BETWEEN anchor-6 AND anchor`` — each pair matches at most 7
    anchors, so row growth is a constant ≤7× regardless of corpus
    size, and the per-anchor COUNT(DISTINCT) runs as Spark's standard
    two-phase (partial-distinct, then merge) aggregate. The anchor
    dimension is calendar-sized (365 rows/year) — broadcast, never a
    shuffle edge. A naive self-join on raw events instead of the
    (day, user) distinct would fan out per EVENT — the pre-distinct
    is the scale move.
    """
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.col("ts").cast("date").alias("event_date"), "user_id"
    ).distinct()
    anchors = F.broadcast(
        du.select(F.col("event_date").alias("d")).distinct()
    )
    return (
        du.join(
            anchors,
            (F.col("event_date") <= F.col("d"))
            & (F.col("event_date") >= F.date_sub(F.col("d"), 6)),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("users_7d"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"), "users_7d"
        )
        .orderBy("day")
    )


def revenue_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage per market segment: how many of the segment's
    top customers cover 80% of its order revenue (the concentration
    diagnostic behind every 'whale' analysis).

    Revenue is exact cents; the per-segment cumulative sum is one
    window over (revenue DESC, custkey) — segments partition the
    sort, so no global ordering exists — and the 80% test is integer
    cross-multiplication against the 1-row-per-segment total (no
    float thresholds). Output: segment size, customers-to-80%, and
    their actual share.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("rev_cents")
        )
        .join(cust, F.col("o_custkey") == cust.c_custkey)
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("rev_cents").desc(), "c_custkey"
    )
    wt = Window.partitionBy("c_mktsegment")
    ranked = (
        per_cust.withColumn("rk", F.row_number().over(w))
        .withColumn("cum_cents", F.sum("rev_cents").over(w))
        .withColumn("total_cents", F.sum("rev_cents").over(wt))
        .withColumn("n_cust", F.count(F.lit(1)).over(wt))
    )
    covering = ranked.filter(
        F.col("cum_cents") * 10 >= F.col("total_cents") * 8
    )
    return (
        covering.groupBy("c_mktsegment")
        .agg(
            F.max("n_cust").cast("bigint").alias("n_customers"),
            F.min("rk").cast("bigint").alias("top80_customers"),
            F.round(
                F.min(F.struct("rk", "cum_cents"))["cum_cents"]
                / F.max("total_cents"),
                6,
            ).alias("top80_share"),
        )
        .repartition(1)
        .orderBy("c_mktsegment")
    )


QUERIES = {
    "promo_revenue_share": promo_revenue_share,
    "rolling_distinct_users_7d": rolling_distinct_users_7d,
    "revenue_pareto_customers": revenue_pareto_customers,
    "customer_order_distribution": customer_order_distribution,
    "large_order_customers": large_order_customers,
    "dormant_segment_balances": dormant_segment_balances,
    "brand_supplier_counts": brand_supplier_counts,
    "small_quantity_revenue": small_quantity_revenue,
    "quantity_band_revenue": quantity_band_revenue,
    "part_cube_stats": part_cube_stats,
    "order_quartiles": order_quartiles,
    "buyer_cohort_setops": buyer_cohort_setops,
    "price_rank_gaps": price_rank_gaps,
    "customers_without_orders": customers_without_orders,
    "user_activity_merge": user_activity_merge,
    "event_type_counts_salted": event_type_counts_salted,
    "events_json_extract": events_json_extract,
    "daily_metric_pivot": daily_metric_pivot,
    "active_high_value_buyers": active_high_value_buyers,
    "priority_late_orders": priority_late_orders,
    "extreme_orders_union": extreme_orders_union,
    "brand_type_rollup": brand_type_rollup,
    "event_type_share": event_type_share,
    "approx_distinct_users": approx_distinct_users,
}

ORACLE_SQL = {
    "rolling_distinct_users_7d": """
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS event_date, user_id
            FROM events
        ),
        anchors AS (SELECT DISTINCT event_date AS d FROM du)
        SELECT strftime(a.d, '%Y-%m-%d') AS day,
               CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS users_7d
        FROM du
        JOIN anchors a
          ON du.event_date BETWEEN a.d - 6 AND a.d
        GROUP BY a.d
        ORDER BY day
    """,
    "revenue_pareto_customers": """
        WITH per_cust AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_cents
            FROM orders
            GROUP BY o_custkey
        ),
        seg AS (
            SELECT c.c_mktsegment, p.rev_cents, p.o_custkey
            FROM per_cust p
            JOIN customer c ON p.o_custkey = c.c_custkey
        ),
        ranked AS (
            SELECT c_mktsegment, rev_cents,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY rev_cents DESC, o_custkey
                   ) AS rk,
                   SUM(rev_cents) OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY rev_cents DESC, o_custkey
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum_cents,
                   SUM(rev_cents) OVER (
                       PARTITION BY c_mktsegment
                   ) AS total_cents,
                   COUNT(*) OVER (
                       PARTITION BY c_mktsegment
                   ) AS n_cust
            FROM seg
        )
        SELECT c_mktsegment,
               CAST(MAX(n_cust) AS BIGINT) AS n_customers,
               CAST(MIN(rk) AS BIGINT) AS top80_customers,
               ROUND(arg_min(cum_cents, rk) * 1.0 / MAX(total_cents), 6)
                   AS top80_share
        FROM ranked
        WHERE cum_cents * 10 >= total_cents * 8
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "customer_order_distribution": """
        WITH per_cust AS (
            SELECT c.c_custkey,
                   CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        )
        SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM per_cust
        GROUP BY n_orders
        ORDER BY n_customers DESC, n_orders DESC
    """,
    "large_order_customers": """
        WITH big AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS total_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
        )
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               CAST(CAST(o.o_orderdate AS DATE) AS STRING) AS order_date,
               ROUND(o.o_totalprice, 2) AS total_price,
               big.total_qty
        FROM orders o
        JOIN big ON o.o_orderkey = big.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY big.total_qty DESC, o.o_orderkey
        LIMIT 100
    """,
    "dormant_segment_balances": """
        WITH seg AS (
            SELECT * FROM customer
            WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY', 'HOUSEHOLD')
        ),
        avg_bal AS (
            SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS bal_cents,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM seg WHERE c_acctbal > 0
        ),
        rich AS (
            SELECT s.* FROM seg s CROSS JOIN avg_bal a
            WHERE CAST(ROUND(s.c_acctbal * 100) AS BIGINT) * a.n
                  > a.bal_cents
        )
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   / 100.0 AS total_balance
        FROM rich r
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = r.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01'
        )
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "promo_revenue_share": """
        WITH units AS (
            SELECT YEAR(l_shipdate) AS ship_year, p.p_type,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS rev
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        agg AS (
            SELECT ship_year,
                   CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)
                        AS BIGINT) AS promo_units,
                   CAST(SUM(rev) AS BIGINT) AS total_units
            FROM units GROUP BY ship_year
        )
        SELECT CAST(ship_year AS INTEGER) AS ship_year,
               ROUND((promo_units * 100) * 1.0 / total_units, 4)
                   AS promo_pct,
               (total_units // 100) / 100.0 AS total_revenue
        FROM agg
        ORDER BY ship_year
    """,
    "brand_supplier_counts": """
        SELECT p.p_brand, p.p_type,
               CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type != 'PROMO'
        GROUP BY p.p_brand, p.p_type
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type
    """,
    "small_quantity_revenue": """
        WITH li AS (
            SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem
        ),
        per_part AS (
            SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_q,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM li GROUP BY l_partkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
               CAST(SUM(li.cents) AS BIGINT) / 100.0 AS small_revenue
        FROM li JOIN per_part USING (l_partkey)
        WHERE li.qty * 5 * per_part.n_lines < per_part.sum_q
    """,
    "quantity_band_revenue": """
        SELECT p.p_type,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               (CAST(SUM(
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
               ) AS BIGINT) // 100) / 100.0 AS band_revenue
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_type = 'SMALL' AND l_quantity BETWEEN 1 AND 11)
           OR (p.p_type = 'MEDIUM' AND l_quantity BETWEEN 10 AND 20)
           OR (p.p_type = 'LARGE' AND l_quantity BETWEEN 20 AND 30)
        GROUP BY p.p_type
        ORDER BY p.p_type
    """,
    "price_rank_gaps": """
        WITH ranked AS (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER w AS INTEGER) AS pos,
                   CAST(DENSE_RANK() OVER w AS INTEGER) AS price_rank,
                   ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
                   ROUND(o_totalprice - LEAD(o_totalprice) OVER w, 2)
                       AS gap_to_next
            FROM orders
            WINDOW w AS (
                PARTITION BY o_orderpriority
                ORDER BY o_totalprice DESC, o_orderkey
            )
        )
        SELECT o_orderpriority, pos, o_orderkey,
               ROUND(o_totalprice, 2) AS total_price,
               price_rank, pct_rank, gap_to_next
        FROM ranked
        WHERE pos <= 10
        ORDER BY o_orderpriority, pos
    """,
    "buyer_cohort_setops": """
        WITH a AS (
            SELECT DISTINCT o_custkey FROM orders
            WHERE year(o_orderdate) = 1997
        ),
        b AS (
            SELECT DISTINCT o_custkey FROM orders
            WHERE year(o_orderdate) = 1998
        ),
        tagged AS (
            SELECT o_custkey, 'retained' AS segment
            FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
            UNION ALL
            SELECT o_custkey, 'lapsed' AS segment
            FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        )
        SELECT o_custkey, segment
        FROM tagged
        ORDER BY segment, o_custkey
    """,
    "part_cube_stats": """
        SELECT CAST(GROUPING(p_brand) * 2 + GROUPING(p_size)
                    AS INTEGER) AS gid,
               p_brand, p_size,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT))
                    AS BIGINT) / 100.0 AS total_retail
        FROM part
        GROUP BY CUBE (p_brand, p_size)
        ORDER BY gid, p_brand NULLS FIRST, p_size NULLS FIRST
    """,
    "order_quartiles": """
        WITH tiled AS (
            SELECT o_orderpriority, o_totalprice,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                   CAST(NTILE(4) OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey
                   ) AS INTEGER) AS quartile
            FROM orders
        )
        SELECT o_orderpriority, quartile,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(MIN(o_totalprice), 2) AS min_price,
               ROUND(MAX(o_totalprice), 2) AS max_price,
               CAST(SUM(cents) AS BIGINT) / 100.0 AS total_price
        FROM tiled
        GROUP BY o_orderpriority, quartile
        ORDER BY o_orderpriority, quartile
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2001-01-01'
        )
        ORDER BY c_custkey
    """,
    "active_high_value_buyers": """
        SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_totalprice > 200000
              AND o_orderdate >= TIMESTAMP '1998-01-01'
        )
        ORDER BY c_custkey
    """,
    "priority_late_orders": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "extreme_orders_union": """
        SELECT DISTINCT * FROM (
            SELECT o_orderkey, 'LOW' AS tier FROM orders
            WHERE o_totalprice < 1000
            UNION ALL
            SELECT o_orderkey, 'HIGH' AS tier FROM orders
            WHERE o_totalprice > 400000
        )
        ORDER BY o_orderkey
    """,
    "brand_type_rollup": """
        SELECT p_brand, p_type, COUNT(*) AS n_parts,
               ROUND(AVG(p_retailprice), 4) AS avg_price
        FROM part
        GROUP BY ROLLUP (p_brand, p_type)
        ORDER BY p_brand ASC NULLS FIRST, p_type ASC NULLS FIRST
    """,
    "event_type_share": """
        SELECT event_type, n_events, type_value,
               ROUND(n_events * 100.0 / SUM(n_events) OVER (), 4)
                   AS pct_of_events
        FROM (
            SELECT event_type, COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS type_value
            FROM events GROUP BY event_type
        )
        ORDER BY event_type
    """,
    # The raw sketch value is engine-specific; the oracle checks the
    # exact count and asserts the accuracy contract (estimate within
    # ±3·rsd) that the Spark side evaluated.
    "approx_distinct_users": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS estimate_ok
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "event_type_counts_salted": """
        SELECT event_type, COUNT(*) AS n_events
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "user_activity_merge": """
        SELECT COALESCE(f.user_id, s.user_id) AS user_id,
               COALESCE(h1_events, 0) AS h1_events,
               COALESCE(h2_events, 0) AS h2_events,
               CASE WHEN h1_events IS NULL THEN 'new'
                    WHEN h2_events IS NULL THEN 'churned'
                    ELSE 'retained' END AS status
        FROM (
            SELECT user_id, COUNT(*) AS h1_events FROM events
            WHERE ts < TIMESTAMP '2024-01-16' GROUP BY user_id
        ) f
        FULL OUTER JOIN (
            SELECT user_id, COUNT(*) AS h2_events FROM events
            WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY user_id
        ) s ON f.user_id = s.user_id
        ORDER BY user_id
    """,
    "events_json_extract": """
        SELECT event_type, COUNT(*) AS n_events,
               MIN(k) AS min_k, MAX(k) AS max_k,
               ROUND(AVG(k), 4) AS avg_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS INT) AS k
            FROM events
        )
        GROUP BY event_type
        ORDER BY event_type
    """,
    "daily_metric_pivot": """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
               CAST((200 * SUM(CASE WHEN event_type = 'click' THEN CAST(ROUND(value * 100) AS BIGINT) END)
                      + COUNT(CASE WHEN event_type = 'click' THEN value END))
                     // (2 * COUNT(CASE WHEN event_type = 'click' THEN value END)) AS BIGINT) / 1e4
                   AS avg_click,
               CAST((200 * SUM(CASE WHEN event_type = 'error' THEN CAST(ROUND(value * 100) AS BIGINT) END)
                      + COUNT(CASE WHEN event_type = 'error' THEN value END))
                     // (2 * COUNT(CASE WHEN event_type = 'error' THEN value END)) AS BIGINT) / 1e4
                   AS avg_error,
               CAST((200 * SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value * 100) AS BIGINT) END)
                      + COUNT(CASE WHEN event_type = 'purchase' THEN value END))
                     // (2 * COUNT(CASE WHEN event_type = 'purchase' THEN value END)) AS BIGINT) / 1e4
                   AS avg_purchase,
               CAST((200 * SUM(CASE WHEN event_type = 'signup' THEN CAST(ROUND(value * 100) AS BIGINT) END)
                      + COUNT(CASE WHEN event_type = 'signup' THEN value END))
                     // (2 * COUNT(CASE WHEN event_type = 'signup' THEN value END)) AS BIGINT) / 1e4
                   AS avg_signup,
               CAST((200 * SUM(CASE WHEN event_type = 'view' THEN CAST(ROUND(value * 100) AS BIGINT) END)
                      + COUNT(CASE WHEN event_type = 'view' THEN value END))
                     // (2 * COUNT(CASE WHEN event_type = 'view' THEN value END)) AS BIGINT) / 1e4
                   AS avg_view
        FROM events
        GROUP BY CAST(ts AS DATE)
        ORDER BY event_date
    """,
}


def market_basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: brand pairs ordered together, with
    lift against independence — the association-mining primitive
    (recommendations, bundle detection) at warehouse scale.

    Scale shape: the pair join is a SELF-JOIN ON THE ORDER KEY of the
    per-order DISTINCT brand set — fan-out is bounded by (brands per
    order choose 2), i.e. lines-per-order², never corpus²; brand
    totals and the order count are broadcast-sized aggregates. Lift is
    a ratio of exact integer counts (pair_orders · n_orders /
    (orders_a · orders_b)), so the ranking is cross-engine exact."""
    # round-8: the distinct (order, brand) set is the only full-fact
    # pass and is referenced three times downstream (totals, order
    # count, self-join) — persist it per corpus (the cust_brand
    # pattern below), so steady state runs entirely off the compact
    # basket table.
    def _build_ob() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part")
        return (
            li.join(
                F.broadcast(part), li["l_partkey"] == part["p_partkey"]
            )
            .select("l_orderkey", "p_brand")
            .distinct()
        )

    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
        persisted_table,
    )

    ob = persisted_table(
        spark,
        f"order_brands/{corpus_slug(sf_dir)}",
        sf_dir,
        _build_ob,
    )
    totals = ob.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders_brand")
    )
    n_orders = F.broadcast(
        ob.select("l_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_orders"))
    )
    ta = totals.select(
        F.col("p_brand").alias("brand_a"),
        F.col("n_orders_brand").alias("na"),
    )
    tb = totals.select(
        F.col("p_brand").alias("brand_b"),
        F.col("n_orders_brand").alias("nb"),
    )
    return (
        pairs.join(F.broadcast(ta), "brand_a")
        .join(F.broadcast(tb), "brand_b")
        .crossJoin(n_orders)
        .select(
            "brand_a",
            "brand_b",
            "pair_orders",
            F.round(
                (F.col("pair_orders") * F.col("n_orders"))
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("pair_orders").desc(), "brand_a", "brand_b")
        .limit(50)
    )


QUERIES["market_basket_brand_pairs"] = market_basket_brand_pairs

ORACLE_SQL["market_basket_brand_pairs"] = """
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    totals AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_orders_brand
        FROM ob GROUP BY p_brand
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM ob),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(COUNT(*) AS BIGINT) AS pair_orders
        FROM ob a
        JOIN ob b ON b.l_orderkey = a.l_orderkey
                 AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT p.brand_a, p.brand_b, p.pair_orders,
           ROUND((p.pair_orders * n.n_orders) * 1.0
                 / (ta.n_orders_brand * tb.n_orders_brand), 4) AS lift
    FROM pairs p
    JOIN totals ta ON ta.p_brand = p.brand_a
    JOIN totals tb ON tb.p_brand = p.brand_b
    CROSS JOIN n
    ORDER BY pair_orders DESC, brand_a, brand_b
    LIMIT 50
"""


def daily_metric_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the wide per-day × per-type matrix of
    :func:`daily_metric_pivot` back to long (event_date, event_type,
    avg_value) rows — the other half of the reshaping pair (wide for
    reports, long for joins/ML featurization). Null cells (days where
    a type never fired) are dropped, matching ``UNPIVOT``'s
    exclude-nulls default in both engines.

    Scale shape: ``melt`` is a narrow projection (each input row emits
    ≤ |types| rows, no shuffle beyond the pivot's own aggregate);
    the declared-values pivot it inverts is the same single
    hash-aggregate `daily_metric_pivot` documents.
    """
    wide = daily_metric_pivot(spark, sf_dir)
    return (
        wide.melt(
            ids=["event_date"],
            values=[f"avg_{t}" for t in PIVOT_TYPES],
            variableColumnName="metric",
            valueColumnName="avg_value",
        )
        .filter(F.col("avg_value").isNotNull())
        .select(
            "event_date",
            F.expr("substring(metric, 5)").alias("event_type"),
            "avg_value",
        )
        .orderBy("event_date", "event_type")
    )


QUERIES["daily_metric_unpivot"] = daily_metric_unpivot

# The oracle melts the SAME wide matrix via UNPIVOT, so the pair
# pivot→melt is validated end-to-end (not just re-aggregated).
_PT = ", ".join(f"'{t}'" for t in PIVOT_TYPES)

ORACLE_SQL["daily_metric_unpivot"] = f"""
    WITH wide AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
               event_type,
               ((200 * SUM(CAST(ROUND(value * 100) AS BIGINT))
                 + COUNT(value)) // (2 * COUNT(value))) / 1e4 AS avg_v
        FROM events
        GROUP BY 1, 2
    ),
    pivoted AS (
        PIVOT wide ON event_type
            IN ({_PT})
        USING FIRST(avg_v)
    )
    SELECT event_date, event_type, avg_value
    FROM (
        UNPIVOT pivoted
        ON {", ".join(PIVOT_TYPES)}
        INTO NAME event_type VALUE avg_value
    )
    ORDER BY event_date, event_type
"""


def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration audit: the Herfindahl-Hirschman index of
    each part's shipped quantity across its suppliers, rolled up per
    brand — HHI near 10000 means single-supplier parts (procurement
    risk), near 10000/k means k even suppliers. The Gini/Lorenz pair
    measures inequality across customers; this is the market-
    concentration dial across suppliers, and over a training corpus
    the same statistic on (dataset, source) shares is the
    single-provider-dominance screen.

    Exactness: quantities are whole numbers (FLOOR-cast to BIGINT in
    both engines — Spark truncates, DuckDB rounds, FLOOR unifies);
    per part ``hhi = (Σq_s²·10000) DIV (Σq_s)²`` is pure integer
    arithmetic, and the per-brand mean divides two exact integers
    once. Scale shape: one (part, supplier) hash aggregate, one
    per-part aggregate, one bounded per-brand rollup with a broadcast
    part-dim join — all map-side combinable, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.floor(F.col("l_quantity")).cast("bigint")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(q).alias("qs"))
    per_part = ps.groupBy("l_partkey").agg(
        F.sum(F.col("qs") * F.col("qs")).alias("sq2"),
        F.sum("qs").alias("st"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    hhi = per_part.select(
        "l_partkey",
        "n_suppliers",
        F.expr("(sq2 * 10000) DIV (st * st)").alias("hhi"),
    )
    return (
        hhi.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            hhi.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(F.sum("hhi") / F.count(F.lit(1)), 4).alias("avg_hhi"),
            F.min("hhi").cast("bigint").alias("min_hhi"),
            F.max("hhi").cast("bigint").alias("max_hhi"),
            F.sum((F.col("n_suppliers") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_sole_sourced"),
        )
        .repartition(1)
        .orderBy("p_brand")
    )


QUERIES["part_supplier_hhi"] = part_supplier_hhi

ORACLE_SQL["part_supplier_hhi"] = """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS qs
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    per_part AS (
        SELECT l_partkey,
               SUM(qs * qs) AS sq2,
               SUM(qs) AS st,
               COUNT(*) AS n_suppliers
        FROM ps GROUP BY l_partkey
    ),
    hhi AS (
        SELECT l_partkey, n_suppliers,
               (sq2 * 10000) // (st * st) AS hhi
        FROM per_part
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(SUM(h.hhi) * 1.0 / COUNT(*), 4) AS avg_hhi,
           CAST(MIN(h.hhi) AS BIGINT) AS min_hhi,
           CAST(MAX(h.hhi) AS BIGINT) AS max_hhi,
           CAST(SUM(CASE WHEN h.n_suppliers = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sole_sourced
    FROM hhi h JOIN part p ON h.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


def brand_affinity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over customer purchase
    vectors: for every brand, the top-3 most-similar brands by cosine
    over the binary customer×brand purchase matrix
    (``co / sqrt(n_a · n_b)``) — the classic "customers who bought X
    also bought Y" recommendation list, computed warehouse-side.

    Distinct from :func:`market_basket_brand_pairs` (order-level
    co-occurrence + lift): baskets here are whole CUSTOMERS, the score
    is vector cosine, and the output is a per-brand ranked rec list.

    Scale shape: the distinct (customer, brand) set is PERSISTED once
    per corpus (`sources/warehouse.persisted_table`, the band-index
    discipline) — it is the only stage that crosses the full
    lineitem⋈orders fact join (at 256× fact scale: sort-merge of
    153.6M vs 38.4M rows, 62–129 s), while the set itself saturates
    at |customers|·brands-per-customer rows (289,583 at EVERY fact
    factor — key domains, not row counts, bound it). Every run after
    the build pays only the customer-key pair self-join with
    ``brand_a < brand_b`` — fan-out bounded by brands-per-customer²,
    never brands²·customers — hash-aggregating to ≤ |brands|²/2
    canonical rows mirrored into both directions with one projection.
    (Measured: this codegen'd equi-join beats the per-customer array
    + pair-explode lambda 2× — nested ``transform`` runs interpreted
    per element.) Per-brand totals broadcast (|brands| rows).
    cosine = co / sqrt(na·nb) is exact-integer input through
    IEEE-correctly-rounded sqrt/division, rounded to 6, so the
    per-brand ROW_NUMBER ranking (cosine DESC, co DESC, brand ASC) is
    cross-engine deterministic."""
    import os

    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
        persisted_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def _build_cb() -> DataFrame:
        return (
            li.join(
                orders.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == orders["o_orderkey"],
            )
            .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
            .select("o_custkey", "p_brand")
            .distinct()
        )

    base = corpus_slug(sf_dir)
    cb = persisted_table(spark, f"cust_brand/{base}", sf_dir, _build_cb)
    return _affinity_from_cb(cb)


def _affinity_from_cb(cb: DataFrame) -> DataFrame:
    """Shared scoring stage over the distinct (customer, brand) set:
    customer-key pair self-join → per-pair counts → broadcast totals
    → cosine → per-brand top-3 (see ``brand_affinity_topk``)."""
    totals = cb.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust")
    )
    a, b = cb.alias("a"), cb.alias("b")
    canon = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("ba"),
            F.col("b.p_brand").alias("bb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_cust"))
    )
    co = canon.select(
        F.col("ba").alias("brand"),
        F.col("bb").alias("rec_brand"),
        "co_cust",
    ).unionAll(
        canon.select(
            F.col("bb").alias("brand"),
            F.col("ba").alias("rec_brand"),
            "co_cust",
        )
    )
    ta = totals.select(F.col("p_brand").alias("brand"), F.col("n_cust").alias("na"))
    tb = totals.select(
        F.col("p_brand").alias("rec_brand"), F.col("n_cust").alias("nb")
    )
    scored = (
        co.join(F.broadcast(ta), "brand")
        .join(F.broadcast(tb), "rec_brand")
        .select(
            "brand",
            "rec_brand",
            "co_cust",
            F.round(
                F.col("co_cust") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("brand").orderBy(
        F.col("cosine").desc(), F.col("co_cust").desc(), F.col("rec_brand")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .repartition(1)
        .orderBy("brand", "rank")
    )


def brand_affinity_cold_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``brand_affinity_topk``'s COLD path on BUCKETED fact layouts —
    the 100 TB answer PERF.md's round-5 section names for the
    62–129 s orders⋈lineitem shuffle cliff measured at 256× fact.

    ``brand_affinity_topk`` amortizes the fact join into a persisted
    (customer, brand) artifact; this variant answers the remaining
    question — what does the BUILD itself cost when it can't be
    skipped (first run on a new corpus, artifact invalidated)?  With
    orders and lineitem stored bucketed+sorted on the order key
    (``sources/warehouse.bucketed_fact`` — the layout a real
    deployment maintains for its fact tables anyway), the build join
    reads co-located pre-sorted buckets: NO Exchange and no sort on
    either fact side (plan-contract-tested), so the cold build is a
    streaming merge instead of a 153.6M-row shuffle.  Downstream
    scoring is shared with the warm path (``_affinity_from_cb``) and
    the result is identical — same oracle."""
    # the scoring stage references cb four times (self-join a×b +
    # totals). Spark reuses the exchanges of the two self-join sides,
    # but the totals branch plans without the join's inferred
    # o_custkey IS NOT NULL, so it runs the fact join a second time.
    # An artifact would skip the cold build this query exists to time.
    return _affinity_from_cb(_cold_cb_build(spark, sf_dir))


def _cold_cb_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct (customer, brand) build over BUCKETED facts —
    exposed on its own so the plan contract can assert the order-key
    join runs with no shuffle Exchange on either fact side."""
    from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
        bucketed_fact,
    )

    part = load_table(spark, sf_dir, "part")
    orders_b = bucketed_fact(spark, sf_dir, "orders", "o_orderkey")
    li_b = bucketed_fact(spark, sf_dir, "lineitem", "l_orderkey")
    return (
        li_b.join(
            orders_b.select("o_orderkey", "o_custkey"),
            li_b["l_orderkey"] == orders_b["o_orderkey"],
        )
        .join(F.broadcast(part), li_b["l_partkey"] == part["p_partkey"])
        .select("o_custkey", "p_brand")
        .distinct()
    )


QUERIES["skewsafe_user_join"] = skewsafe_user_join

QUERIES["brand_affinity_topk"] = brand_affinity_topk
QUERIES["brand_affinity_cold_bucketed"] = brand_affinity_cold_bucketed

ORACLE_SQL["brand_affinity_topk"] = """
    WITH cb AS (
        SELECT DISTINCT o.o_custkey, p.p_brand
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ),
    totals AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_cust
        FROM cb GROUP BY p_brand
    ),
    co AS (
        SELECT a.p_brand AS brand, b.p_brand AS rec_brand,
               CAST(COUNT(*) AS BIGINT) AS co_cust
        FROM cb a
        JOIN cb b ON b.o_custkey = a.o_custkey
                 AND b.p_brand <> a.p_brand
        GROUP BY a.p_brand, b.p_brand
    ),
    scored AS (
        SELECT c.brand, c.rec_brand, c.co_cust,
               ROUND(c.co_cust / SQRT(ta.n_cust * tb.n_cust), 6) AS cosine
        FROM co c
        JOIN totals ta ON ta.p_brand = c.brand
        JOIN totals tb ON tb.p_brand = c.rec_brand
    ),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY brand
                   ORDER BY cosine DESC, co_cust DESC, rec_brand
               ) AS INT) AS rank
        FROM scored
    )
    SELECT brand, rec_brand, co_cust, cosine, rank
    FROM ranked WHERE rank <= 3
    ORDER BY brand, rank
"""

# identical semantics, different physical path — the cold variant
# shares the warm path's oracle text verbatim
ORACLE_SQL["brand_affinity_cold_bucketed"] = ORACLE_SQL[
    "brand_affinity_topk"
]

# the salt never reaches the output: the oracle is the PLAIN join
ORACLE_SQL["skewsafe_user_join"] = """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           SUM(CAST(ROUND(e.value * 100) AS BIGINT)) / 100.0
               AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
"""
