"""Multi-way star/fact joins — the remaining classic warehouse query
shapes (TPC-H Q5/Q7/Q8/Q10/Q15/Q21 analogs) a migrating analytics
user expects an engine to run well. All but the Q21 analog are
registered as their SQL text (``catalog.sql_query``), which the DuckDB
oracle reads too.

Scale notes (100 TB), as Spark plans the texts: every dimension side
(region, nation, supplier — 5/25/100-row class tables that stay
dimension-sized at any fact scale) is small enough to broadcast, so
the optimizer reorders each star around the fact and the only
shuffles are the true fact-fact edges (lineitem⋈orders on orderkey,
orders⋈customer on custkey) and the final small-key aggregates;
filters on a dimension's columns are pushed into its scan before the
broadcast. Revenue is accumulated in exact integer units (cents ×
discount-percent) so sums are reduction-order-independent and the
DuckDB oracle hashes match bit-for-bit; the displayed double is one
integer→double division by ``1e4``, identical in both engines. The
Q10 top-20 compiles to TakeOrderedAndProject (per-partition heaps),
and the Q15 scalar maximum is a 1-row broadcast side joined on
equality, so ties all surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import (
    load_table,
    oracle_text,
    sql_query,
)


def rev_units() -> Column:
    """Revenue in exact integer units: cents × (100 − discount%).

    ``l_extendedprice`` carries 2 decimals and ``l_discount`` 2, so
    both round exactly to integers; the product is an exact BIGINT —
    associative, commutative, partition-order-proof. Divide the sum
    by 1e4 (one float op on one integer) for display.
    """
    return F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint")
    )


#: SQL twin of :func:`rev_units`, in the dialect both engines read.
REV_UNITS_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


def order_last_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analog (the testdata has no commit/receipt dates):
    for every multi-supplier order, find the UNIQUE supplier whose
    final shipment closed the order (its per-order max ship date is
    strictly after every other supplier's), and count closed orders
    per supplier — the existence + non-existence self-join pattern,
    expressed as one aggregate instead of correlated subqueries.

    Plan: one pass over ``lineitem`` grouped by order, combined
    map-side, then the per-supplier count over the broadcast
    ``supplier`` table. The last ship date and its supplier come from
    two struct maxima: ``(ship, key is known, key)`` names the largest
    key shipped last and ``(ship, key is NULL, ~key)`` the smallest
    (bitwise NOT reverses the order and cannot overflow). A NULL
    supplier ranks below every key in the first and above every key in
    the second, so when it ships last the two keys cannot compare
    equal; the laggard is unique exactly when they do. A NULL ship
    date ranks below every date, so it never closes an order. The
    order has two suppliers (a NULL one counts) when its keys differ
    or some key is NULL, and NULL-keyed orders are dropped, as in the
    oracle's join. A struct maximum plans as a sort aggregate; the
    hash-aggregated form, packing the ship instant and the key into
    one ``decimal(38,0)``, ran 1.6× slower at sf0.1 on its per-row
    decimal arithmetic.

    Kept as a builder: the oracle text ranks per-supplier maxima with
    a join, so the DuckDB check compares two formulations of the tie
    rules rather than one text with itself.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
    )
    ship, key = F.col("l_shipdate").alias("ship"), F.col("l_suppkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.max(F.struct(ship, key.isNotNull(), key.alias("key"))).alias("hi"),
        F.max(
            F.struct(ship, key.isNull(), F.bitwise_not(key).alias("key"))
        ).alias("lo"),
        (
            (F.min(key) < F.max(key)) | (F.count(key) < F.count(F.lit(1)))
        ).alias("multi"),
    )
    laggards = per_order.filter(
        F.col("multi") & (F.col("hi.key") == F.bitwise_not("lo.key"))
    ).select(F.col("hi.key").alias("laggard"))
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        laggards.join(supp, F.col("laggard") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "s_name")
    )


#: Shipping SLA (days after order date) for the fill-rate KPI.
FILL_SLA_DAYS = 7

#: Queries registered as their SQL text, ``{table}`` placeholders bound
#: per call (``catalog.sql_query``).
_TEXTS = {
    # Q5: revenue per nation where customer and supplier sit in the
    # SAME nation (local fulfilment), within one region and date window
    "local_supplier_revenue": f"""
        SELECT /*+ REPARTITION(1) */ n_name,
               CAST(SUM({REV_UNITS_SQL}) AS BIGINT) / 1e4 AS revenue
        FROM {{lineitem}}
        JOIN {{supplier}} ON l_suppkey = s_suppkey
        JOIN {{orders}} ON l_orderkey = o_orderkey
        JOIN {{customer}} ON o_custkey = c_custkey
        JOIN {{nation}} ON s_nationkey = n_nationkey
        JOIN {{region}} ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
          AND r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    # Q7: bilateral trade volume between two nations per ship-year,
    # both directions kept; each nation pair filter runs on its
    # dimension side, and the hint keeps the filtered suppliers the
    # broadcast side (by size estimate alone Spark broadcasts lineitem)
    "nation_trade_flows": f"""
        SELECT /*+ BROADCAST(s) */ supp_nation, cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               CAST(SUM({REV_UNITS_SQL}) AS BIGINT) / 1e4 AS volume
        FROM {{lineitem}}
        JOIN (
            SELECT s_suppkey, n_name AS supp_nation
            FROM {{supplier}} JOIN {{nation}} ON s_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2')
        ) s ON l_suppkey = s_suppkey
        JOIN {{orders}} ON l_orderkey = o_orderkey
        JOIN (
            SELECT c_custkey, n_name AS cust_nation
            FROM {{customer}} JOIN {{nation}} ON c_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2')
        ) c ON o_custkey = c_custkey
        WHERE supp_nation <> cust_nation
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    # Q8: one supplier nation's share of a region's revenue per
    # order-year — conditional sum over total sum in one aggregate pass
    "nation_market_share": f"""
        SELECT /*+ REPARTITION(1) */
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               ROUND(
                   CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                                 THEN {REV_UNITS_SQL}
                                 ELSE 0 END) AS BIGINT)
                   / CAST(SUM({REV_UNITS_SQL}) AS BIGINT),
                   6
               ) AS mkt_share
        FROM {{lineitem}}
        JOIN {{supplier}} ON l_suppkey = s_suppkey
        JOIN {{orders}} ON l_orderkey = o_orderkey
        JOIN {{customer}} ON o_custkey = c_custkey
        JOIN {{nation}} sn ON s_nationkey = sn.n_nationkey
        JOIN {{nation}} cn ON c_nationkey = cn.n_nationkey
        JOIN {{region}} ON cn.n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '2000-01-01'
        GROUP BY o_year
        ORDER BY o_year
    """,
    # Q10: top 20 customers by revenue lost to returned lines in a
    # one-year window
    "returned_item_revenue": f"""
        SELECT c_custkey, c_name, n_name,
               CAST(SUM({REV_UNITS_SQL}) AS BIGINT) / 1e4 AS lost_revenue
        FROM {{lineitem}}
        JOIN {{orders}} ON l_orderkey = o_orderkey
        JOIN {{customer}} ON o_custkey = c_custkey
        JOIN {{nation}} ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1999-01-01'
          AND o_orderdate < TIMESTAMP '2000-01-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY lost_revenue DESC, c_custkey
        LIMIT 20
    """,
    # Q15: the supplier(s) with the maximum revenue over a half-year
    # window; exact integer units make the equality well-defined, and
    # the 1-row maximum is a broadcast side, so ties all surface
    "top_supplier_revenue": f"""
        WITH rev AS (
            SELECT l_suppkey, CAST(SUM({REV_UNITS_SQL}) AS BIGINT) AS units
            FROM {{lineitem}}
            WHERE l_shipdate >= TIMESTAMP '1998-01-01'
              AND l_shipdate < TIMESTAMP '1998-07-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, units / 1e4 AS total_revenue
        FROM rev
        JOIN (SELECT MAX(units) AS max_units FROM rev) m
          ON units = max_units
        JOIN {{supplier}} ON l_suppkey = s_suppkey
        ORDER BY s_suppkey
    """,
    # fulfilment KPI: per order priority, the share of orders whose
    # EVERY line shipped within FILL_SLA_DAYS of the order date — the
    # all-lines complement of an any-line-late screen
    "order_fill_rate_sla": f"""
        WITH last_ship AS (
            SELECT l_orderkey, MAX(l_shipdate) AS last_ship
            FROM {{lineitem}} GROUP BY l_orderkey
        ),
        flagged AS (
            SELECT o.o_orderpriority,
                   CASE WHEN s.last_ship
                             <= o.o_orderdate + INTERVAL {FILL_SLA_DAYS} DAY
                        THEN 1 ELSE 0 END AS filled
            FROM {{orders}} o
            JOIN last_ship s ON s.l_orderkey = o.o_orderkey
        )
        SELECT /*+ REPARTITION(1) */ o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(filled) AS BIGINT) AS n_filled,
               ROUND(CAST(SUM(filled) AS BIGINT) / CAST(COUNT(*) AS BIGINT), 6)
                   AS fill_rate
        FROM flagged
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
}

QUERIES = {
    **{name: sql_query(text) for name, text in _TEXTS.items()},
    "order_last_shippers": order_last_shippers,
}

ORACLE_SQL = {
    **{name: oracle_text(text) for name, text in _TEXTS.items()},
    "order_last_shippers": """
        WITH per_supp AS (
            SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last
            FROM lineitem GROUP BY l_orderkey, l_suppkey
        ),
        per_order AS (
            SELECT l_orderkey, MAX(supp_last) AS order_last,
                   COUNT(*) AS n_supp
            FROM per_supp GROUP BY l_orderkey
        ),
        laggards AS (
            SELECT ps.l_orderkey, MAX(ps.l_suppkey) AS laggard
            FROM per_supp ps
            JOIN per_order po ON ps.l_orderkey = po.l_orderkey
            WHERE po.n_supp >= 2 AND ps.supp_last = po.order_last
            GROUP BY ps.l_orderkey
            HAVING COUNT(*) = 1
        )
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM laggards JOIN supplier ON laggard = s_suppkey
        GROUP BY s_name
        ORDER BY n_orders DESC, s_name
    """,
}
