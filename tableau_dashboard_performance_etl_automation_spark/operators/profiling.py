"""Column profiling — the data-quality census every warehouse runs
before trusting a table (null rates, cardinalities, ranges).

Scale shape: one single-row aggregate PER COLUMN, unioned — not a
melt. Each branch's scan is column-pruned to exactly one column, so
the total I/O is one pass over the columnar table while the branches
parallelize independently; there is no (col_name, value) explode
shuffling n_rows × n_cols rows (the naive melt), and every aggregate
is map-side combinable. Cross-engine discipline: numeric ranges are
ROUND(...,4) doubles, temporal ranges are explicitly formatted
strings, string ranges are raw min/max — never an engine-default
numeric→string cast (Spark and DuckDB disagree on scientific
notation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table

#: (column, kind) profile plan for the orders table; kind picks which
#: range slots a column fills (num / str / ts).
ORDERS_PROFILE = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of ``orders``: row/null/distinct counts and
    typed min/max ranges."""
    orders = load_table(spark, sf_dir, "orders")
    branches = []
    for col, kind in ORDERS_PROFILE:
        c = F.col(col)
        if kind == "num":
            lo = F.round(F.min(c).cast("double"), 4)
            hi = F.round(F.max(c).cast("double"), 4)
            slo = F.lit(None).cast("string")
            shi = F.lit(None).cast("string")
        elif kind == "ts":
            lo = F.lit(None).cast("double")
            hi = F.lit(None).cast("double")
            slo = F.date_format(F.min(c), _TS_FMT_SPARK)
            shi = F.date_format(F.max(c), _TS_FMT_SPARK)
        else:
            lo = F.lit(None).cast("double")
            hi = F.lit(None).cast("double")
            slo = F.min(c)
            shi = F.max(c)
        branches.append(
            orders.select(col).agg(
                F.lit(col).alias("col_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(c.isNull().cast("bigint"))
                .cast("bigint")
                .alias("n_nulls"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                lo.alias("min_num"),
                hi.alias("max_num"),
                slo.alias("min_str"),
                shi.alias("max_str"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy("col_name")


QUERIES = {"profile_orders": profile_orders}


def _profile_oracle() -> str:
    parts = []
    for col, kind in ORDERS_PROFILE:
        if kind == "num":
            lo = f"ROUND(CAST(MIN({col}) AS DOUBLE), 4)"
            hi = f"ROUND(CAST(MAX({col}) AS DOUBLE), 4)"
            slo = "CAST(NULL AS STRING)"
            shi = "CAST(NULL AS STRING)"
        elif kind == "ts":
            lo = "CAST(NULL AS DOUBLE)"
            hi = "CAST(NULL AS DOUBLE)"
            slo = f"strftime(MIN({col}), '{_TS_FMT_DUCK}')"
            shi = f"strftime(MAX({col}), '{_TS_FMT_DUCK}')"
        else:
            lo = "CAST(NULL AS DOUBLE)"
            hi = "CAST(NULL AS DOUBLE)"
            slo = f"MIN({col})"
            shi = f"MAX({col})"
        parts.append(
            f"""SELECT '{col}' AS col_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
                   {lo} AS min_num, {hi} AS max_num,
                   {slo} AS min_str, {shi} AS max_str
            FROM orders"""
        )
    union = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({union}) t ORDER BY col_name"


ORACLE_SQL = {"profile_orders": _profile_oracle()}


#: Numeric lineitem columns for the pairwise-correlation profile and
#: their integer quantization scales (cents / basis points): exact
#: integer moments make the correlation replayable across engines.
CORR_COLS = (
    ("l_quantity", 100),
    ("l_extendedprice", 100),
    ("l_discount", 10000),
    ("l_tax", 10000),
)


def lineitem_price_correlations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Pearson correlation between lineitem's numeric
    columns — the column-affinity half of a data profile (next to
    ``profile_orders``'s per-column half): detects derived/redundant
    features (price ≈ quantity × unit price) and dead relationships
    before features enter a model.

    ONE full-pass aggregate computes every moment (n, Σx, Σx²,
    Σxy per pair) map-side-combined; the 6 output rows are unpacked
    from that single aggregate row, so the corpus is scanned once no
    matter how many pairs. Moments are sums of exact integer
    quantities in DECIMAL(38,0) — BIGINT would overflow at Σx² ≈
    6.6e19 by sf0.1 (DuckDB's SUM(BIGINT)→HUGEINT matches exactly) —
    and each correlation is one fixed double expression over those
    exact moments, so cross-engine values agree to the rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    q = {
        name: F.round(F.col(name) * scale).cast("bigint").alias(name)
        for name, scale in CORR_COLS
    }
    ints = li.select(*q.values())
    names = [name for name, _ in CORR_COLS]
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for name in names:
        aggs.append(
            F.sum(F.col(name).cast("decimal(38,0)")).alias(f"s_{name}")
        )
        aggs.append(
            F.sum((F.col(name) * F.col(name)).cast("decimal(38,0)")).alias(
                f"ss_{name}"
            )
        )
    pairs = [
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
    ]
    for x, y in pairs:
        aggs.append(
            F.sum((F.col(x) * F.col(y)).cast("decimal(38,0)")).alias(
                f"sp_{x}_{y}"
            )
        )
    m = ints.agg(*aggs)

    def corr_expr(x: str, y: str):
        n = F.col("n").cast("double")
        sx, sy = (
            F.col(f"s_{x}").cast("double"),
            F.col(f"s_{y}").cast("double"),
        )
        sxx, syy = (
            F.col(f"ss_{x}").cast("double"),
            F.col(f"ss_{y}").cast("double"),
        )
        sxy = F.col(f"sp_{x}_{y}").cast("double")
        return (n * sxy - sx * sy) / (
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        )

    out_rows = F.array(
        *[
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.round(corr_expr(x, y), 4).alias("pearson_r"),
            )
            for x, y in pairs
        ]
    )
    return (
        m.select(F.explode(out_rows).alias("c"), F.col("n"))
        .select(
            "c.col_x",
            "c.col_y",
            F.col("n").cast("bigint").alias("n_rows"),
            "c.pearson_r",
        )
        .orderBy("col_x", "col_y")
    )


QUERIES["lineitem_price_correlations"] = lineitem_price_correlations


def _corr_oracle() -> str:
    names = [name for name, _ in CORR_COLS]
    pairs = [
        (names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
    ]
    qcols = ", ".join(
        f"CAST(ROUND({name} * {scale}) AS BIGINT) AS {name}"
        for name, scale in CORR_COLS
    )
    mom = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for name in names:
        mom.append(f"CAST(SUM({name}) AS DOUBLE) AS s_{name}")
        mom.append(f"CAST(SUM({name} * {name}) AS DOUBLE) AS ss_{name}")
    for x, y in pairs:
        mom.append(f"CAST(SUM({x} * {y}) AS DOUBLE) AS sp_{x}_{y}")
    selects = []
    for x, y in pairs:
        r = (
            f"(n * sp_{x}_{y} - s_{x} * s_{y}) / "
            f"(sqrt(n * ss_{x} - s_{x} * s_{x})"
            f" * sqrt(n * ss_{y} - s_{y} * s_{y}))"
        )
        selects.append(
            f"SELECT '{x}' AS col_x, '{y}' AS col_y,"
            f" CAST(n AS BIGINT) AS n_rows,"
            f" ROUND({r}, 4) AS pearson_r FROM m"
        )
    union = " UNION ALL ".join(selects)
    return f"""
        WITH ints AS (SELECT {qcols} FROM lineitem),
        m AS (SELECT {', '.join(mom)} FROM ints)
        SELECT * FROM ({union})
        ORDER BY col_x, col_y
    """


ORACLE_SQL["lineitem_price_correlations"] = _corr_oracle()


def table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite over ``orders`` —
    the contract a pipeline asserts before publishing a table
    (Great-Expectations/dbt-test shape): nullability, key
    uniqueness, accepted values, numeric range, and referential
    containment, each reported as (expectation, n_checked, n_failed,
    passed).

    Every expectation is a column-pruned aggregate over one scan
    shape; the FK containment is a broadcast LEFT ANTI against the
    customer dimension. The union result is rows = |expectations|,
    so the report never scales with the table. At 100 TB these run
    as ONE multi-aggregate pass per table (Catalyst collapses the
    shared scan) gated before any downstream job sees the load."""
    o = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def row(name, n_checked, n_failed):
        return (
            F.lit(name).alias("expectation"),
            n_checked.cast("bigint").alias("n_checked"),
            n_failed.cast("bigint").alias("n_failed"),
            (n_failed == 0).cast("int").alias("passed"),
        )

    n = F.count(F.lit(1))
    not_null = o.agg(
        *row("o_custkey_not_null", n, F.sum(F.col("o_custkey").isNull().cast("int")))
    )
    unique = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            *row(
                "o_orderkey_unique",
                n,
                F.sum((F.col("c") > 1).cast("int")),
            )
        )
    )
    accepted = o.agg(
        *row(
            "o_orderstatus_accepted_values",
            n,
            F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("int")),
        )
    )
    rng = o.agg(
        *row(
            "o_totalprice_positive",
            n,
            F.sum((F.col("o_totalprice") <= 0).cast("int")),
        )
    )
    # NULL keys are the not-null expectation's finding, not an FK
    # orphan (mirrors SQL NOT IN, where a NULL never matches)
    fk_orphans = (
        o.filter(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(cust.select("c_custkey")),
            o["o_custkey"] == cust["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("orph"))
    )
    fk = o.agg(n.alias("nn")).crossJoin(F.broadcast(fk_orphans)).select(
        *row("o_custkey_in_customer", F.col("nn"), F.col("orph"))
    )
    out = not_null
    for part in (unique, accepted, rng, fk):
        out = out.unionAll(part)
    return out.orderBy("expectation")


QUERIES["table_expectations"] = table_expectations

ORACLE_SQL["table_expectations"] = """
    SELECT * FROM (
        SELECT 'o_custkey_not_null' AS expectation,
               CAST(COUNT(*) AS BIGINT) AS n_checked,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_failed,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
                    AS INTEGER) AS passed
        FROM orders
        UNION ALL
        SELECT 'o_orderkey_unique',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) = 0 AS INTEGER)
        FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders
              GROUP BY o_orderkey)
        UNION ALL
        SELECT 'o_orderstatus_accepted_values',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                             THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                             THEN 1 ELSE 0 END) = 0 AS INTEGER)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice_positive',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT),
               CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
                    AS INTEGER)
        FROM orders
        UNION ALL
        SELECT 'o_custkey_in_customer',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_custkey NOT IN
                           (SELECT c_custkey FROM customer)) = 0
                    AS INTEGER)
    )
    ORDER BY expectation
"""


def props_json_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema census of the semi-structured ``events.props`` JSON
    payload: which keys exist, how much of the stream carries each,
    and the value cardinality — the drift detector that catches a
    producer adding/renaming payload fields before a declared
    ``from_json`` schema (``events_json_extract``) silently starts
    returning nulls. (This corpus emits a single key ``k``; the
    census mechanism is the operator.)

    The payload parses once to ``map<string,string>`` (``from_json``
    — JVM-side, no UDF, no declared field list) and explodes to
    (key, value) rows; the census is a |keys| hash aggregate plus a
    broadcast 1-row total for coverage — output bounded by the
    payload vocabulary, never the stream."""
    e = load_table(spark, sf_dir, "events")
    total = F.broadcast(e.agg(F.count(F.lit(1)).alias("n_total")))
    keys = e.select(
        F.explode(
            F.from_json(F.col("props"), "map<string,string>")
        ).alias("key", "val")
    )
    return (
        keys.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("val").cast("bigint").alias("n_distinct_vals"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
        )
        .crossJoin(total)
        .withColumn(
            "coverage", F.round(F.col("n_rows") / F.col("n_total"), 4)
        )
        .drop("n_total")
        .orderBy("key")
    )


QUERIES["props_json_key_census"] = props_json_key_census

ORACLE_SQL["props_json_key_census"] = """
    WITH keys AS (
        SELECT unnest(json_keys(props)) AS key, props FROM events
    ),
    vals AS (
        SELECT key,
               json_extract_string(props, '$.' || key) AS val
        FROM keys
    ),
    total AS (SELECT COUNT(*) AS n_total FROM events)
    SELECT key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct_vals,
           MIN(val) AS min_val,
           MAX(val) AS max_val,
           ROUND(COUNT(*) / CAST(n_total AS DOUBLE), 4) AS coverage
    FROM vals, total
    GROUP BY key, n_total
    ORDER BY key
"""


#: Zone-map shard width in orderkeys — stands in for a parquet
#: row-group / file boundary in the skipping accounting below.
ZONE_STRIDE = 2048
#: The probe predicate whose skippability the zone maps measure.
ZONE_PRUNE_TS = "1997-06-01"


def zonemap_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (data-skipping) accounting for lineitem: shard the
    table on ``l_orderkey DIV ZONE_STRIDE`` (a stand-in for the
    physical file/row-group boundary a writer would produce), record
    each shard's min/max ``l_shipdate``, and flag the shards a scan
    with ``l_shipdate >= ZONE_PRUNE_TS`` could skip entirely — the
    min/max-statistics pruning parquet readers and warehouse zone
    maps do, surfaced as a measurable table.

    Scale shape: one map-side-combinable hash aggregate keyed on the
    shard id (arithmetic on the natural key — no shuffle beyond the
    aggregate's own); output is |table|/STRIDE rows. The interesting
    number at 100 TB is the prunable fraction: data clustered on the
    predicate column (here: shipdate correlates with orderkey)
    skips most shards, random layout skips none — this query is the
    evidence for choosing a sort/cluster key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bound = F.to_timestamp(F.lit(ZONE_PRUNE_TS))
    return (
        li.groupBy(
            F.expr(f"l_orderkey DIV {ZONE_STRIDE}")
            .cast("bigint")
            .alias("shard_id")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias(
                "min_ship"
            ),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias(
                "max_ship"
            ),
            (F.max("l_shipdate") < bound).cast("int").alias("prunable"),
        )
        .orderBy("shard_id")
    )


QUERIES["zonemap_pruning_stats"] = zonemap_pruning_stats

ORACLE_SQL["zonemap_pruning_stats"] = f"""
    SELECT CAST((l_orderkey - (l_orderkey % {ZONE_STRIDE}))
                / {ZONE_STRIDE} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(MIN(l_shipdate) AS DATE) AS STRING) AS min_ship,
           CAST(CAST(MAX(l_shipdate) AS DATE) AS STRING) AS max_ship,
           CAST(MAX(l_shipdate) < TIMESTAMP '{ZONE_PRUNE_TS}'
                AS INTEGER) AS prunable
    FROM lineitem
    GROUP BY shard_id
    ORDER BY shard_id
"""


def crossmodal_id_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal referential integrity: documents and embeddings
    share an id domain (doc_id = vec_id for paired text/vector rows);
    this audit counts rows on each side of the pairing — matched,
    text-only (doc never embedded: an embedding-job backlog), and
    vector-only (orphaned embedding: its document was filtered or
    deleted after embedding — the stale-index hazard every two-stage
    pipeline has). The multimodal sibling of
    ``history.fk_integrity_audit``.

    Scale shape: two anti-join counts + one semi-join count, each an
    equi-join on the id followed by a 1-row aggregate — no data
    movement beyond the join shuffle, output is exactly 3 rows.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    vecs = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id")
    )
    def one(side: str, df) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ids")
        ).select(F.lit(side).alias("side"), "n_ids")

    return (
        one("matched", docs.join(vecs, "id", "left_semi"))
        .unionByName(one("text_only", docs.join(vecs, "id", "left_anti")))
        .unionByName(one("vector_only", vecs.join(docs, "id", "left_anti")))
        .orderBy("side")
    )


QUERIES["crossmodal_id_audit"] = crossmodal_id_audit

ORACLE_SQL["crossmodal_id_audit"] = """
    SELECT side, n_ids FROM (
        SELECT 'matched' AS side,
               CAST((SELECT COUNT(*) FROM documents d
                     WHERE EXISTS (SELECT 1 FROM embeddings e
                                   WHERE e.vec_id = d.doc_id))
                    AS BIGINT) AS n_ids
        UNION ALL
        SELECT 'text_only',
               CAST((SELECT COUNT(*) FROM documents d
                     WHERE NOT EXISTS (SELECT 1 FROM embeddings e
                                       WHERE e.vec_id = d.doc_id))
                    AS BIGINT)
        UNION ALL
        SELECT 'vector_only',
               CAST((SELECT COUNT(*) FROM embeddings e
                     WHERE NOT EXISTS (SELECT 1 FROM documents d
                                       WHERE d.doc_id = e.vec_id))
                    AS BIGINT)
    )
    ORDER BY side
"""


#: Z-order layout experiment: bits per dimension (8 → 256 cells per
#: dim, 65536 z-values) and the bucket granularity (top 6 z-bits →
#: 64 "files").
ZORDER_BITS = 8
ZORDER_BUCKET_SHIFT = 2 * ZORDER_BITS - 6


def _interleave_expr(x: str, y: str, bits: int) -> str:
    """Bit-interleaving (Morton/Z-value) as a plain arithmetic
    expression string valid in BOTH Spark SQL and DuckDB: x's bit i →
    position 2i, y's bit i → position 2i+1. Built from ``//``-free
    integer ops (DIV/%/\\*) shared by the two dialects."""
    terms = []
    for i in range(bits):
        terms.append(
            f"((({x}) % {1 << (i + 1)}) DIV {1 << i}) * {1 << (2 * i)}"
        )
        terms.append(
            f"((({y}) % {1 << (i + 1)}) DIV {1 << i}) * {1 << (2 * i + 1)}"
        )
    return "(" + " + ".join(terms) + ")"


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER vs LINEAR layout, measured: bucket the orders table 64
    ways under (a) its natural o_orderkey order and (b) the Morton
    interleaving of (customer, order-day) low bits, then compare the
    per-bucket zone-map SPANS of both dimensions. A point/range scan
    can skip a bucket whose [min,max] excludes the predicate — so
    smaller average spans = more pruning. Linear layout gives one
    tight dimension (whatever you sorted by) and one full-width
    dimension; the space-filling curve shrinks BOTH — the reason
    lakehouse OPTIMIZE ZORDER exists. This query is the measurable
    evidence behind that layout decision (the multi-dim sibling of
    ``zonemap_pruning_stats``).

    Scale shape: the z-value is a pure integer projection (generated
    bit-arithmetic expression, identical text in both engines); each
    layout is one map-side-combinable aggregate over its 64 bucket
    keys; the comparison output is 2 rows.

    Returns (layout, n_buckets, avg_cust_span, avg_day_span).
    """
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.expr(f"o_custkey % {1 << ZORDER_BITS}").alias("cx"),
        F.expr(
            f"CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)"
            f" % {1 << ZORDER_BITS}"
        ).alias("dy"),
    )
    z = F.expr(_interleave_expr("cx", "dy", ZORDER_BITS))

    def spans(df: DataFrame, bucket: F.Column, layout: str) -> DataFrame:
        per = df.groupBy(bucket.alias("b")).agg(
            (F.max("cx") - F.min("cx")).alias("cust_span"),
            (F.max("dy") - F.min("dy")).alias("day_span"),
        )
        return per.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.round(F.avg("cust_span"), 4).alias("avg_cust_span"),
            F.round(F.avg("day_span"), 4).alias("avg_day_span"),
        ).select(F.lit(layout).alias("layout"), "*")

    # 64 equal-population linear buckets need the key RANGE, not
    # NTILE (keeps the aggregate map-side): orderkey DIV stride
    stride = F.broadcast(
        base.agg(
            (
                (F.max("o_orderkey") + 1 + 63) / 64
            ).cast("bigint").alias("stride")
        )
    )
    linear = spans(
        base.crossJoin(stride),
        F.expr("CAST(o_orderkey DIV stride AS BIGINT)"),
        "linear_orderkey",
    )
    zorder = spans(
        base.withColumn("z", z),
        F.expr(f"CAST(z DIV {1 << ZORDER_BUCKET_SHIFT} AS BIGINT)"),
        "zorder_cust_day",
    )
    return linear.unionByName(zorder).orderBy("layout")


QUERIES["zorder_layout_stats"] = zorder_layout_stats

_Z_EXPR = _interleave_expr("cx", "dy", ZORDER_BITS)

ORACLE_SQL["zorder_layout_stats"] = f"""
    WITH base AS (
        SELECT o_orderkey,
               o_custkey % {1 << ZORDER_BITS} AS cx,
               CAST(datediff('day', DATE '1992-01-01', o_orderdate)
                    AS BIGINT) % {1 << ZORDER_BITS} AS dy
        FROM orders
    ),
    stride AS (
        SELECT CAST((MAX(o_orderkey) + 1 + 63) / 64 AS BIGINT)
                   AS stride
        FROM base
    ),
    lin AS (
        SELECT CAST(o_orderkey // stride AS BIGINT) AS b,
               MAX(cx) - MIN(cx) AS cust_span,
               MAX(dy) - MIN(dy) AS day_span
        FROM base CROSS JOIN stride
        GROUP BY 1
    ),
    zb AS (
        SELECT CAST({_Z_EXPR.replace("DIV", "//")}
                    // {1 << ZORDER_BUCKET_SHIFT} AS BIGINT) AS b,
               MAX(cx) - MIN(cx) AS cust_span,
               MAX(dy) - MIN(dy) AS day_span
        FROM base
        GROUP BY 1
    )
    SELECT layout, n_buckets, avg_cust_span, avg_day_span FROM (
        SELECT 'linear_orderkey' AS layout,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               ROUND(AVG(cust_span), 4) AS avg_cust_span,
               ROUND(AVG(day_span), 4) AS avg_day_span
        FROM lin
        UNION ALL
        SELECT 'zorder_cust_day',
               CAST(COUNT(*) AS BIGINT),
               ROUND(AVG(cust_span), 4),
               ROUND(AVG(day_span), 4)
        FROM zb
    )
    ORDER BY layout
"""


#: Consistent-hash ring geometry: shards before/after the resize and
#: virtual nodes per shard (vnodes smooth per-shard load to
#: ±O(1/sqrt(V)) of uniform).
CH_SHARDS = 8
CH_VNODES = 16

#: Hex digits of md5 used for ring/key positions (48-bit space —
#: collision-free at any realistic vnode count, exactly replayable
#: in DuckDB via the shared md5_hex_int idiom).
_CH_DIGITS = 12


def _pos48(h) -> F.Column:
    """48-bit md5 position as two 24-bit halves combined with a
    BIGINT multiply — a single 12-digit fold would overflow the
    32-bit integer arithmetic in both engines (the KMV idiom)."""
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int,
    )

    half = _CH_DIGITS // 2
    return md5_hex_int(h, 1, half).cast("bigint") * F.lit(
        16**half
    ) + md5_hex_int(h, 1 + half, half).cast("bigint")


def _ring_entries(n_shards: int) -> list[tuple[int, int]]:
    """The vnode ring for ``n_shards`` shards, sorted by position:
    position = first 48 bits of md5('ring:<shard>:<vnode>') —
    hashlib here, ``md5()`` in the oracle, identical bytes. S×V
    entries: a CONSTANT, never a distributed dataset."""
    import hashlib

    out = []
    for i in range(n_shards * CH_VNODES):
        shard, vnode = i % n_shards, i // n_shards
        h = hashlib.md5(f"ring:{shard}:{vnode}".encode()).hexdigest()
        out.append((int(h[:_CH_DIGITS], 16), shard))
    out.sort()
    return out


def _ring_intervals(spark: SparkSession, ring: list[tuple[int, int]], out: str):
    """The sorted vnode ring as a tiny OWNERSHIP-INTERVAL DataFrame
    ``(lo, hi, <out>)``: entry_i owns ``(pos_{i-1}, pos_i]``, and keys
    clockwise past the last vnode wrap to the first (lowest-position)
    entry. S·V+1 rows — broadcast fodder for a range join.

    This replaced a per-ROW ``F.array(struct...)`` + ``F.filter``
    lambda fold: that form ran the lambda interpreted over every
    (row × ring entry) pair AND re-paid Catalyst analysis of the
    ~270-struct literal tree on every run (~3.5 s/run measured; a
    literal-array + explode variant costs the same analysis). The
    ``createDataFrame`` local-rows form carries the ring as DATA, not
    as an expression tree — its one "Python" plan node is the
    driver-side local-collection scan (ExistingRDD), not a
    per-row Python execution stage — and the interval join is a
    BroadcastNestedLoopJoin whose range predicate compiles into
    whole-stage codegen."""
    rows = []
    prev = 0
    for p, sh in ring:
        rows.append((prev, p, sh))
        prev = p + 1
    rows.append((prev, (1 << 63) - 1, ring[0][1]))
    return F.broadcast(
        spark.createDataFrame(rows, f"lo bigint, hi bigint, {out} bigint")
    )


def consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard movement matrix when a consistent-hash ring grows from
    ``CH_SHARDS`` to ``CH_SHARDS + 1`` shards: per (shard_before,
    shard_after) doc counts — the audit that proves the layout's
    whole point, that a resize moves only ~N/(S+1) keys and every
    mover lands on the NEW shard (a mod-S layout would reshuffle
    nearly everything; compare ``global_shuffle_shards``).

    Scale shape: each ring becomes S·V+1 broadcast OWNERSHIP
    INTERVALS (:func:`_ring_intervals`); ownership under each ring is
    one BroadcastNestedLoopJoin range probe (codegen'd comparisons,
    corpus read once, never shuffled); the only exchange is the final
    tiny (S×S') count aggregate. Positions are 48-bit md5 integers
    (hashlib == md5() byte-for-byte), replayed in the oracle via the
    shared two-half ``md5_hex_int`` idiom."""
    key_pos = _pos48(
        F.md5(F.concat(F.lit("key:"), F.col("doc_id").cast("string")))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", key_pos.alias("key_pos")
    )
    before = _ring_intervals(spark, _ring_entries(CH_SHARDS), "shard_before")
    after = _ring_intervals(
        spark, _ring_entries(CH_SHARDS + 1), "shard_after"
    )
    return (
        docs.join(
            before,
            (F.col("key_pos") >= before["lo"])
            & (F.col("key_pos") <= before["hi"]),
        )
        .select("doc_id", "key_pos", "shard_before")
        .join(
            after,
            (F.col("key_pos") >= after["lo"])
            & (F.col("key_pos") <= after["hi"]),
        )
        .groupBy("shard_before", "shard_after")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .repartition(1)
        .orderBy("shard_before", "shard_after")
    )


QUERIES["consistent_hash_rebalance"] = consistent_hash_rebalance


def _ch_oracle() -> str:
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int_sql,
    )

    half = _CH_DIGITS // 2

    def pos48(h_expr: str) -> str:
        # two 24-bit halves combined with a BIGINT multiply — the
        # KMV idiom; a single 12-digit fold overflows DuckDB's INT32
        hi = md5_hex_int_sql(h_expr, 1, half)
        lo = md5_hex_int_sql(h_expr, 1 + half, half)
        return f"(CAST({hi} AS BIGINT) * {16 ** half} + CAST({lo} AS BIGINT))"

    def ring(n: int, name: str) -> str:
        pos = pos48(
            "md5('ring:' || CAST(i % {n} AS STRING) || ':' "
            "|| CAST(i // {n} AS STRING))".format(n=n)
        )
        return f"""{name} AS (
            SELECT CAST(i % {n} AS BIGINT) AS shard,
                   CAST({pos} AS BIGINT) AS ring_pos
            FROM (SELECT UNNEST(range({n * CH_VNODES})) AS i)
        )"""

    key_pos = pos48("md5('key:' || CAST(doc_id AS STRING))")

    def assign(ring_name: str, out: str) -> str:
        return f"""(
            SELECT d.doc_id,
                   COALESCE(
                       arg_min(r.shard,
                               CASE WHEN r.ring_pos >= d.key_pos
                                    THEN r.ring_pos END),
                       arg_min(r.shard, r.ring_pos)
                   ) AS {out}
            FROM docs d CROSS JOIN {ring_name} r
            GROUP BY d.doc_id
        )"""

    return f"""
        WITH {ring(CH_SHARDS, "ring_b")},
        {ring(CH_SHARDS + 1, "ring_a")},
        docs AS (
            SELECT doc_id, CAST({key_pos} AS BIGINT) AS key_pos
            FROM documents
        ),
        before AS (SELECT * FROM {assign("ring_b", "shard_before")} t),
        after AS (SELECT * FROM {assign("ring_a", "shard_after")} t)
        SELECT b.shard_before, a.shard_after,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM before b JOIN after a USING (doc_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """


ORACLE_SQL["consistent_hash_rebalance"] = _ch_oracle()


#: Hex digits of the row md5 folded into the additive checksum: 12
#: digits = 48 bits per row, so 2⁶³/2⁴⁸ ≈ 32k-billion rows before a
#: BIGINT sum could overflow — far past any table this engine sees.
CHECKSUM_HEX_DIGITS = 12


def dataset_content_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-independent content checksum per table — the integrity
    fingerprint a 100 TB deployment stores next to each dataset
    version so replication / migration / engine-swap can be verified
    without row-by-row comparison: ``(n_rows, SUM over rows of
    int(md5(canonical_row)[:12 hex]))``.  A sum of per-row hashes is
    commutative and mergeable — each partition folds its partial sum
    map-side, so the check costs one narrow scan per table and works
    identically on any row order or partitioning (exactly why
    content-addressed storage uses unordered hash folds).

    Canonical row strings use only exactly-rendered fields (ints,
    strings, cents) — float repr is engine-specific and never enters
    a checksum.  The md5→int fold is the repo's cross-engine
    ``md5_hex_int`` twin pair, so DuckDB computes the identical
    fingerprint."""
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint,
    )

    def fold(df: DataFrame, name: str, canon) -> DataFrame:
        h = F.md5(canon)
        return df.select(
            md5_hex_bigint(h, 1, CHECKSUM_HEX_DIGITS).alias("rh")
        ).agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("rh").cast("bigint").alias("content_checksum"),
        )

    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    # F.concat (NULL-propagating) deliberately, matching SQL's ||:
    # a null field nulls the row hash in BOTH engines and SUM skips
    # it identically — concat_ws's null-skipping would diverge
    sep = F.lit("|")
    doc_canon = F.concat(
        F.col("doc_id").cast("string"),
        sep,
        F.col("source"),
        sep,
        F.length("text").cast("string"),
        sep,
        F.md5("text"),
    )
    ord_canon = F.concat(
        F.col("o_orderkey").cast("string"),
        sep,
        F.col("o_custkey").cast("string"),
        sep,
        F.col("o_orderstatus"),
        sep,
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
    )
    return (
        fold(docs, "documents", doc_canon)
        .unionByName(fold(orders, "orders", ord_canon))
        .orderBy("table_name")
    )


QUERIES["dataset_content_checksums"] = dataset_content_checksums


def _hex_int_sql_big(h_expr: str, n_digits: int) -> str:
    """BIGINT md5 fold (shared ``hashing.md5_hex_bigint_sql``)."""
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint_sql,
    )

    return md5_hex_bigint_sql(h_expr, 1, n_digits)


def _checksum_oracle() -> str:
    doc_h = _hex_int_sql_big(
        "md5(doc_id::STRING || '|' || source || '|' ||"
        " length(text)::STRING || '|' || md5(text))",
        CHECKSUM_HEX_DIGITS,
    )
    ord_h = _hex_int_sql_big(
        "md5(o_orderkey::STRING || '|' || o_custkey::STRING || '|' ||"
        " o_orderstatus || '|' ||"
        " CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS STRING))",
        CHECKSUM_HEX_DIGITS,
    )
    return f"""
        SELECT 'documents' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({doc_h}) AS BIGINT) AS content_checksum
        FROM documents
        UNION ALL
        SELECT 'orders' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({ord_h}) AS BIGINT) AS content_checksum
        FROM orders
        ORDER BY table_name
    """


ORACLE_SQL["dataset_content_checksums"] = _checksum_oracle()


# ---------------------------------------------------------------------------
# Functional-dependency audit
# ---------------------------------------------------------------------------

#: Candidate functional dependencies to audit on ``part`` — the
#: schema-constraint half of the profile (next to the per-column
#: census): an FD X→Y that "should" hold but has violating groups is
#: either a data-quality defect or a wrong assumption baked into a
#: downstream join/dedup key.
FD_CANDIDATES = (
    ("p_name", "p_brand"),
    ("p_name", "p_type"),
    ("p_brand", "p_type"),
    ("p_type", "p_brand"),
)


def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit each candidate FD X→Y on ``part``: count LHS groups,
    groups where COUNT(DISTINCT Y) > 1 (violations), rows trapped in
    violating groups, and the max distinct-Y fanout.

    One hash aggregate per FD onto the LHS domain (each combinable
    map-side; rows never leave the executors), unioned into the
    bounded report — |FDs| scans of a columnar two-column projection.
    At 100 TB you run ALL candidate FDs in one pass by aggregating
    (lhs → struct of per-FD distincts) per candidate; the per-FD form
    keeps each scan two columns wide, which is the better trade until
    the FD list outgrows the scan count."""
    part = load_table(spark, sf_dir, "part")
    legs = []
    for lhs, rhs in FD_CANDIDATES:
        g = part.groupBy(lhs).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(rhs).cast("bigint").alias("n_rhs"),
        )
        legs.append(
            g.agg(
                F.lit(f"{lhs}->{rhs}").alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_lhs_groups"),
                F.sum((F.col("n_rhs") > 1).cast("bigint"))
                .cast("bigint")
                .alias("n_violating_groups"),
                F.sum(
                    F.when(F.col("n_rhs") > 1, F.col("n_rows")).otherwise(0)
                )
                .cast("bigint")
                .alias("n_rows_in_violations"),
                F.max("n_rhs").cast("bigint").alias("max_fanout"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("fd")


QUERIES["fd_violation_audit"] = fd_violation_audit


def _fd_oracle() -> str:
    parts = []
    for lhs, rhs in FD_CANDIDATES:
        parts.append(
            f"""SELECT '{lhs}->{rhs}' AS fd,
                   CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
                   CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violating_groups,
                   CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END)
                        AS BIGINT) AS n_rows_in_violations,
                   CAST(MAX(n_rhs) AS BIGINT) AS max_fanout
            FROM (
                SELECT {lhs},
                       CAST(COUNT(*) AS BIGINT) AS n_rows,
                       CAST(COUNT(DISTINCT {rhs}) AS BIGINT) AS n_rhs
                FROM part GROUP BY {lhs}
            ) g"""
        )
    union = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({union}) t ORDER BY fd"


ORACLE_SQL["fd_violation_audit"] = _fd_oracle()


# ---------------------------------------------------------------------------
# Join-strategy advisor (optimizer-statistics report)
# ---------------------------------------------------------------------------

#: Join candidates audited: (name, left table, left key, right table,
#: right key). The advisor computes the statistics a cost-based
#: optimizer consults for these edges.
JOIN_CANDIDATES = (
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
)

#: Estimated serialized row width per table (bytes) — fixed schema
#: constants (sum of column-type sizes + per-row overhead), shared
#: verbatim with the oracle so the estimate arithmetic is identical.
ROW_WIDTH_BYTES = {
    "orders": 64,
    "customer": 72,
    "lineitem": 96,
    "events": 80,
}

#: Broadcast budget the advisor assumes — the session's configured
#: autoBroadcastJoinThreshold (32 MB, session.py).
BROADCAST_BUDGET_BYTES = 32 * 1024 * 1024


def join_strategy_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join-strategy report for the star-schema edges: per
    candidate join, the row counts, join-key NDVs, the estimated
    bytes of the SMALLER side (rows × schema width), and the strategy
    a cost-based planner should pick — ``broadcast`` when the small
    side fits the budget, else ``shuffle`` (sort-merge/shuffled-hash;
    both sides exchange on the key). This is the statistics layer a
    100 TB deployment maintains as table metadata (ANALYZE TABLE) so
    the optimizer never guesses; the report also flags key-NDV
    asymmetry (ndv_small ≪ n_small means a many-many explosion
    hazard the planner can't see from sizes alone).

    Scale shape: one two-column aggregate per join side (COUNT +
    COUNT DISTINCT key, map-side partials); the report is
    |candidates| rows. Nothing joins — the advisor READS statistics,
    it never executes the joins it advises on."""
    legs = []
    for name, lt, lk, rt, rk in JOIN_CANDIDATES:
        left = load_table(spark, sf_dir, lt).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_left"),
            F.countDistinct(lk).cast("bigint").alias("ndv_left"),
        )
        right = load_table(spark, sf_dir, rt).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_right"),
            F.countDistinct(rk).cast("bigint").alias("ndv_right"),
        )
        wl, wr = ROW_WIDTH_BYTES[lt], ROW_WIDTH_BYTES[rt]
        small_bytes = F.least(
            F.col("n_left") * F.lit(wl), F.col("n_right") * F.lit(wr)
        )
        legs.append(
            left.crossJoin(F.broadcast(right))  # two 1-row aggregates
            .select(
                F.lit(name).alias("join_name"),
                "n_left",
                "ndv_left",
                "n_right",
                "ndv_right",
                small_bytes.cast("bigint").alias("est_small_bytes"),
                F.when(
                    small_bytes <= BROADCAST_BUDGET_BYTES,
                    F.lit("broadcast"),
                )
                .otherwise(F.lit("shuffle"))
                .alias("strategy"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("join_name")


QUERIES["join_strategy_advisor"] = join_strategy_advisor


def _advisor_oracle() -> str:
    parts = []
    for name, lt, lk, rt, rk in JOIN_CANDIDATES:
        wl, wr = ROW_WIDTH_BYTES[lt], ROW_WIDTH_BYTES[rt]
        parts.append(
            f"""SELECT '{name}' AS join_name,
                   l.n_left, l.ndv_left, r.n_right, r.ndv_right,
                   CAST(LEAST(l.n_left * {wl}, r.n_right * {wr})
                        AS BIGINT) AS est_small_bytes,
                   CASE WHEN LEAST(l.n_left * {wl}, r.n_right * {wr})
                             <= {BROADCAST_BUDGET_BYTES}
                        THEN 'broadcast' ELSE 'shuffle' END AS strategy
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
                         CAST(COUNT(DISTINCT {lk}) AS BIGINT) AS ndv_left
                  FROM {lt}) l
            CROSS JOIN
                 (SELECT CAST(COUNT(*) AS BIGINT) AS n_right,
                         CAST(COUNT(DISTINCT {rk}) AS BIGINT) AS ndv_right
                  FROM {rt}) r"""
        )
    union = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({union}) t ORDER BY join_name"


ORACLE_SQL["join_strategy_advisor"] = _advisor_oracle()


# ---------------------------------------------------------------------------
# Range-partition planner (total-order layout)
# ---------------------------------------------------------------------------

#: Ranges for the total-order plan (= target output files of a
#: globally sorted write / repartitionByRange).
RANGE_PARTS = 8


def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan a RANGE partitioning of lineitem by extended price — the
    boundary table ``repartitionByRange`` / a total-order writer
    needs: per range, its [lo, hi) cent bounds (exact k/K quantiles),
    actual row count, and the balance ratio vs the ideal N/K. A
    global sort at 100 TB IS this plan: compute boundaries from
    quantiles, range-exchange once, sort within partitions — the
    planner's quality (balance ratio ≈ 1) decides whether any reducer
    straggles.

    Scale shape: boundaries come from the VALUE-DOMAIN compaction
    (group by cents → cumulative counts over the bounded domain — the
    `order_quartiles` decomposition, no global row sort), and the
    per-range counts are one more pass over the same compaction; raw
    rows are scanned once, nothing wide ever shuffles."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents")
    )
    dom = li.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # the grand total is a whole-partition window sum over the SAME
    # global ordering the cumulative window established — no separate
    # aggregate job + 1-row broadcast crossJoin (which re-ran the
    # compaction's final hash-agg and added two exchanges)
    wt = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = dom.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(wt)
    )
    # range id of a value v: number of boundaries b_k with cum(<=v)
    # crossing k*total/K — computed arithmetically from the cum count
    # (identical integer arithmetic in both engines)
    rng = F.least(
        F.floor(
            (F.col("cum") - 1) * RANGE_PARTS / F.col("total")
        ).cast("int"),
        F.lit(RANGE_PARTS - 1),
    )
    return (
        cum.select(rng.alias("range_id"), "cents", "n", "total")
        .groupBy("range_id")
        .agg(
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.round(
                F.sum("n") * F.lit(float(RANGE_PARTS)) / F.max("total"), 4
            ).alias("balance_ratio"),
        )
        .orderBy("range_id")
    )


QUERIES["range_partition_plan"] = range_partition_plan

ORACLE_SQL["range_partition_plan"] = f"""
    WITH dom AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT cents, n,
               SUM(n) OVER (ORDER BY cents
                            ROWS UNBOUNDED PRECEDING) AS cum,
               (SELECT SUM(n) FROM dom) AS total
        FROM dom
    ),
    tagged AS (
        SELECT cents, n, total,
               LEAST(
                   CAST(FLOOR((cum - 1) * {RANGE_PARTS} * 1.0 / total)
                        AS INTEGER),
                   {RANGE_PARTS - 1}
               ) AS range_id
        FROM cum
    )
    SELECT range_id,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           ROUND(SUM(n) * {RANGE_PARTS}.0 / MAX(total), 4)
               AS balance_ratio
    FROM tagged
    GROUP BY range_id
    ORDER BY range_id
"""


def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-ORDER advisor for the 3-table chain
    lineitem ⋈ orders ⋈ customer: estimate each left-deep order's
    intermediate cardinality with the textbook independence formula
    ``|A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k))`` and recommend the
    order with the smaller intermediate — the decision a cost-based
    optimizer makes before the first byte moves, and the one that
    matters most at 100 TB (a wrong order materializes a fact-sized
    intermediate twice). Emits one row per candidate order with its
    estimated intermediate and final cardinalities and a chosen flag.

    Scale shape: the same one-pass per-table statistics the strategy
    advisor reads (COUNT + per-key NDV, map-side partials); the
    estimation itself is constant arithmetic over six scalars —
    statistics work, not data movement."""
    li = load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_li"),
        F.countDistinct("l_orderkey").cast("bigint").alias("ndv_li_ok"),
    )
    orders = load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_o"),
        F.countDistinct("o_orderkey").cast("bigint").alias("ndv_o_ok"),
        F.countDistinct("o_custkey").cast("bigint").alias("ndv_o_ck"),
    )
    cust = load_table(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c"),
        F.countDistinct("c_custkey").cast("bigint").alias("ndv_c_ck"),
    )
    stats = li.crossJoin(F.broadcast(orders)).crossJoin(
        F.broadcast(cust)
    )  # three 1-row aggregates
    # double-first multiplication: a BIGINT row-count product
    # overflows at ~9.2e18 — real at 100 TB (1e12 × 1e11 rows) — and
    # DuckDB errors on it while Spark wraps; both sides go through
    # double before multiplying
    est_lo = F.floor(
        F.col("n_li").cast("double")
        * F.col("n_o")
        / F.greatest("ndv_li_ok", "ndv_o_ok")
    ).cast("bigint")
    est_oc = F.floor(
        F.col("n_o").cast("double")
        * F.col("n_c")
        / F.greatest("ndv_o_ck", "ndv_c_ck")
    ).cast("bigint")
    # final estimate is order-independent under the same formula:
    # (est_lo ⋈ c on custkey) with ndv inherited from orders
    est_final = F.floor(
        est_lo.cast("double")
        * F.col("n_c")
        / F.greatest("ndv_o_ck", "ndv_c_ck")
    ).cast("bigint")
    orders_plan = stats.select(
        F.lit("(lineitem*orders)*customer").alias("join_order"),
        est_lo.alias("est_intermediate"),
        est_final.alias("est_final"),
    ).unionByName(
        stats.select(
            F.lit("lineitem*(orders*customer)").alias("join_order"),
            est_oc.alias("est_intermediate"),
            est_final.alias("est_final"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        orders_plan.withColumn(
            "chosen",
            (
                F.col("est_intermediate")
                == F.min("est_intermediate").over(w)
            ).cast("int"),
        )
        .select("join_order", "est_intermediate", "est_final", "chosen")
        .orderBy("join_order")
    )


QUERIES["join_order_advisor"] = join_order_advisor

ORACLE_SQL["join_order_advisor"] = """
    WITH li AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_li,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv_li_ok
        FROM lineitem
    ),
    o AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_o,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv_o_ok,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_o_ck
        FROM orders
    ),
    c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_c,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS ndv_c_ck
        FROM customer
    ),
    stats AS (SELECT * FROM li CROSS JOIN o CROSS JOIN c),
    plans AS (
        SELECT '(lineitem*orders)*customer' AS join_order,
               CAST(FLOOR(n_li * 1.0 * n_o
                    / GREATEST(ndv_li_ok, ndv_o_ok)) AS BIGINT)
                   AS est_intermediate,
               CAST(FLOOR(FLOOR(n_li * 1.0 * n_o
                        / GREATEST(ndv_li_ok, ndv_o_ok)) * 1.0 * n_c
                    / GREATEST(ndv_o_ck, ndv_c_ck)) AS BIGINT)
                   AS est_final
        FROM stats
        UNION ALL
        SELECT 'lineitem*(orders*customer)',
               CAST(FLOOR(n_o * 1.0 * n_c
                    / GREATEST(ndv_o_ck, ndv_c_ck)) AS BIGINT),
               CAST(FLOOR(FLOOR(n_li * 1.0 * n_o
                        / GREATEST(ndv_li_ok, ndv_o_ok)) * 1.0 * n_c
                    / GREATEST(ndv_o_ck, ndv_c_ck)) AS BIGINT)
        FROM stats
    )
    SELECT join_order, est_intermediate, est_final,
           CAST(est_intermediate = (SELECT MIN(est_intermediate)
                                    FROM plans) AS INTEGER) AS chosen
    FROM plans
    ORDER BY join_order
"""


def join_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the cost-based-optimizer loop: for every join edge the
    strategy advisor models, compare the textbook independence
    estimate ``|A|·|B| / max(ndv_A, ndv_B)`` against the ACTUAL join
    cardinality and report the q-error-style ratio (actual /
    estimate, 4 decimals). Ratios near 1 mean the uniformity
    assumption holds (foreign keys over uniform domains); large
    ratios expose key skew or key-domain correlation — exactly the
    cells where the optimizer needs histogram statistics instead of
    NDVs, and the audit a deployment runs before trusting plan
    choices at 100 TB.

    Scale shape: the estimates reuse the one-pass per-table
    statistics; each actual count is the join executed as a bare
    COUNT aggregate — no payload columns, map-side partials, one
    shuffle per edge on its key (the cheapest possible ground
    truth)."""
    legs = []
    for name, lt, lk, rt, rk in JOIN_CANDIDATES:
        # ONE per-key compaction per side feeds both the statistics
        # and the ground-truth count (round-11): n = Σcnt,
        # ndv = #non-null groups, and the actual join cardinality is
        # Σ cnt_l·cnt_r over matching keys — so the join shuffles
        # (key, count) rows bounded by the key domain instead of every
        # fact row, and the old separate COUNT/COUNT DISTINCT pass
        # (its own two-exchange aggregate over the raw table) is
        # derived from the same compaction.
        lg = (
            load_table(spark, sf_dir, lt)
            .groupBy(F.col(lk).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        rg = (
            load_table(spark, sf_dir, rt)
            .groupBy(F.col(rk).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        lstats = lg.agg(
            F.sum("cnt").cast("bigint").alias("n_l"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("ndv_l"),
        )
        rstats = rg.agg(
            F.sum("cnt").cast("bigint").alias("n_r"),
            F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("ndv_r"),
        )
        actual = (
            lg.select("k", F.col("cnt").alias("cnt_l"))
            .join(rg.select("k", F.col("cnt").alias("cnt_r")), "k")
            .agg(
                F.coalesce(F.sum(F.col("cnt_l") * F.col("cnt_r")), F.lit(0))
                .cast("bigint")
                .alias("actual_rows")
            )
        )
        est = F.floor(
            F.col("n_l").cast("double")
            * F.col("n_r")
            / F.greatest("ndv_l", "ndv_r")
        ).cast("bigint")
        legs.append(
            lstats.crossJoin(F.broadcast(rstats))  # 1-row aggregates
            .crossJoin(F.broadcast(actual))
            .select(
                F.lit(name).alias("join_name"),
                est.alias("est_rows"),
                "actual_rows",
                F.round(
                    F.col("actual_rows")
                    / F.greatest(est.cast("double"), F.lit(1.0)),
                    4,
                ).alias("actual_over_est"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("join_name")


QUERIES["join_estimate_accuracy"] = join_estimate_accuracy


def _estimate_accuracy_oracle() -> str:
    parts = []
    for name, lt, lk, rt, rk in JOIN_CANDIDATES:
        parts.append(
            f"""SELECT '{name}' AS join_name,
                   CAST(FLOOR(l.n_l * 1.0 * r.n_r
                        / GREATEST(l.ndv_l, r.ndv_r)) AS BIGINT)
                       AS est_rows,
                   a.actual_rows,
                   ROUND(a.actual_rows / GREATEST(
                       FLOOR(l.n_l * 1.0 * r.n_r
                             / GREATEST(l.ndv_l, r.ndv_r)), 1.0), 4)
                       AS actual_over_est
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_l,
                         CAST(COUNT(DISTINCT {lk}) AS BIGINT) AS ndv_l
                  FROM {lt}) l
            CROSS JOIN
                 (SELECT CAST(COUNT(*) AS BIGINT) AS n_r,
                         CAST(COUNT(DISTINCT {rk}) AS BIGINT) AS ndv_r
                  FROM {rt}) r
            CROSS JOIN
                 (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
                  FROM {lt} a JOIN {rt} b ON a.{lk} = b.{rk}) a"""
        )
    union = " UNION ALL ".join(parts)
    return f"SELECT * FROM ({union}) t ORDER BY join_name"


ORACLE_SQL["join_estimate_accuracy"] = _estimate_accuracy_oracle()
