"""Count-min-sketch heavy hitters — the mergeable bounded-memory
counting sketch (Cormode & Muthukrishnan 2005) over the events
stream.

Why a sketch when an exact groupBy exists: at 100 TB the exact
per-key count is a full shuffle of every distinct key; the CMS state
is a fixed D×W counter grid that partial-aggregates map-side,
merges associatively across partitions/executors/batches (it is the
shape you keep in a streaming state store), and answers any key's
count within ε·N with min-over-rows. The estimate only ever
OVERcounts (collisions add), which for heavy-hitter retrieval means
no false negatives above the threshold.

Engine parity: bucket assignment is the md5-hex-digit trick both
engines already share (see multimodal shard packing) — two leading
hex chars of ``md5('<row>|' || key)`` → 0..255 — so the DuckDB
oracle replays the exact same grid, counters, and min.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
    corpus_slug,
    persisted_table,
)
from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
    md5_hex_int,
    md5_hex_int_sql,
)

#: Sketch depth: D independent hash rows (× the 256 buckets of
#: :func:`_bucket`).
CMS_DEPTH = 4
TOP_N = 20


# Sketch width: 256 buckets per row keeps the toy corpora colliding
# enough to exercise the min (the point of the test); at scale the
# width is the ε dial (ε ≈ e/W of total count) and the state stays
# D×W counters regardless of key cardinality.
def _bucket(row: int, key: Column) -> Column:
    """Bucket of ``key`` in hash row ``row``: first two hex digits of
    the seeded md5 → 0..255 (shared helper, see functions/hashing)."""
    h = F.md5(F.concat(F.lit(f"{row}|"), key.cast("string")))
    return md5_hex_int(h, 1, 2)


def heavy_hitter_users_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TOP_N`` users by count-min-sketch estimated event count,
    with the exact count joined alongside so the report shows the
    sketch's (one-sided) error.

    Scale shape: every event of a user lands in the SAME D cells (the
    bucket is a pure function of user_id), so the sketch is built from
    the per-user exact counts — cell cnt = Σ exact_count over users
    hashing there — instead of exploding D structs per EVENT: one
    hash aggregate over the stream (map-side combined, needed for the
    error column anyway), then md5 per DISTINCT user. The cell build
    and the probe side aggregate the same user exchange (AQE runs it
    once); the 1024-cell grid broadcasts onto the distinct-user set
    (the only key-cardinality shuffle, and it exists only because the
    report enumerates candidates — a deployment queries specific keys
    against the tiny grid)."""
    events = load_table(spark, sf_dir, "events").select("user_id")
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_count")
    )
    probes = exact.select(
        "user_id",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _bucket(r, F.col("user_id")).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("user_id", "exact_count", "cell.r", "cell.bucket")
    cells = probes.groupBy("r", "bucket").agg(
        F.sum("exact_count").alias("cnt")
    )
    return (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cnt").cast("bigint").alias("est_count"))
        .select(
            "user_id",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias(
                "overcount"
            ),
        )
        .orderBy(F.col("est_count").desc(), "user_id")
        .limit(TOP_N)
    )


def _bucket_sql(row: int, key: str) -> str:
    h = f"md5('{row}|' || CAST({key} AS STRING))"
    return md5_hex_int_sql(h, 1, 2)


def _cms_oracle() -> str:
    cell_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, {_bucket_sql(r, 'user_id')} AS bucket"
        f" FROM events"
        for r in range(CMS_DEPTH)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, exact_count, {r} AS r,"
        f" {_bucket_sql(r, 'user_id')} AS bucket FROM exact"
        for r in range(CMS_DEPTH)
    )
    return f"""
        WITH cells AS (
            SELECT r, bucket, COUNT(*) AS cnt
            FROM ({cell_rows}) GROUP BY r, bucket
        ),
        exact AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
            FROM events GROUP BY user_id
        ),
        probes AS ({probe_rows}),
        est AS (
            SELECT p.user_id, p.exact_count,
                   CAST(MIN(c.cnt) AS BIGINT) AS est_count
            FROM probes p JOIN cells c USING (r, bucket)
            GROUP BY p.user_id, p.exact_count
        )
        SELECT user_id, est_count, exact_count,
               est_count - exact_count AS overcount
        FROM est
        ORDER BY est_count DESC, user_id
        LIMIT {TOP_N}
    """


QUERIES = {
    "heavy_hitter_users_cms": heavy_hitter_users_cms,
}

ORACLE_SQL = {
    "heavy_hitter_users_cms": _cms_oracle(),
}


#: KMV sketch size: keep the K smallest hash values per group. 64
#: estimates the ~150-user per-type cardinalities with real sketch
#: error (the point of the demo); at scale K is the accuracy dial
#: (relative error ≈ 1/sqrt(K-2)) and the state stays K values.
KMV_K = 64
#: Hash-to-uniform width: 12 hex digits = 48 bits → integers in
#: [0, 2^48); exactly representable in BIGINT and DOUBLE. Built from
#: two 24-bit digit-group extracts combined in BIGINT, because the
#: per-digit Horner accumulation in ``md5_hex_int`` runs in INT32 on
#: both engines and would overflow past 7 hex digits.
_KMV_HALF_DIGITS = 6
_KMV_HALF_SPACE = 16**_KMV_HALF_DIGITS
_KMV_SPACE = _KMV_HALF_SPACE * _KMV_HALF_SPACE


def _kmv_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (event_type, 48-bit user hash) pairs — the compaction
    BOTH KMV queries (`kmv_distinct_users`, `kmv_type_overlap`) build
    their sketches and exact baselines from. Persisted as a warehouse
    parquet table (the `dedup._doc_shingles` discipline): the md5
    pipeline is deterministic, so a loaded table is bit-identical to
    a rebuild, and the 3-4 plan branches that consume it read a
    parquet scan instead of re-hashing the corpus."""

    def build() -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        h = F.md5(F.col("user_id").cast("string"))
        h48 = (
            md5_hex_int(h, 1, _KMV_HALF_DIGITS).cast("bigint")
            * F.lit(_KMV_HALF_SPACE)
            + md5_hex_int(h, 1 + _KMV_HALF_DIGITS, _KMV_HALF_DIGITS).cast(
                "bigint"
            )
        )
        return events.select("event_type", h48.alias("h")).distinct()

    base = corpus_slug(sf_dir)
    return persisted_table(spark, f"kmv_hashed/{base}", sf_dir, build)


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate from a K-minimum-values
    sketch (Bar-Yossef et al. 2002), with the exact count alongside
    to expose the sketch error — the OTHER classic bounded-memory
    cardinality sketch next to HLL (``approx_distinct_users``), and
    unlike HLL its estimate is replayable in ANSI SQL, so this one
    is oracle-checked end to end.

    Estimator: hash keys to 48-bit uniforms; if a group holds fewer
    than K distinct hashes the sketch is exact (count them), else
    est = (K-1) / u_(K) with u_(K) = the K-th smallest hash
    normalized to (0,1]. State per group is K values — mergeable by
    keeping the K smallest of any union, the shape a streaming state
    store or map-side partial carries. The rank window here runs on
    DISTINCT (type, hash) rows — per-group state already collapsed
    to distinct keys; a production aggregate keeps only K."""
    hashed = _kmv_hashed(spark, sf_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n_exact"),
    )
    est = (
        F.when(
            F.col("n_exact") < KMV_K, F.col("n_exact").cast("double")
        ).otherwise(
            F.lit(float(KMV_K - 1)) * F.lit(float(_KMV_SPACE)) / F.col("h")
        )
    )
    return (
        ranked.filter(
            (F.col("rn") == KMV_K) | (F.col("n_exact") < KMV_K)
        )
        .filter(
            (F.col("n_exact") >= KMV_K) | (F.col("rn") == F.col("n_exact"))
        )
        .select(
            "event_type",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.round(est, 2).alias("kmv_estimate"),
            F.round(
                (est - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


QUERIES["kmv_distinct_users"] = kmv_distinct_users

_KMV_HI_SQL = md5_hex_int_sql(
    "md5(CAST(user_id AS STRING))", 1, _KMV_HALF_DIGITS
)
_KMV_LO_SQL = md5_hex_int_sql(
    "md5(CAST(user_id AS STRING))", 1 + _KMV_HALF_DIGITS, _KMV_HALF_DIGITS
)

ORACLE_SQL["kmv_distinct_users"] = f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST({_KMV_HI_SQL} AS BIGINT) * {_KMV_HALF_SPACE}
               + CAST({_KMV_LO_SQL} AS BIGINT) AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_exact
        FROM hashed
    ),
    kth AS (
        SELECT * FROM ranked
        WHERE (rn = {KMV_K} OR n_exact < {KMV_K})
          AND (n_exact >= {KMV_K} OR rn = n_exact)
    )
    SELECT event_type,
           CAST(n_exact AS BIGINT) AS n_exact,
           ROUND(CASE WHEN n_exact < {KMV_K}
                      THEN CAST(n_exact AS DOUBLE)
                      ELSE CAST({float(KMV_K - 1)!r} AS DOUBLE)
                           * CAST({float(_KMV_SPACE)!r} AS DOUBLE) / h
                 END, 2) AS kmv_estimate,
           ROUND((CASE WHEN n_exact < {KMV_K}
                       THEN CAST(n_exact AS DOUBLE)
                       ELSE CAST({float(KMV_K - 1)!r} AS DOUBLE)
                            * CAST({float(_KMV_SPACE)!r} AS DOUBLE) / h
                  END - n_exact) / n_exact, 4) AS rel_err
    FROM kth
    ORDER BY event_type
"""


#: HyperLogLog geometry: m = 2^6 registers. Error ≈ 1.04/√m ≈ 13% —
#: deliberately coarse so the toy corpora exercise the estimator
#: (the point of the demo); at scale m is the accuracy dial and the
#: state stays m 6-bit maxima per group regardless of cardinality.
HLL_M = 64
#: Flajolet et al. 2007 bias constant α_m for m = 64, inlined as one
#: Python double so both engines consume the identical literal.
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
#: Register-max width: ρ is counted over a 32-bit hash suffix, so
#: ρ ∈ [1, 33].
_HLL_W_BITS = 32


def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate from a HAND-ROLLED
    HyperLogLog (Flajolet et al. 2007) — unlike Spark's builtin
    ``approx_count_distinct`` (whose estimate is
    implementation-defined and only range-assertable, see
    ``approx_distinct_users``), this one fixes the hash (md5), the
    register map, and the estimator arithmetic, so the DuckDB oracle
    replays it bit-for-bit and the sketch is oracle-checked end to
    end like its KMV sibling.

    Register assignment: md5 hex digits 1-2 mod m pick the register;
    digits 3-10 form a 32-bit suffix whose leading-zero count + 1 is
    ρ. State per group is m register maxima — each a MAX aggregate
    with map-side partial combine, mergeable across
    partitions/executors/streams by pointwise max (the canonical
    distributed-sketch shape; duplicate users land identical (reg, ρ)
    rows and cost nothing). Estimator: raw = α·m²/Σ 2^(-M_j) with
    empty registers contributing 2^0, linear-counting correction
    m·ln(m/V) when raw ≤ 2.5m and V > 0. All Σ 2^(-M_j) terms are
    exact dyadic doubles (ρ ≤ 33 keeps the sum inside 53 bits), so
    the estimate is reduction-order-independent.
    """
    events = load_table(spark, sf_dir, "events")
    # ONE distinct (type, user) pass feeds sketch AND exact count
    # (round-11): duplicate users land identical (reg, ρ) rows, so
    # hashing the distinct set is max-identical to hashing the raw
    # stream — and the md5 now runs once per distinct user instead of
    # once per event. The old second full-events COUNT DISTINCT pass
    # becomes a count over the same frame.
    du = events.select("event_type", "user_id").distinct()
    h = F.md5(F.col("user_id").cast("string"))
    reg = md5_hex_int(h, 1, 2) % HLL_M
    w = (
        md5_hex_int(h, 3, 4).cast("bigint") * 65536
        + md5_hex_int(h, 7, 4).cast("bigint")
    )
    # ρ = leading zeros + 1 over the 32-bit suffix, in pure integer
    # arithmetic: bin(w) drops leading zeros, so for w > 0 the count
    # is 32 − length(bin(w)); the w = 0 row is the all-zero register
    # (ρ = 33). Bit-identical to the old lpad+regexp spelling, minus
    # a regex engine call per row.
    rho = F.when(w > 0, F.lit(_HLL_W_BITS + 1) - F.length(F.bin(w))).otherwise(
        F.lit(_HLL_W_BITS + 1)
    )
    regs = (
        du.select("event_type", reg.alias("reg"), rho.alias("rho"))
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("mreg"))
    )
    per_type = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("mreg"))).alias("z_present"),
    )
    v_empty = F.lit(HLL_M) - F.col("n_present")
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / (
        F.col("z_present") + v_empty.cast("double")
    )
    est = F.when(
        (raw <= 2.5 * HLL_M) & (v_empty > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v_empty),
    ).otherwise(raw)
    # COUNT(user_id) over the distinct frame ≡ COUNT(DISTINCT user_id)
    # over the raw stream (both skip NULLs)
    exact = du.groupBy("event_type").agg(
        F.count("user_id").cast("bigint").alias("n_exact")
    )
    return (
        per_type.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            F.round(est, 2).alias("hll_estimate"),
            F.round(
                (est - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


QUERIES["hll_distinct_users"] = hll_distinct_users

_HLL_H = "md5(CAST(user_id AS STRING))"
_HLL_REG_SQL = f"({md5_hex_int_sql(_HLL_H, 1, 2)} % {HLL_M})"
_HLL_W_SQL = (
    f"(CAST({md5_hex_int_sql(_HLL_H, 3, 4)} AS BIGINT) * 65536"
    f" + CAST({md5_hex_int_sql(_HLL_H, 7, 4)} AS BIGINT))"
)

ORACLE_SQL["hll_distinct_users"] = f"""
    WITH regs AS (
        SELECT event_type, {_HLL_REG_SQL} AS reg,
               MAX(length(regexp_extract(
                       lpad(bin({_HLL_W_SQL}), {_HLL_W_BITS}, '0'),
                       '^0*')) + 1) AS mreg
        FROM events
        GROUP BY event_type, reg
    ),
    per_type AS (
        SELECT event_type,
               COUNT(*) AS n_present,
               SUM(pow(2.0, -mreg)) AS z_present
        FROM regs GROUP BY event_type
    ),
    exact AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    ),
    est AS (
        SELECT event_type,
               CASE WHEN {HLL_ALPHA * HLL_M * HLL_M!r}
                         / (z_present + CAST({HLL_M} - n_present
                                             AS DOUBLE))
                         <= {2.5 * HLL_M}
                     AND ({HLL_M} - n_present) > 0
                    THEN {float(HLL_M)!r}
                         * ln({float(HLL_M)!r}
                              / ({HLL_M} - n_present))
                    ELSE {HLL_ALPHA * HLL_M * HLL_M!r}
                         / (z_present + CAST({HLL_M} - n_present
                                             AS DOUBLE))
               END AS est
        FROM per_type
    )
    SELECT e.event_type AS event_type, x.n_exact AS n_exact,
           ROUND(e.est, 2) AS hll_estimate,
           ROUND((e.est - x.n_exact) / x.n_exact, 4) AS rel_err
    FROM est e JOIN exact x ON x.event_type = e.event_type
    ORDER BY event_type
"""


def kmv_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET OPERATIONS: estimate the distinct-user Jaccard
    similarity between every pair of event types from their K-minimum
    -values sketches alone — the property that makes KMV the sketch
    of choice for cross-dataset overlap audits (union = K smallest of
    the sketch union; Jaccard = fraction of the union sketch present
    in both sides; Beyer et al. 2007). The exact Jaccard runs
    alongside to expose the sketch error, as in
    :func:`kmv_distinct_users`.

    Scale shape: each type's sketch is K values (the corpus collapses
    to |types|·K rows before any pairwise work); the pairwise stage
    touches only sketches — |types|²/2 · K rows total, independent of
    event volume. Every rank window partitions by type or type-pair
    (bounded state); membership tests are equi-joins on the 48-bit
    hash. All arithmetic is exact integers/ratios → bit-identical
    across engines.

    Returns (type_a, type_b, kmv_jaccard, exact_jaccard, abs_err)
    for type_a < type_b, ordered by pair.
    """
    from pyspark.sql.window import Window

    hashed = _kmv_hashed(spark, sf_dir)
    wk = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "h")
        # the sketch subtree (artifact scan + window) feeds FOUR
        # branches below (a, b, and both type spines); each re-reads
        # the persisted compaction, not the events
    )
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("h")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("h")
    )
    # union of the two sketches per (a, b) pair, K smallest kept;
    # membership flags survive the merge via max() over the dedup
    merged = (
        a.withColumn("in_a", F.lit(1)).withColumn("in_b", F.lit(0))
        .crossJoin(
            sk.select(F.col("event_type").alias("type_b")).distinct()
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .unionByName(
            b.withColumn("in_b", F.lit(1))
            .withColumn("in_a", F.lit(0))
            .crossJoin(
                sk.select(
                    F.col("event_type").alias("type_a")
                ).distinct()
            )
            .filter(F.col("type_a") < F.col("type_b"))
        )
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
        )
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    topk = merged.withColumn("urn", F.row_number().over(wp)).filter(
        F.col("urn") <= KMV_K
    )
    est = topk.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("k_eff"),
        F.sum(
            (F.col("in_a") * F.col("in_b")).cast("bigint")
        ).alias("n_both"),
    )
    exact = (
        hashed.alias("x")
        .join(
            hashed.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    ej = (
        exact.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.round(
                F.col("n_inter")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("n_inter")
                ).cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
    )
    return (
        est.join(ej, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.round(
                F.col("n_both") / F.col("k_eff").cast("double"), 6
            ).alias("kmv_jaccard"),
            "exact_jaccard",
            F.round(
                F.abs(
                    F.col("n_both") / F.col("k_eff").cast("double")
                    - F.col("exact_jaccard")
                ),
                6,
            ).alias("abs_err"),
        )
        .repartition(1)
        .orderBy("type_a", "type_b")
    )


QUERIES["kmv_type_overlap"] = kmv_type_overlap

ORACLE_SQL["kmv_type_overlap"] = f"""
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST({_KMV_HI_SQL} AS BIGINT) * {_KMV_HALF_SPACE}
               + CAST({_KMV_LO_SQL} AS BIGINT) AS h
        FROM events
    ),
    sk AS (
        SELECT event_type, h FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (
                       PARTITION BY event_type ORDER BY h
                   ) AS rn
            FROM hashed
        ) WHERE rn <= {KMV_K}
    ),
    types AS (SELECT DISTINCT event_type FROM sk),
    merged AS (
        SELECT type_a, type_b, h,
               MAX(in_a) AS in_a, MAX(in_b) AS in_b
        FROM (
            SELECT s.event_type AS type_a, t.event_type AS type_b,
                   s.h, 1 AS in_a, 0 AS in_b
            FROM sk s CROSS JOIN types t
            WHERE s.event_type < t.event_type
            UNION ALL
            SELECT t.event_type AS type_a, s.event_type AS type_b,
                   s.h, 0 AS in_a, 1 AS in_b
            FROM sk s CROSS JOIN types t
            WHERE t.event_type < s.event_type
        )
        GROUP BY type_a, type_b, h
    ),
    topk AS (
        SELECT * FROM (
            SELECT type_a, type_b, h, in_a, in_b,
                   ROW_NUMBER() OVER (
                       PARTITION BY type_a, type_b ORDER BY h
                   ) AS urn
            FROM merged
        ) WHERE urn <= {KMV_K}
    ),
    est AS (
        SELECT type_a, type_b,
               COUNT(*) AS k_eff,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
        FROM topk GROUP BY type_a, type_b
    ),
    inter AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               COUNT(*) AS n_inter
        FROM hashed x
        JOIN hashed y ON y.h = x.h
                     AND x.event_type < y.event_type
        GROUP BY 1, 2
    ),
    sizes AS (
        SELECT event_type, COUNT(*) AS n FROM hashed
        GROUP BY event_type
    )
    SELECT e.type_a AS type_a, e.type_b AS type_b,
           ROUND(e.n_both / CAST(e.k_eff AS DOUBLE), 6) AS kmv_jaccard,
           ROUND(i.n_inter
                 / CAST(sa.n + sb.n - i.n_inter AS DOUBLE), 6)
               AS exact_jaccard,
           ROUND(ABS(e.n_both / CAST(e.k_eff AS DOUBLE)
                     - i.n_inter
                       / CAST(sa.n + sb.n - i.n_inter AS DOUBLE)), 6)
               AS abs_err
    FROM est e
    JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
    JOIN sizes sa ON sa.event_type = e.type_a
    JOIN sizes sb ON sb.event_type = e.type_b
    ORDER BY type_a, type_b
"""


#: Space-Saving summary capacity (counters per key). Any item whose
#: true count exceeds N/SS_CAPACITY is GUARANTEED to be tracked
#: (Metwally et al. 2005) — 128 puts that threshold inside the
#: synthetic corpus's per-type count range, so the guarantee set is
#: non-empty at the gate scale.
SS_CAPACITY = 128


def guaranteed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type users whose EXACT count clears the Space-Saving
    guarantee threshold ``count * SS_CAPACITY > N_type`` — the set a
    Space-Saving summary of ``SS_CAPACITY`` counters provably contains
    regardless of arrival order, each with
    ``count ≤ count_hat ≤ count + err``.

    Scale shape: one scan → (type, user) hash aggregate with map-side
    combine → per-type totals re-aggregated from that compaction (no
    second scan) joined back on the 5-value type key."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n_type")
    )
    return (
        counts.join(F.broadcast(totals), "event_type")
        .filter(F.col("cnt") * SS_CAPACITY > F.col("n_type"))
        .select("event_type", "user_id", "cnt", "n_type")
        .repartition(1)
        .orderBy("event_type", F.col("cnt").desc(), "user_id")
    )


QUERIES["guaranteed_heavy_hitters"] = guaranteed_heavy_hitters

ORACLE_SQL["guaranteed_heavy_hitters"] = f"""
    WITH counts AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_type
        FROM counts GROUP BY 1
    )
    SELECT c.event_type, c.user_id, c.cnt, t.n_type
    FROM counts c JOIN totals t USING (event_type)
    WHERE c.cnt * {SS_CAPACITY} > t.n_type
    ORDER BY c.event_type, c.cnt DESC, c.user_id
"""
