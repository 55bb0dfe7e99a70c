"""Dataset splitting and distribution statistics — the bookkeeping
operators of a training-data pipeline.

Splits are **deterministic content-hash buckets**, never ``rand()``:
the same document lands in the same split on every run, on any
cluster, after any repartition — reproducibility is a correctness
property for train/eval separation. The hash is md5-based so the
DuckDB oracle computes the identical assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.functions.text import words

#: train/val/test percentages (bucket thresholds over 0..99).
SPLITS = (("train", 0, 90), ("val", 90, 95), ("test", 95, 100))


def _bucket(id_col: F.Column) -> F.Column:
    """0..99 bucket from two md5 hex chars of the id — identical
    arithmetic in DuckDB: (ascii(c1)*256 + ascii(c2)) % 100."""
    h = F.md5(id_col.cast("string"))
    return (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100


def _split_col(id_col: F.Column) -> F.Column:
    b = _bucket(id_col)
    expr = F.when(
        (b >= SPLITS[0][1]) & (b < SPLITS[0][2]), SPLITS[0][0]
    )
    for name, lo, hi in SPLITS[1:]:
        expr = expr.when((b >= lo) & (b < hi), name)
    return expr


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document split assignment (90/5/5 train/val/test)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            _split_col(F.col("doc_id")).alias("split"),
        )
        .orderBy("doc_id")
    )


def dataset_split_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split × language counts — the leakage/balance audit table."""
    return (
        dataset_split(spark, sf_dir)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .repartition(1)
        .orderBy("split", "lang")
    )


def split_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget per (split, lang): the table a training run reads
    to decide mixture weights and epoch counts — docs, whitespace
    tokens, and BPE-ish tokens per cell, with per-split token share.

    Composition of the deterministic split assignment with the token
    counters: one narrow projection computing both token counts, one
    aggregate keyed on (split, lang); the corpus total for the share
    is a whole-partition window sum over those ≤ splits × langs cells
    (a separate 1-row aggregate would re-run the double-regex
    per-doc projection over the whole corpus — the totals-rejoin
    shape)."""
    docs = load_table(spark, sf_dir, "documents")
    bpe_re = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
    per_doc = docs.select(
        _split_col(F.col("doc_id")).alias("split"),
        "lang",
        F.size(F.expr("regexp_extract_all(text, '[^ ]+', 0)")).alias(
            "ws_tokens"
        ),
        F.size(F.expr(f"regexp_extract_all(text, '{bpe_re}', 0)")).alias(
            "bpe_ish_tokens"
        ),
    )
    cells = per_doc.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("total_ws_tokens"),
        F.sum("bpe_ish_tokens").cast("bigint").alias("total_bpe_ish_tokens"),
    )
    wall = Window.orderBy("split", "lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        cells.withColumn(
            "corpus_ws_tokens", F.sum("total_ws_tokens").over(wall)
        )
        .select(
            "split",
            "lang",
            "n_docs",
            "total_ws_tokens",
            "total_bpe_ish_tokens",
            F.round(
                F.col("total_ws_tokens") / F.col("corpus_ws_tokens"), 4
            ).alias("ws_token_share"),
        )
        .orderBy("split", "lang")
    )


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type,
    computed over exact integer cents so the interpolation arithmetic
    is cross-engine deterministic. (At 100 TB you'd switch to
    ``percentile_approx`` — sketch-based, single-pass, mergeable — and
    accept the error bound; the exact form is the oracle-checkable
    baseline.)"""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    out = e.withColumn("cents", cents).groupBy("event_type")
    percentiles = {
        "p50": 0.5,
        "p90": 0.9,
        "p99": 0.99,
    }
    return (
        out.agg(
            *[
                F.round(F.expr(f"percentile(cents, {q})") / 100.0, 4).alias(name)
                for name, q in percentiles.items()
            ],
            F.count(F.lit(1)).alias("n_events"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


#: Per-language sampling rates (percent) — an up/down-sampling mixture.
MIX_RATES = {"en": 100, "de": 60, "es": 60, "fr": 60, "zh": 40}


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep each document iff its
    content-hash bucket falls under its language's mixture rate.
    Hash-based (not rand()) so the sample is stable across runs and
    partitionings — the property a reproducible data mixture needs."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(MIX_RATES["en"]))
    for lang, pct in list(MIX_RATES.items())[1:]:
        rate = rate.when(F.col("lang") == lang, F.lit(pct))
    return (
        docs.withColumn("_b", _bucket(F.col("doc_id")))
        .filter(F.col("_b") < rate.otherwise(F.lit(0)))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (``percentile_approx``, the
    single-pass mergeable form that replaces exact sort-based
    percentiles at 100 TB), gated like ``approx_distinct_users``:
    sketch internals differ across engines, so the hash-checked
    value is the exact p50 plus an ``estimate_ok`` contract column
    asserting the sketch lands within 2% relative error of it (the
    oracle expects literally TRUE). A broken sketch fails the gate
    without pretending two engines' sketches agree."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    tol = 0.02
    return (
        e.withColumn("cents", cents)
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(cents, 0.5)") / 100.0, 4).alias(
                "exact_p50"
            ),
            (F.expr("approx_percentile(cents, 0.5, 10000)") / 100.0).alias(
                "approx_p50"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "exact_p50",
            "n_events",
            (
                F.abs(F.col("approx_p50") - F.col("exact_p50"))
                <= tol * F.abs(F.col("exact_p50"))
            ).alias("estimate_ok"),
        )
        .repartition(1)
        .orderBy("event_type")
    )


#: Fixed-size deterministic sample size.
SAMPLE_N = 100


def fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size uniform sample: the N documents with
    the smallest content-hash values — the "give me exactly 10k docs
    for eyeballing / eval" operator. Unlike ``TABLESAMPLE`` /
    ``rand()`` this is stable across runs, partitionings, and
    engines, and unlike a per-row rate it returns exactly N rows.

    Scale shape: ORDER BY hash LIMIT N compiles to
    ``TakeOrderedAndProject`` — per-partition top-N heaps merged on
    one reducer, never a global sort materialization. The rank window
    runs over the N survivors only."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string")))
    top = (
        docs.select("doc_id", "lang", h.alias("hk"))
        .orderBy("hk")
        .limit(SAMPLE_N)
    )
    w = Window.orderBy("hk")
    return (
        top.withColumn("sample_rank", F.row_number().over(w))
        .select("doc_id", "lang", "sample_rank")
        .orderBy("sample_rank")
    )


#: Poisson-sampling dial: inclusion probability = min(1, tokens/CAP).
#: At corpus scale CAP is the expected-tokens-per-kept-doc knob; the
#: probability is length-proportional so the sample preserves the
#: token mixture, not the doc-count mixture.
POISSON_CAP = 200
_U_BITS = 16  # md5-derived uniform resolution (4 hex digits)


def _hex4(prefix: str, id_col: F.Column) -> F.Column:
    """First 4 md5 hex digits as an integer 0..65535 — the
    deterministic uniform for the inclusion test (shared helper, see
    functions/hashing)."""
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int,
    )

    h = F.md5(F.concat(F.lit(prefix), id_col.cast("string")))
    return md5_hex_int(h, 1, 4)


def poisson_sample_rows(docs: DataFrame) -> DataFrame:
    """The sampler body over any (doc_id, lang, text) frame — the
    reusable pipeline :func:`poisson_token_sample` ships (property
    tests replay THIS function against a Python oracle)."""
    toks = F.size(F.split(F.col("text"), " "))
    u = _hex4("pois|", F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", toks.alias("tokens"), u.alias("u"))
        .filter(F.col("u") * POISSON_CAP < F.col("tokens") * (1 << _U_BITS))
        .select(
            "doc_id",
            "lang",
            "tokens",
            F.when(F.col("tokens") >= POISSON_CAP, F.lit(1.0))
            .otherwise(F.round(F.lit(float(POISSON_CAP)) / F.col("tokens"), 6))
            .alias("ht_weight"),
        )
    )


def poisson_token_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson (importance) sample with probability
    proportional to token count, plus the Horvitz-Thompson weight
    that makes any sample-side aggregate unbiased for the corpus
    (weight = 1/p). The keep decision is EXACT integer arithmetic —
    ``u · CAP < tokens · 2^16`` — so no float comparison can diverge
    between engines, runs, or partitionings.

    Scale shape: one narrow scan projection with a filter — no
    shuffle at all until a consumer aggregates; every row decides
    independently (the property that makes Poisson sampling THE
    distributed/streaming sampler — no global state, merges
    trivially)."""
    docs = load_table(spark, sf_dir, "documents")
    return poisson_sample_rows(docs).orderBy("doc_id")


#: Global-shuffle parameters: a content-hash seed (change it to
#: re-shuffle between epochs) and the output shard count.
SHUFFLE_SEED = "42"
N_SHARDS = 8


def global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + contiguous shard assignment —
    the "shuffle your corpus before training" pass. Every doc gets a
    pseudorandom but reproducible global position (rank of its seeded
    md5) and a balanced shard; changing ``SHUFFLE_SEED`` re-deals the
    permutation.

    Scale shape — a total order WITHOUT a single-partition window:
    rank globally by hash via two passes, (1) per-prefix counts of the
    hash's first two hex chars (≤256 groups, map-side combinable),
    turned into cumulative offsets on a 256-row frame and broadcast;
    (2) a row_number window PARTITIONED by prefix (bounded state,
    ~n/256 rows each) plus the prefix's offset. The prefix is
    order-preserving on the hash string, so the stitched rank equals
    the oracle's one big ``ROW_NUMBER() OVER (ORDER BY h)``. This is
    the distributed total-order-rank pattern (TeraSort's histogram
    rank) — no driver collect, no global sort into one partition."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(":" + SHUFFLE_SEED))
    )
    keyed = docs.select(
        "doc_id", h.alias("h"), F.substring(h, 1, 2).alias("pfx")
    )
    counts = keyed.groupBy("pfx").agg(F.count(F.lit(1)).alias("n"))
    # 256-row frame: cumulative offset of all lexicographically
    # earlier prefixes + the grand total (window over ≤256 rows)
    w = Window.orderBy("pfx").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pfx",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("offset"),
        F.sum("n").over(
            Window.orderBy("pfx").rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    # rank BELOW the broadcast join: the within-prefix row_number
    # needs nothing from the offsets side, and putting it above the
    # join serialized the two corpus passes (the rank scan could not
    # start until the histogram scan's broadcast was built — the
    # decayed_event_scores stage-overlap find)
    ranked = keyed.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("pfx").orderBy("h", "doc_id")
        ),
    )
    return (
        ranked.join(F.broadcast(offsets), "pfx")
        .select(
            "doc_id",
            (F.col("offset") + F.col("rn")).cast("bigint").alias("pos"),
            "total",
        )
        .select(
            "doc_id",
            "pos",
            F.expr(f"CAST((pos - 1) * {N_SHARDS} DIV total AS INT)").alias(
                "shard_id"
            ),
        )
        .orderBy("pos")
    )


#: Per-group reservoir size for the grouped sample.
GROUP_K = 25


def grouped_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K-per-group deterministic sample: the K documents with
    the smallest content-hash rank WITHIN each source — the balanced
    eval-set / eyeball-set operator (`fixed_size_sample` is its
    global cousin). Hash-ordered, so the reservoir is stable across
    runs, partitionings, and engines — the reproducibility property
    `TABLESAMPLE`/`rand()` reservoirs lack.

    Scale shape: one ``row_number`` window partitioned by the group
    key — shuffle on source, per-key state is a counter; no global
    sort, no driver collection. (A true streaming reservoir would be
    `applyInPandasWithState`; for batch the rank window IS the
    scalable form.)
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("gres|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("hk")
    return (
        docs.select("doc_id", "source", "lang", h.alias("hk"))
        .withColumn("k_rank", F.row_number().over(w))
        .filter(F.col("k_rank") <= GROUP_K)
        .select("source", "k_rank", "doc_id", "lang")
        .repartition(1)
        .orderBy("source", "k_rank")
    )


#: Target tick count per source for the PPS systematic sampler.
PPS_TICKS = 40


def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size systematic sampling: lay
    ~``PPS_TICKS`` equally-spaced token "ticks" along each source's
    doc_id-ordered token axis and keep every document a tick lands in
    — inclusion probability ∝ document tokens, with the even spread
    (no two adjacent tiny docs both sampled) that independent Poisson
    draws don't give. ``n_ticks`` > 1 marks a doc heavy enough to be
    sampled multiple times (its replication weight in the drawn set).

    Unlike the Efraimidis–Spirakis exponential-key scheme this needs
    NO transcendental math — membership is pure integer division on
    exact token prefix sums, so both engines agree bit-for-bit on
    exactly which documents are drawn.

    Scale shape: one prefix-sum window partitioned by source (the
    same per-source sort a packer needs anyway; sources parallelize)
    + a broadcast of per-source stride. No global sort, no rand().
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select("source", "doc_id", F.size(words()).alias("toks"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    stride = F.greatest(
        F.expr(f"total div {PPS_TICKS}"), F.lit(1)
    ).alias("stride")
    totals = F.broadcast(
        per.groupBy("source")
        .agg(F.sum("toks").cast("bigint").alias("total"))
        .select("source", stride)
    )
    cum = per.withColumn("cum", F.sum("toks").over(w).cast("bigint"))
    return (
        cum.join(totals, "source")
        .withColumn(
            "n_ticks",
            (
                F.expr("cum div stride")
                - F.expr("(cum - toks) div stride")
            ).cast("bigint"),
        )
        .filter(F.col("n_ticks") > 0)
        .select("source", "doc_id", F.col("toks").alias("tokens"), "n_ticks")
        .orderBy("source", "doc_id")
    )


QUERIES = {
    "fixed_size_sample": fixed_size_sample,
    "grouped_reservoir_sample": grouped_reservoir_sample,
    "pps_systematic_sample": pps_systematic_sample,
    "poisson_token_sample": poisson_token_sample,
    "dataset_split": dataset_split,
    "stratified_sample": stratified_sample,
    "dataset_split_summary": dataset_split_summary,
    "value_percentiles": value_percentiles,
    "approx_value_percentiles": approx_value_percentiles,
    "split_token_budget": split_token_budget,
    "global_shuffle_shards": global_shuffle_shards,
}

_BUCKET_SQL = (
    "(ascii(substr(md5(CAST(doc_id AS STRING)), 1, 1)) * 256"
    " + ascii(substr(md5(CAST(doc_id AS STRING)), 2, 1))) % 100"
)

def bucket_sql(id_expr: str) -> str:
    """DuckDB twin of :func:`_bucket` over an arbitrary id expr."""
    h = f"md5(CAST({id_expr} AS STRING))"
    return (
        f"(ascii(substr({h}, 1, 1)) * 256"
        f" + ascii(substr({h}, 2, 1))) % 100"
    )


def split_case_sql(id_expr: str) -> str:
    """DuckDB twin of :func:`_split_col` over an arbitrary id expr —
    generated from ``SPLITS`` so the boundaries live in one place."""
    b = bucket_sql(id_expr)
    arms = " ".join(
        f"WHEN {b} >= {lo} AND {b} < {hi} THEN '{name}'"
        for name, lo, hi in SPLITS
    )
    return f"CASE {arms} END"


_SPLIT_CASE = split_case_sql("doc_id")

_RATE_CASE = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in MIX_RATES.items()
) + " ELSE 0 END"

def _hex4_sql(prefix: str, id_expr: str) -> str:
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int_sql,
    )

    h = f"md5('{prefix}' || CAST({id_expr} AS STRING))"
    return md5_hex_int_sql(h, 1, 4)


ORACLE_SQL = {
    "poisson_token_sample": f"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS tokens,
                   {_hex4_sql('pois|', 'doc_id')} AS u
            FROM documents
        )
        SELECT doc_id, lang, tokens,
               CASE WHEN tokens >= {POISSON_CAP} THEN 1.0
                    ELSE ROUND({POISSON_CAP}.0 / tokens, 6) END
                   AS ht_weight
        FROM d
        WHERE u * {POISSON_CAP} < tokens * {1 << _U_BITS}
        ORDER BY doc_id
    """,
    "pps_systematic_sample": f"""
        WITH per AS (
            SELECT source, doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
            FROM documents
        ),
        cums AS (
            SELECT source, doc_id, toks,
                   CAST(SUM(toks) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM per
        ),
        strides AS (
            SELECT source,
                   GREATEST(SUM(toks) // {PPS_TICKS}, 1) AS stride
            FROM per GROUP BY source
        )
        SELECT c.source, c.doc_id, c.toks AS tokens,
               CAST(c.cum // s.stride
                    - (c.cum - c.toks) // s.stride AS BIGINT) AS n_ticks
        FROM cums c JOIN strides s ON c.source = s.source
        WHERE c.cum // s.stride - (c.cum - c.toks) // s.stride > 0
        ORDER BY c.source, c.doc_id
    """,
    "grouped_reservoir_sample": f"""
        SELECT source, k_rank, doc_id, lang
        FROM (
            SELECT source, doc_id, lang,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5('gres|' || CAST(doc_id AS STRING))
                   ) AS INTEGER) AS k_rank
            FROM documents
        )
        WHERE k_rank <= {GROUP_K}
        ORDER BY source, k_rank
    """,
    "fixed_size_sample": f"""
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (ORDER BY hk) AS INTEGER)
                   AS sample_rank
        FROM (
            SELECT doc_id, lang,
                   md5('sample|' || CAST(doc_id AS STRING)) AS hk
            FROM documents
            ORDER BY hk
            LIMIT {SAMPLE_N}
        )
        ORDER BY sample_rank
    """,
    "split_token_budget": f"""
        WITH per_doc AS (
            SELECT {_SPLIT_CASE} AS split,
                   lang,
                   len(regexp_extract_all(text, '[^ ]+')) AS ws_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS bpe_ish_tokens
            FROM documents
        ),
        cells AS (
            SELECT split, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
                   CAST(SUM(bpe_ish_tokens) AS BIGINT)
                       AS total_bpe_ish_tokens
            FROM per_doc GROUP BY split, lang
        ),
        total AS (
            SELECT CAST(SUM(ws_tokens) AS BIGINT) AS corpus_ws_tokens
            FROM per_doc
        )
        SELECT split, lang, n_docs, total_ws_tokens, total_bpe_ish_tokens,
               ROUND(total_ws_tokens * 1.0 / corpus_ws_tokens, 4)
                   AS ws_token_share
        FROM cells CROSS JOIN total
        ORDER BY split, lang
    """,
    "approx_value_percentiles": """
        SELECT event_type,
               ROUND(percentile_cont(0.50) WITHIN GROUP (
                         ORDER BY CAST(ROUND(value * 100) AS BIGINT))
                     / 100.0, 4) AS exact_p50,
               COUNT(*) AS n_events,
               TRUE AS estimate_ok
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "stratified_sample": f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE {_BUCKET_SQL} < {_RATE_CASE}
        ORDER BY doc_id
    """,
    "dataset_split": f"""
        SELECT doc_id, lang, {_SPLIT_CASE} AS split
        FROM documents
        ORDER BY doc_id
    """,
    "dataset_split_summary": f"""
        SELECT {_SPLIT_CASE} AS split, lang, COUNT(*) AS n_docs
        FROM documents
        GROUP BY 1, lang
        ORDER BY split, lang
    """,
    "value_percentiles": """
        SELECT event_type,
               ROUND(percentile_cont(0.50) WITHIN GROUP (ORDER BY cents)
                     / 100.0, 4) AS p50,
               ROUND(percentile_cont(0.90) WITHIN GROUP (ORDER BY cents)
                     / 100.0, 4) AS p90,
               ROUND(percentile_cont(0.99) WITHIN GROUP (ORDER BY cents)
                     / 100.0, 4) AS p99,
               COUNT(*) AS n_events
        FROM (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        )
        GROUP BY event_type
        ORDER BY event_type
    """,
    "global_shuffle_shards": f"""
        WITH h AS (
            SELECT doc_id,
                   md5(CAST(doc_id AS STRING) || ':{SHUFFLE_SEED}') AS h
            FROM documents
        ),
        ranked AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY h, doc_id) AS pos,
                   COUNT(*) OVER () AS total
            FROM h
        )
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               CAST(((pos - 1) * {N_SHARDS}) // total AS INTEGER)
                   AS shard_id
        FROM ranked
        ORDER BY pos
    """,
}


def shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance audit of the training-shard assignment: per-shard doc
    and TOKEN counts with each shard's token share — the check that
    says whether contiguous hash-rank sharding actually balanced the
    byte/token budget (doc-count balance is guaranteed by
    construction; token balance is not, because document lengths
    vary). A shard whose share drifts from 100/N_SHARDS% tells the
    packer to shard by token prefix sums instead
    (``split_token_budget``'s accounting).

    One equi-join of the shard assignment with per-doc token counts
    (co-partitioned on doc_id), then an ``N_SHARDS``-row aggregate —
    map-side combinable, output bounded by the shard count."""
    from tableau_dashboard_performance_etl_automation_spark.functions.text import words

    shards = global_shuffle_shards(spark, sf_dir).select(
        "doc_id", "shard_id"
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(words()).cast("bigint").alias("toks")
    )
    total = F.broadcast(toks.agg(F.sum("toks").alias("total_tokens")))
    return (
        shards.join(toks, "doc_id")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
        )
        .crossJoin(total)
        .select(
            "shard_id",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens") * 100.0 / F.col("total_tokens"), 4
            ).alias("token_share_pct"),
        )
        .repartition(1)
        .orderBy("shard_id")
    )


QUERIES["shard_skew_report"] = shard_skew_report

ORACLE_SQL["shard_skew_report"] = f"""
    WITH h AS (
        SELECT doc_id,
               md5(CAST(doc_id AS STRING) || ':{SHUFFLE_SEED}') AS h
        FROM documents
    ),
    ranked AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY h, doc_id) AS pos,
               COUNT(*) OVER () AS total
        FROM h
    ),
    shards AS (
        SELECT doc_id,
               CAST(((pos - 1) * {N_SHARDS}) // total AS INTEGER)
                   AS shard_id
        FROM ranked
    ),
    toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ),
    tot AS (SELECT SUM(toks) AS total_tokens FROM toks)
    SELECT s.shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.toks) AS BIGINT) AS n_tokens,
           ROUND(SUM(t.toks) * 100.0 / (SELECT total_tokens FROM tot), 4)
               AS token_share_pct
    FROM shards s JOIN toks t USING (doc_id)
    GROUP BY s.shard_id
    ORDER BY s.shard_id
"""


#: Token-balanced packing: number of parallel bins (data-loader
#: workers / microbatch streams) the corpus is striped across.
N_PACK_BINS = 16


def token_packed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced bin packing plan: stripe documents across
    ``N_PACK_BINS`` bins in descending token order (longest-first
    round-robin — the classic LPT-style balancing heuristic), so
    every bin ends up with near-equal token mass. This is the
    sequence-packing PLANNER of a training data loader: equal-token
    bins mean equal-work microbatch streams, where naive per-doc
    round-robin leaves long-document skew.

    Scale shape — a global rank WITHOUT a single-partition sort: the
    sort key is the token COUNT, whose distinct-value domain is
    bounded by document length, so the rank decomposes exactly like
    ``global_shuffle_shards``' hash-prefix histogram: (1) per-count
    doc totals (map-side combinable), cumulated into per-count
    offsets on a tiny broadcast frame; (2) a row_number window
    partitioned by count (bounded state) stitched onto the offset.
    The per-bin aggregate is ``N_PACK_BINS`` rows.

    Returns (bin_id, n_docs, total_tokens, max_tokens) by bin_id.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("toks")
    )
    counts = t.groupBy("toks").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("toks").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "toks", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("offset")
    )
    rn = F.row_number().over(
        Window.partitionBy("toks").orderBy("doc_id")
    )
    ranked = t.join(F.broadcast(offsets), "toks").select(
        "doc_id", "toks", (F.col("offset") + rn).alias("rank")
    )
    return (
        ranked.select(
            "toks",
            ((F.col("rank") - 1) % N_PACK_BINS)
            .cast("int")
            .alias("bin_id"),
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
            F.max("toks").cast("bigint").alias("max_tokens"),
        )
        .repartition(1)
        .orderBy("bin_id")
    )


QUERIES["token_packed_bins"] = token_packed_bins

ORACLE_SQL["token_packed_bins"] = f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS toks
        FROM documents
    ),
    r AS (
        SELECT doc_id, toks,
               ROW_NUMBER() OVER (ORDER BY toks DESC, doc_id) AS rank
        FROM t
    )
    SELECT CAST((rank - 1) % {N_PACK_BINS} AS INTEGER) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(MAX(toks) AS BIGINT) AS max_tokens
    FROM r
    GROUP BY bin_id
    ORDER BY bin_id
"""


#: Bootstrap replicates and per-replicate keep rate (percent). 32
#: half-samples give a stable nonparametric CI on any mean-like
#: corpus statistic; the replicate membership is md5-deterministic,
#: so the "random" resamples are reproducible and oracle-replayable.
BOOT_B = 32
BOOT_KEEP_PCT = 50


def bootstrap_mean_tokens_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nonparametric confidence interval for the corpus mean token
    count via deterministic half-sample bootstrap (m-out-of-n):
    ``BOOT_B`` replicates, each keeping a doc iff
    ``md5(replicate|doc)`` falls under the keep rate, then the
    [2.5%, 97.5%] spread of the replicate means. Error bars on corpus
    statistics are how a curation dashboard distinguishes real drift
    from sampling noise — and a hash-seeded bootstrap is the only
    kind that is reproducible across runs, partitionings, and
    engines.

    Scale shape: the replicate dimension is a BOOT_B-row broadcast
    range crossed onto a narrow (doc_id, tokens) projection — one
    pass over the corpus produces every replicate's membership
    simultaneously (flat-map, no per-replicate rescan); per-replicate
    means are one hash aggregate keyed by replicate id (B groups);
    the quantile step runs on a B-row frame. Means are exact integer
    token sums over exact counts, so replicate statistics are
    bit-identical across engines.

    Returns one row: (n_replicates, mean_tokens, ci_lo, ci_hi).
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("toks")
    )
    reps = F.broadcast(
        spark.range(BOOT_B).select(F.col("id").cast("int").alias("rep"))
    )
    member = (
        t.crossJoin(reps)
        .withColumn(
            "u",
            _hex4_rep(F.col("rep"), F.col("doc_id")),
        )
        .filter(F.col("u") * 100 < BOOT_KEEP_PCT * (1 << _U_BITS))
    )
    per_rep = member.groupBy("rep").agg(
        (
            F.sum("toks").cast("double") / F.count(F.lit(1))
        ).alias("rep_mean")
    )
    overall = t.agg(
        (F.sum("toks").cast("double") / F.count(F.lit(1))).alias(
            "mean_tokens"
        )
    )
    ci = per_rep.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.round(
            F.expr("percentile(rep_mean, 0.025)"), 4
        ).alias("ci_lo"),
        F.round(
            F.expr("percentile(rep_mean, 0.975)"), 4
        ).alias("ci_hi"),
    )
    return ci.crossJoin(F.broadcast(overall)).select(
        "n_replicates",
        F.round(F.col("mean_tokens"), 4).alias("mean_tokens"),
        "ci_lo",
        "ci_hi",
    )


def _hex4_rep(rep_col: F.Column, id_col: F.Column) -> F.Column:
    """Per-replicate uniform: first 4 md5 hex digits of
    ``boot|<rep>|<doc_id>`` — the _hex4 family keyed by replicate."""
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int,
    )

    h = F.md5(
        F.concat(
            F.lit("boot|"),
            rep_col.cast("string"),
            F.lit("|"),
            id_col.cast("string"),
        )
    )
    return md5_hex_int(h, 1, 4)


QUERIES["bootstrap_mean_tokens_ci"] = bootstrap_mean_tokens_ci


def _boot_u_sql() -> str:
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int_sql,
    )

    h = ("md5('boot|' || CAST(r.rep AS STRING) || '|'"
         " || CAST(t.doc_id AS STRING))")
    return md5_hex_int_sql(h, 1, 4)


ORACLE_SQL["bootstrap_mean_tokens_ci"] = f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS toks
        FROM documents
    ),
    r AS (
        SELECT CAST(UNNEST(generate_series(0, {BOOT_B - 1})) AS INTEGER)
                   AS rep
    ),
    member AS (
        SELECT r.rep, t.toks
        FROM t CROSS JOIN r
        WHERE {{u}} * 100 < {BOOT_KEEP_PCT} * {1 << 16}
    ),
    per_rep AS (
        SELECT rep,
               CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS rep_mean
        FROM member GROUP BY rep
    ),
    overall AS (
        SELECT CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS mean_tokens
        FROM t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
           ROUND(ANY_VALUE(o.mean_tokens), 4) AS mean_tokens,
           ROUND(quantile_cont(rep_mean, 0.025), 4) AS ci_lo,
           ROUND(quantile_cont(rep_mean, 0.975), 4) AS ci_hi
    FROM per_rep CROSS JOIN overall o
""".replace("{u}", _boot_u_sql())


def ht_estimated_token_total(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Horvitz-Thompson estimation CLOSED LOOP: estimate the corpus
    token total from the Poisson PPS sample alone
    (:func:`poisson_token_sample`) and report it against the exact
    total — the check that the sampler's inclusion probabilities and
    weights actually deliver the unbiasedness the docstring promises.
    For size-proportional inclusion ``p = toks/CAP`` the HT term
    ``toks/p`` collapses to exact integers (CAP for every sampled doc
    under the cap, ``toks`` for docs at p=1), so the estimate itself
    is integer-exact and cross-engine stable — only the final
    relative error is a rounded double.

    Scale shape: one narrow scan for the sample (no shuffle before
    the 1-row aggregates), one for the exact total; both collapse
    map-side.

    Returns one row: (n_sampled, est_total_tokens,
    exact_total_tokens, rel_err).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    u = _hex4("pois|", F.col("doc_id"))
    sampled = docs.select(
        toks.alias("toks"), u.alias("u")
    ).filter(F.col("u") * POISSON_CAP < F.col("toks") * (1 << _U_BITS))
    est = sampled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum(
            F.when(
                F.col("toks") >= POISSON_CAP, F.col("toks")
            ).otherwise(F.lit(POISSON_CAP))
        ).cast("bigint").alias("est_total_tokens"),
    )
    exact = docs.agg(
        F.sum(toks).cast("bigint").alias("exact_total_tokens")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_sampled",
        "est_total_tokens",
        "exact_total_tokens",
        F.round(
            (
                F.col("est_total_tokens")
                - F.col("exact_total_tokens")
            ).cast("double")
            / F.col("exact_total_tokens"),
            6,
        ).alias("rel_err"),
    )


QUERIES["ht_estimated_token_total"] = ht_estimated_token_total

_POIS_U_SQL = _hex4_sql("pois|", "doc_id")

ORACLE_SQL["ht_estimated_token_total"] = f"""
    WITH t AS (
        SELECT doc_id, (length(text) - length(replace(text, ' ', '')) + 1) AS toks
        FROM documents
    ),
    s AS (
        SELECT toks FROM t
        WHERE {_POIS_U_SQL} * {POISSON_CAP}
              < toks * {1 << 16}
    ),
    est AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
               CAST(SUM(CASE WHEN toks >= {POISSON_CAP} THEN toks
                             ELSE {POISSON_CAP} END) AS BIGINT)
                   AS est_total_tokens
        FROM s
    ),
    exact AS (
        SELECT CAST(SUM(toks) AS BIGINT) AS exact_total_tokens FROM t
    )
    SELECT e.n_sampled, e.est_total_tokens, x.exact_total_tokens,
           ROUND(CAST(e.est_total_tokens - x.exact_total_tokens
                      AS DOUBLE) / x.exact_total_tokens, 6) AS rel_err
    FROM est e CROSS JOIN exact x
"""


#: Efraimidis–Spirakis weighted sample size.
ES_SAMPLE_N = 50


def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    exponential keys (2006): every doc draws a deterministic uniform
    u and competes on ``ln(u)/w`` (w = token count); the top-N keys
    ARE a weighted sample without replacement — the distributed
    one-pass answer to "sample 50 docs proportional to length, no
    duplicates", where sequential weighted reservoirs can't shard.

    Scale shape: one narrow projection computes the key, the top-N is
    a TakeOrdered (no global sort materialization); no state, merges
    trivially — the A-ES property that makes it THE distributed
    weighted sampler. Determinism: u is a 48-bit md5 uniform; the
    key rounds to 9 before ranking with a doc_id tiebreak, so an
    engine ulp in ``ln`` cannot reorder the sample.

    Returns (doc_id, tokens, es_key9) for the N winners, ordered by
    key desc (the selection order).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    h = F.md5(F.concat(F.lit("es|"), F.col("doc_id").cast("string")))
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import md5_hex_int

    u48 = (
        md5_hex_int(h, 1, 6).cast("bigint") * F.lit(_KMV_HALF_SPACE_ES)
        + md5_hex_int(h, 7, 6).cast("bigint")
    )
    # u in (0, 1]: (u48 + 1) / 2^48 — never 0, so ln is finite
    u = (u48 + 1).cast("double") / F.lit(float(_KMV_SPACE_ES))
    key = F.round(F.log(u) / toks.cast("double"), 9)
    return (
        docs.select(
            "doc_id", toks.alias("tokens"), key.alias("es_key9")
        )
        .filter(F.col("tokens") > 0)
        .orderBy(F.col("es_key9").desc(), F.col("doc_id"))
        .limit(ES_SAMPLE_N)
    )


_KMV_HALF_SPACE_ES = 16**6
_KMV_SPACE_ES = _KMV_HALF_SPACE_ES * _KMV_HALF_SPACE_ES

QUERIES["weighted_sample_es"] = weighted_sample_es


def _es_oracle() -> str:
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int_sql,
    )

    h = "md5('es|' || CAST(doc_id AS STRING))"
    hi = md5_hex_int_sql(h, 1, 6)
    lo = md5_hex_int_sql(h, 7, 6)
    return f"""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS tokens,
                   (CAST({hi} AS BIGINT) * {_KMV_HALF_SPACE_ES}
                    + CAST({lo} AS BIGINT) + 1) AS u48
            FROM documents
        )
        SELECT doc_id, tokens,
               ROUND(ln(u48 / {float(_KMV_SPACE_ES)!r})
                     / CAST(tokens AS DOUBLE), 9) AS es_key9
        FROM t
        WHERE tokens > 0
        ORDER BY es_key9 DESC, doc_id
        LIMIT {ES_SAMPLE_N}
    """


ORACLE_SQL["weighted_sample_es"] = _es_oracle()


#: Walk-forward split knobs: train fraction (by exact interpolated
#: time percentile) and embargo gap (ms) dropped between train and
#: test so horizon-h label leakage cannot cross the boundary (2 days
#: here: the corpus spans 30, so the test window keeps ~4).
EMBARGO_TRAIN_Q = 0.8
EMBARGO_MS = 2 * 24 * 3600 * 1000


def temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward train/test split with an EMBARGO window — the
    time-series leakage control (de Prado's purged walk-forward):
    train = events at or before the ``EMBARGO_TRAIN_Q`` time
    percentile, test = events more than ``EMBARGO_MS`` past it, and
    the embargo rows between are DROPPED so a label computed over a
    forward horizon in train can never overlap a test input. Hash
    splits (``dataset_split``) and group splits
    (``leakfree_split_assign``) cannot give this guarantee: temporal
    leakage is about adjacency in time, not identity.

    Output: per (split, event_type) census — rows, distinct users,
    exact cents — plus each split's time bounds, the audit a backtest
    reads before trusting its out-of-sample numbers.

    Scale shape: the cutoff is one exact interpolated percentile of
    epoch-millis (the ``value_drift_psi`` pair: Spark ``percentile``
    ↔ DuckDB ``quantile_cont``, identical doubles from identical
    BIGINTs), broadcast as one row; assignment is a codegen'd CASE
    per row; the census is one hash aggregate keyed on (split, type).
    Distinct users per cell is the only expensive aggregate and it is
    exact — at 100 TB swap in approx_count_distinct or the KMV
    sketch (``kmv_distinct_users``) if ±2 % is acceptable."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        F.unix_millis("ts").alias("ms"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    anchor = F.broadcast(
        ev.agg(
            F.expr(f"percentile(ms, {EMBARGO_TRAIN_Q}D)").alias("cut_ms")
        )
    )
    split = (
        F.when(F.col("ms") <= F.col("cut_ms"), F.lit("train"))
        .when(F.col("ms") > F.col("cut_ms") + EMBARGO_MS, F.lit("test"))
        .otherwise(F.lit("embargo"))
    )
    return (
        ev.crossJoin(anchor)
        .select(split.alias("split"), "user_id", "event_type", "cents", "ms")
        .filter(F.col("split") != "embargo")
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.min("ms").cast("bigint").alias("min_ms"),
            F.max("ms").cast("bigint").alias("max_ms"),
        )
        .repartition(1)
        .orderBy("split", "event_type")
    )


QUERIES["temporal_embargo_split"] = temporal_embargo_split

ORACLE_SQL["temporal_embargo_split"] = f"""
    WITH ev AS (
        SELECT epoch_ms(ts) AS ms,
               user_id,
               event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    anchor AS (
        SELECT quantile_cont(ms, {EMBARGO_TRAIN_Q}) AS cut_ms FROM ev
    ),
    tagged AS (
        SELECT CASE WHEN ms <= cut_ms THEN 'train'
                    WHEN ms > cut_ms + {EMBARGO_MS} THEN 'test'
                    ELSE 'embargo' END AS split,
               user_id, event_type, cents, ms
        FROM ev CROSS JOIN anchor
    )
    SELECT split, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(MIN(ms) AS BIGINT) AS min_ms,
           CAST(MAX(ms) AS BIGINT) AS max_ms
    FROM tagged
    WHERE split <> 'embargo'
    GROUP BY split, event_type
    ORDER BY split, event_type
"""


# ---------------------------------------------------------------------------
# Grouped k-fold assignment
# ---------------------------------------------------------------------------

#: Folds for grouped cross-validation (group = user: every event of a
#: user lands in ONE fold, so no user's behavior leaks across folds —
#: the grouped-CV discipline; plain row-level folds would leak).
KFOLD_K = 5


def user_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped k-fold assignment over events: fold =
    md5(user_id) mod K — deterministic, replayable, and
    group-disjoint by construction (a user's fold is a pure function
    of the id). Emits the per-fold balance audit: users, events,
    purchases, value cents — the table you eyeball before trusting a
    CV estimate (pathological imbalance means the hash is biased or
    the group sizes are heavy-tailed enough to need stratified
    grouping instead).

    Scale shape: one narrow projection (fold is 8 md5 hex digits mod
    K, no join — the assignment travels WITH each row) and one hash
    aggregate onto the K-row domain; COUNT(DISTINCT user) partials
    per fold. The same projection IS the production splitter: filter
    ``fold != i`` to train."""
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int,
    )

    e = load_table(spark, sf_dir, "events")
    # 7 hex digits: 16^7-1 < 2^31, so the int32 fold cannot overflow
    # in either engine (DuckDB ERRORS on int32 overflow; Spark wraps)
    fold = F.pmod(
        md5_hex_int(F.md5(F.col("user_id").cast("string")), 1, 7),
        F.lit(KFOLD_K),
    ).cast("int")
    return (
        e.select(
            fold.alias("fold"),
            "user_id",
            (F.col("event_type") == "purchase").cast("bigint").alias(
                "is_purchase"
            ),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_purchase").cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .repartition(1)
        .orderBy("fold")
    )


QUERIES["user_kfold_assignment"] = user_kfold_assignment


def _kfold_oracle() -> str:
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_int_sql,
    )

    fold = md5_hex_int_sql("md5(user_id::STRING)", 1, 7)
    return f"""
        SELECT CAST(({fold}) % {KFOLD_K} AS INTEGER) AS fold,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events
        GROUP BY 1
        ORDER BY fold
    """


ORACLE_SQL["user_kfold_assignment"] = _kfold_oracle()
