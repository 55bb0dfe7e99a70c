"""Training-data preparation passes over the document corpus:
context-window chunking, BPE-style pair statistics, and source
mixture weighting — the steps between a curated corpus and a tokenized
training run.

Scale notes (100 TB): all three are single-scan narrow transforms.
Chunking is a bounded row multiplication (⌈words/stride⌉ chunks per
doc, each chunk summarized to a fixed-width row — the full chunk text
never rematerializes unless a sink asks for it); pair counting is an
explode + hash aggregate with map-side combine on a high-cardinality
key; mixture weighting reduces to one row per source plus a 1-row
broadcast total. No UDFs, no windows, no driver data paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.functions.text import words

#: Context-window chunking dials: window size and stride in words.
#: window > stride ⇒ (window − stride)-word overlap between adjacent
#: chunks, the standard trick so no training example starts mid-context.
CHUNK_WORDS = 64
CHUNK_STRIDE = 48


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping fixed-size word windows
    (context-window packing for a training run).

    Chunk identity is (doc_id, chunk_start); the chunk body is carried
    as an md5 fingerprint + token count, so the output stays
    fixed-width however long the documents get — a sink that needs the
    text re-slices it from the source row (content-addressed, exact).
    ``sequence(0, size-1, stride)`` yields ≥1 chunk for every
    non-empty doc and the final ragged tail keeps its true length.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", words().alias("w"))
    exploded = base.select(
        "doc_id",
        "w",
        F.explode(
            F.expr(f"sequence(0, size(w) - 1, {CHUNK_STRIDE})")
        ).alias("chunk_start"),
    )
    chunk = F.expr(f"slice(w, chunk_start + 1, {CHUNK_WORDS})")
    return (
        exploded.select(
            "doc_id",
            "chunk_start",
            F.size(chunk).alias("chunk_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_start")
    )


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the statistic a
    BPE/WordPiece trainer computes for its first merge decision. Top
    30 pairs, count-desc with a lexicographic tiebreak.

    The explode produces one row per adjacent pair; the hash aggregate
    partial-combines per partition, so the shuffle carries one row per
    DISTINCT pair per partition, not per occurrence.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(words().alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> concat(w[i], ' ', w[i + 1]))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "pair")
        .limit(30)
    )


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token accounting + the up/down-sampling weight that
    would equalize the training mixture across sources (target share =
    uniform 1/n_sources; weight = target/actual, >1 ⇒ oversample).

    Shares and weights are ratios of exact integer token counts — one
    grouped sum, one 1-row broadcast total, cross-engine stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", F.size(words()).alias("toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("bigint").alias("tokens"),
        )
    )
    totals = F.broadcast(
        per_source.agg(
            F.sum("tokens").cast("bigint").alias("total_toks"),
            F.count(F.lit(1)).cast("int").alias("n_sources"),
        )
    )
    return (
        per_source.crossJoin(totals)
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") / F.col("total_toks"), 6).alias(
                "token_share"
            ),
            F.round(
                F.col("total_toks") / (F.col("n_sources") * F.col("tokens")),
                6,
            ).alias("mix_weight"),
        )
        .repartition(1)
        .orderBy("source")
    )


#: Training-sequence capacity (tokens) for the packing plan.
PACK_CAPACITY = 2048


def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing accounting: documents are concatenated
    per source in doc_id order and cut into PACK_CAPACITY-token
    training sequences (the standard LLM pretraining packing); report,
    per source, how many sequences result, how many documents straddle
    a sequence boundary, and the final-sequence fill ratio.

    A doc occupying token positions [start, end] lands in sequences
    ⌊start/C⌋..⌊end/C⌋ — one prefix-sum window per source (a single
    sort-shuffle on the natural packing order) and pure integer
    arithmetic after it, so the plan is deterministic and
    cross-engine exact. At 100 TB the window's per-source ordering is
    the same sort a real packer needs anyway; sources partition the
    work, so no global sort exists.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_doc = (
        docs.select("source", "doc_id", F.size(words()).alias("toks"))
        .withColumn("cum", F.sum("toks").over(w).cast("bigint"))
        .withColumn("seq_first", F.expr(f"(cum - toks) div {PACK_CAPACITY}"))
        .withColumn("seq_last", F.expr(f"(cum - 1) div {PACK_CAPACITY}"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
            (F.max("seq_last") + 1).cast("bigint").alias("n_sequences"),
            F.sum(
                (F.col("seq_last") > F.col("seq_first")).cast("bigint")
            ).alias("n_split_docs"),
        )
        .withColumn(
            "fill_ratio",
            F.round(
                F.col("total_tokens")
                / (F.col("n_sequences") * F.lit(PACK_CAPACITY)),
                6,
            ),
        )
        .repartition(1)
        .orderBy("source")
    )


# α = 0.5 is the common multilingual sampling temperature.
def temperature_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture: the standard
    ``p_s ∝ share_s^α`` re-weighting (α = 0.5) that up-samples
    low-resource sources without letting them dominate.

    With α = 0.5 the un-normalized weight ``share^α`` reduces to
    ``sqrt(tokens_s) / sqrt(total)``, and the total cancels in the
    normalization — so ``temp_share = sqrt(tokens_s) / Σ sqrt(tokens)``
    is computed directly on exact integer token counts: one grouped
    sum, one 1-row broadcast of Σ sqrt, zero corpus re-reads.
    ``boost`` is the over/under-sampling factor vs natural share
    (> 1 ⇒ oversample). IEEE sqrt is correctly rounded, so the only
    cross-engine jitter is the Σ accumulation order — absorbed by the
    6-dp rounding every mixture op here uses.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", F.size(words()).alias("toks"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("tokens"),
        )
    )
    totals = F.broadcast(
        per_source.agg(
            F.sum("tokens").cast("bigint").alias("total_toks"),
            F.sum(F.sqrt(F.col("tokens"))).alias("sum_sqrt"),
        )
    )
    return (
        per_source.crossJoin(totals)
        .select(
            "source",
            "n_docs",
            "tokens",
            F.round(F.col("tokens") / F.col("total_toks"), 6).alias(
                "token_share"
            ),
            F.round(F.sqrt(F.col("tokens")) / F.col("sum_sqrt"), 6).alias(
                "temp_share"
            ),
            F.round(
                (F.sqrt(F.col("tokens")) / F.col("sum_sqrt"))
                / (F.col("tokens") / F.col("total_toks")),
                6,
            ).alias("boost"),
        )
        .repartition(1)
        .orderBy("source")
    )


QUERIES = {
    "doc_chunks": doc_chunks,
    "bpe_pair_counts": bpe_pair_counts,
    "source_mixture_weights": source_mixture_weights,
    "sequence_packing_plan": sequence_packing_plan,
    "temperature_mixture_plan": temperature_mixture_plan,
}

ORACLE_SQL = {
    "doc_chunks": f"""
        WITH d AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        s AS (
            SELECT doc_id, w, CAST(gs AS INTEGER) AS chunk_start
            FROM d, UNNEST(generate_series(0, len(w) - 1, {CHUNK_STRIDE}))
                     AS t(gs)
        )
        SELECT doc_id, chunk_start,
               CAST(len(list_slice(w, chunk_start + 1,
                                   chunk_start + {CHUNK_WORDS}))
                    AS INTEGER) AS chunk_tokens,
               md5(array_to_string(
                   list_slice(w, chunk_start + 1,
                              chunk_start + {CHUNK_WORDS}), ' '))
                   AS chunk_md5
        FROM s
        ORDER BY doc_id, chunk_start
    """,
    "bpe_pair_counts": """
        WITH d AS (
            SELECT string_split(text, ' ') AS w FROM documents
        ),
        p AS (
            SELECT w[CAST(i AS INTEGER)] || ' '
                   || w[CAST(i AS INTEGER) + 1] AS pair
            FROM d, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
            WHERE len(w) >= 2
        )
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM p
        GROUP BY pair
        ORDER BY n_pairs DESC, pair
        LIMIT 30
    """,
    "sequence_packing_plan": f"""
        WITH per AS (
            SELECT source, doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
            FROM documents
        ),
        cums AS (
            SELECT source, toks,
                   CAST(SUM(toks) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS cum
            FROM per
        ),
        spans AS (
            SELECT source, toks,
                   (cum - toks) // {PACK_CAPACITY} AS seq_first,
                   (cum - 1) // {PACK_CAPACITY} AS seq_last
            FROM cums
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               CAST(MAX(seq_last) + 1 AS BIGINT) AS n_sequences,
               CAST(SUM(CASE WHEN seq_last > seq_first THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_split_docs,
               ROUND(SUM(toks) * 1.0
                     / ((MAX(seq_last) + 1) * {PACK_CAPACITY}), 6)
                   AS fill_ratio
        FROM spans
        GROUP BY source
        ORDER BY source
    """,
    "temperature_mixture_plan": """
        WITH per AS (
            SELECT source, len(string_split(text, ' ')) AS toks
            FROM documents
        ),
        agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(toks) AS BIGINT) AS tokens
            FROM per GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(tokens) AS BIGINT) AS total_toks,
                   SUM(sqrt(tokens)) AS sum_sqrt
            FROM agg
        )
        SELECT source, n_docs, tokens,
               ROUND(tokens / total_toks, 6) AS token_share,
               ROUND(sqrt(tokens) / sum_sqrt, 6) AS temp_share,
               ROUND((sqrt(tokens) / sum_sqrt)
                     / (tokens / total_toks), 6) AS boost
        FROM agg, tot
        ORDER BY source
    """,
    "source_mixture_weights": """
        WITH per AS (
            SELECT source, (length(text) - length(replace(text, ' ', '')) + 1) AS toks
            FROM documents
        ),
        agg AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(toks) AS BIGINT) AS tokens
            FROM per GROUP BY source
        ),
        tot AS (
            SELECT CAST(SUM(tokens) AS BIGINT) AS total_toks,
                   CAST(COUNT(*) AS INTEGER) AS n_sources
            FROM agg
        )
        SELECT source, n_docs, tokens,
               ROUND(tokens / total_toks, 6) AS token_share,
               ROUND(total_toks / (n_sources * tokens), 6) AS mix_weight
        FROM agg, tot
        ORDER BY source
    """,
}
