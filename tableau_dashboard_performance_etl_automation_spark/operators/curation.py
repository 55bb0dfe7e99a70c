"""Composite corpus-curation pipeline: the training-data ops wired
end-to-end the way a 100 TB pre-training data job runs them —

    quality gate → exact dedup → fuzzy dedup (minhash clusters,
    keep one per cluster) → per-survivor token accounting.

One DataFrame plan, no materialization between stages: Catalyst fuses
the quality projection into the scans feeding dedup, and only the
survivor set flows into token counting; that set is stored once per
corpus as a warehouse artifact, which both queries read. The oracle
twin reproduces the same staged CTE chain (including the recursive-CTE
cluster labels), so the whole composite — not just its pieces — is
hash-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.operators.clustering import (
    ORACLE_SQL as _CLUSTER_ORACLE,
    _lsh_cluster_labels,
)
from tableau_dashboard_performance_etl_automation_spark.operators.textops import (
    text_quality,
    text_token_count,
)
from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
    corpus_slug,
    persisted_table,
)

#: Quality gate: same rule as textops.text_quality's keep flag.
MIN_WORDS = 20


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving documents with byte/token accounting.

    Drop order (each stage only sees prior survivors):
    1. quality: keep == 1 (length / stopword-ratio / word-length gates)
    2. exact dup groups: keep min doc_id
    3. minhash cluster: keep min doc_id per connected component
    """
    return _survivors(spark, sf_dir).orderBy("doc_id")


def _survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unsorted rows of :func:`curate_corpus`, persisted per corpus:
    the survivor set a real pipeline materializes once and derives its
    reports from."""
    return persisted_table(
        spark,
        f"curated_survivors/{corpus_slug(sf_dir)}",
        sf_dir,
        lambda: _curate(spark, sf_dir),
    )


def _curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    quality = text_quality(spark, sf_dir).filter(F.col("keep") == 1)
    tokens = text_token_count(spark, sf_dir)

    docs = quality.select("doc_id")

    # exact-dup survivors (min doc_id per content hash)
    raw = load_table(spark, sf_dir, "documents")
    exact_keep = (
        raw.join(docs, "doc_id")
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )

    # fuzzy survivors: drop non-minimum members of each minhash
    # cluster (labels from the stored cluster-assignment artifact
    # every consumer reads)
    labels = _lsh_cluster_labels(spark, sf_dir)
    fuzzy_drop = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    survivors = exact_keep.join(fuzzy_drop, "doc_id", "left_anti")

    return (
        survivors.join(tokens, "doc_id")
        .join(
            raw.select("doc_id", "lang", F.length("text").alias("text_len")),
            "doc_id",
        )
        .select("doc_id", "lang", "text_len", "ws_tokens", "bpe_ish_tokens")
    )


def curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language byte/token budget of the curated corpus — the
    numbers a data-mixture plan is built from, rolled up from the
    persisted survivor set, so it does not re-run the fuzzy-dedup
    pipeline."""
    return (
        _survivors(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("text_len").alias("total_chars"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_ish_tokens").alias("total_bpe_ish_tokens"),
        )
        .repartition(1)
        .orderBy("lang")
    )


#: Bottom fraction of each source's length distribution dropped by
#: the adaptive filter (numerator/denominator kept integer so the
#: rank threshold is exact in both engines).
PCTL_DROP_NUM, PCTL_DROP_DEN = 1, 4


def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ADAPTIVE quality floor: instead of one global
    min-words rule, each source drops its own bottom quartile by
    token count (rank ≤ ⌊n/4⌋ in (n_words, doc_id) order) — the
    heterogeneous-corpus curation rule (a transcript source and an
    encyclopedia source have different 'short' thresholds).

    The rank threshold is an exact integer (⌊n/4⌋ in (n_words,
    doc_id) order), so the survivor set — not just its size — is
    cross-engine reproducible.  Scale shape — NO per-row window at
    all: every reported aggregate depends on a doc only through its
    (source, n_words) pair, and inside the one tie group that
    straddles the ⌊n/4⌋ cut every member shares the same n_words, so
    the doc_id tiebreak cannot change any output.  The whole query
    therefore folds to the (source, n_words, cnt) compaction (a
    map-side-combining hash aggregate over a bounded count domain): a
    cumulative window over DISTINCT word counts yields each group's
    rank interval (lo, hi], the kept portion is
    ``least(cnt, hi - ⌊n/4⌋)`` clamped at 0, and the per-source
    answer is a second bounded hash aggregate.  At 100 TB the only
    per-row work is the hash aggregate; the window sorts the value
    domain, never the rows.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.select(
        "source", F.size(F.split("text", " ")).alias("n_words")
    ).groupBy("source", "n_words").agg(F.count(F.lit(1)).alias("cnt"))
    w_val = Window.partitionBy("source").orderBy("n_words")
    cum = counts.withColumn(
        "hi", F.sum("cnt").over(w_val).cast("bigint")
    )
    totals = counts.groupBy("source").agg(F.sum("cnt").alias("n"))
    cut = F.expr(f"(n * {PCTL_DROP_NUM}) div {PCTL_DROP_DEN}")
    kept_in_group = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cnt").cast("bigint"), F.col("hi") - cut),
    )
    return (
        cum.join(F.broadcast(totals), "source")
        .withColumn("kept_cnt", kept_in_group)
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.sum("kept_cnt").cast("bigint").alias("n_kept"),
            F.min(F.when(F.col("kept_cnt") > 0, F.col("n_words")))
            .cast("bigint")
            .alias("min_kept_words"),
            F.sum(F.col("kept_cnt") * F.col("n_words"))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .repartition(1)
        .orderBy("source")
    )


QUERIES = {
    "curate_corpus": curate_corpus,
    "curation_summary": curation_summary,
    "quality_percentile_filter": quality_percentile_filter,
}

# Oracle: replay the same staged chain in SQL. The cluster-label CTE
# chain is reused from clustering.py (already a self-contained
# recursive query over base views).
# everything up to (and including) the `labels` CTE, re-terminated
# with a comma so further CTEs can chain onto it
_LABELS_SQL = (
    _CLUSTER_ORACLE["dedup_clusters"].split("SELECT cluster_id")[0].rstrip()
    + ","
)

_CURATE_SQL = f"""
    {_LABELS_SQL}
    quality AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   length(text) AS text_len,
                   len(string_split(text, ' ')) AS n_words,
                   len(list_filter(string_split(text, ' '),
                       x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
                       AS stop_hits
            FROM documents
        )
        WHERE n_words >= {MIN_WORDS}
          AND ROUND(stop_hits * 1.0 / n_words, 4) >= 0.01
          AND ROUND((text_len - (n_words - 1)) * 1.0 / n_words, 4) < 12
    ),
    exact_keep AS (
        SELECT MIN(d.doc_id) AS doc_id
        FROM documents d JOIN quality q ON d.doc_id = q.doc_id
        GROUP BY md5(d.text)
    ),
    fuzzy_drop AS (
        SELECT doc_id FROM labels WHERE doc_id != cluster_id
    ),
    survivors AS (
        SELECT doc_id FROM exact_keep
        WHERE doc_id NOT IN (SELECT doc_id FROM fuzzy_drop)
    )
    SELECT s.doc_id AS doc_id, d.lang, length(d.text) AS text_len,
           len(regexp_extract_all(d.text, '[^ ]+')) AS ws_tokens,
           len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
               AS bpe_ish_tokens
    FROM survivors s JOIN documents d ON s.doc_id = d.doc_id
"""

ORACLE_SQL = {
    "curate_corpus": _CURATE_SQL + " ORDER BY s.doc_id",
    "curation_summary": f"""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(text_len) AS BIGINT) AS total_chars,
               CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
               CAST(SUM(bpe_ish_tokens) AS BIGINT) AS total_bpe_ish_tokens
        FROM ({_CURATE_SQL} ORDER BY doc_id) c
        GROUP BY lang
        ORDER BY lang
    """,
    "quality_percentile_filter": f"""
        WITH ranked AS (
            SELECT source,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY len(string_split(text, ' ')), doc_id
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM documents
        ),
        flagged AS (
            SELECT source, n_words,
                   CASE WHEN rk > (n * {PCTL_DROP_NUM}) // {PCTL_DROP_DEN}
                        THEN 1 ELSE 0 END AS kept
            FROM ranked
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(kept) AS BIGINT) AS n_kept,
               CAST(MIN(CASE WHEN kept = 1 THEN n_words END) AS BIGINT)
                   AS min_kept_words,
               CAST(SUM(CASE WHEN kept = 1 THEN n_words ELSE 0 END)
                    AS BIGINT) AS kept_tokens
        FROM flagged
        GROUP BY source
        ORDER BY source
    """,
}


# ---------------------------------------------------------------------------
# Per-source quota cap (domain capping)
# ---------------------------------------------------------------------------

#: Max documents kept per source — the "cap each domain at N docs"
#: policy large web corpora apply so no single domain dominates the
#: mixture (the over-represented-domain failure mode).
SOURCE_QUOTA = 15


def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at ``SOURCE_QUOTA`` documents, keeping a
    deterministic md5-ordered sample (hash order ≈ uniform random,
    but replayable: the same corpus always keeps the same docs — the
    property that makes the cap auditable and incremental runs
    stable). Emits the per-source audit row: docs seen / kept /
    dropped and an order-independent checksum of the KEPT doc ids, so
    two engines (or two runs) can prove they kept the same set.

    Scale shape: rank ≤ K over ``Window.partitionBy(source)`` ordered
    by (md5, doc_id) — Spark rewrites the rank-filter into
    WindowGroupLimit, so each partition keeps a K-row heap map-side
    and no per-source full sort materializes; the audit aggregate
    then folds onto the bounded source domain."""
    from pyspark.sql.window import Window

    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = docs.withColumn("rk", F.row_number().over(w))
    kept_flag = (F.col("rk") <= SOURCE_QUOTA).cast("int")
    return (
        ranked.select(
            "source",
            kept_flag.alias("kept"),
            md5_hex_bigint(F.md5(F.col("doc_id").cast("string")), 1, 12)
            .alias("kh"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum("kept"))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.col("kh") * F.col("kept"))
            .cast("bigint")
            .alias("kept_checksum"),
        )
        .repartition(1)
        .orderBy("source")
    )


QUERIES["source_quota_cap"] = source_quota_cap


def _quota_oracle() -> str:
    from tableau_dashboard_performance_etl_automation_spark.functions.hashing import (
        md5_hex_bigint_sql,
    )

    fold = md5_hex_bigint_sql("md5(doc_id::STRING)", 1, 12)
    return f"""
        WITH ranked AS (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id::STRING), doc_id
                   ) AS rk
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN rk <= {SOURCE_QUOTA} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(COUNT(*) - SUM(CASE WHEN rk <= {SOURCE_QUOTA}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN rk <= {SOURCE_QUOTA}
                    THEN {fold} ELSE 0 END) AS BIGINT) AS kept_checksum
        FROM ranked
        GROUP BY source
        ORDER BY source
    """


ORACLE_SQL["source_quota_cap"] = _quota_oracle()
