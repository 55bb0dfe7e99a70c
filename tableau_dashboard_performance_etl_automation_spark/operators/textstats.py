"""Corpus-level lexical statistics — TF-IDF salience, Zipf
rank-frequency, metadata correlation, and n-gram novelty — the
"what's IN this training corpus" profiling layer that runs beside the
dedup/quality operators (reference scope: the reference profiles its
Vertica extracts per key; these are the text-corpus analogues).

Determinism discipline (same as ``textops.bm25_ranked_docs``): token
counts, document frequencies, and shingle counts are exact integers;
any transcendental (ln) is applied ONCE per output row to integer
inputs — never summed across rows — so both engines compute the same
double; ratios are one final division, rounded once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.functions.text import words
from tableau_dashboard_performance_etl_automation_spark.operators.dedup import (
    _SHINGLES_CTE,
    _doc_shingles,
)

#: Report sizes.
TFIDF_TOP_K = 20
ZIPF_TOP_K = 50


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-``TFIDF_TOP_K`` terms by corpus-summed TF-IDF
    (total_tf × ln(N/df)) — the "what is this corpus about" salience
    table of a curation report.

    Scale shape: explode → (term) hash aggregate with map-side
    combine (two exact-integer measures per term: Σtf as total term
    count, df as distinct-doc count via a pre-distinct), N broadcasts
    as a 1-row aggregate, and the top-k is sort+limit
    (``TakeOrderedAndProject`` — no global sort materializes).
    ln is applied once per surviving term to integer inputs, so
    cross-engine doubles are identical (the ``bm25_ranked_docs``
    discipline); ties order by term."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words()).alias("term"))
    per_doc = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    per_term = per_doc.groupBy("term").agg(
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    n_docs = F.broadcast(
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tfidf = F.round(
        F.col("total_tf")
        * F.log(F.col("n_docs").cast("double") / F.col("df")),
        4,
    )
    return (
        per_term.crossJoin(n_docs)
        .select("term", "total_tf", "df", tfidf.alias("tfidf"))
        .orderBy(F.col("tfidf").desc(), "term")
        .limit(TFIDF_TOP_K)
    )


def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency head: the ``ZIPF_TOP_K`` most frequent
    tokens with rank and cumulative corpus share — the sanity plot
    (straight line on log-log) every corpus report starts with, and
    the stopword-candidate list for the quality scorers.

    The corpus-wide aggregate is one map-side-combinable count; the
    top-k is sort+limit; rank and cumulative share are a window over
    the ALREADY-REDUCED k rows (driver-sized), so no global row sort
    or single-task window ever sees the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(words()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    total = F.broadcast(
        freq.agg(F.sum("freq").alias("total_tokens"))
    )
    top = (
        freq.orderBy(F.col("freq").desc(), "token")
        .limit(ZIPF_TOP_K)
    )
    w = (
        Window.orderBy(F.col("freq").desc(), "token")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        top.crossJoin(total)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), "token")
            ).cast("int"),
        )
        .withColumn(
            "cum_share_pct",
            F.round(F.sum("freq").over(w) * 100.0 / F.col("total_tokens"), 4),
        )
        .select("rank", "token", "freq", "cum_share_pct")
        .orderBy("rank")
    )


def quality_length_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between document length in characters
    (``n_chars``) and in tokens — the metadata-consistency screen
    that catches extraction bugs (length fields disagreeing with the
    text) before they skew length-based curation filters.

    Computed from exact BIGINT power sums (n, Σx, Σy, Σxy, Σx², Σy²)
    — every engine-side reduction is integer and order-independent;
    r is one closed-form double expression of the six sums, rounded
    once. (At 10^11-row scale the squared sums approach BIGINT range:
    move the accumulators to DECIMAL(38,0) — the formula is
    unchanged.)"""
    docs = load_table(spark, sf_dir, "documents")
    xy = docs.select(
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(words()).cast("bigint").alias("y"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    r = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                "double"
            )
        )
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(r, 6).alias("r_chars_tokens"),
    )


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's 3-gram
    shingles whose FIRST occurrence (by doc_id order) is this
    document — the curation signal that separates fresh content from
    recombinations of already-seen text (low novelty late in the
    ordering ⇒ near-template doc).

    Runs off the memoized distinct (doc_id, shingle) decomposition
    every shingle operator shares: one min-aggregate per shingle
    (first owner), one equi-join back, one per-doc aggregate — all
    hash-partitioned, nothing pairwise. Docs with <3 words have no
    shingles and are absent in both engines."""
    sh = _doc_shingles(spark, sf_dir)
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty_pct",
            F.round(F.col("n_novel") * 100.0 / F.col("n_shingles"), 4),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "tfidf_top_terms": tfidf_top_terms,
    "zipf_rank_frequency": zipf_rank_frequency,
    "quality_length_correlation": quality_length_correlation,
    "doc_ngram_novelty": doc_ngram_novelty,
}

ORACLE_SQL = {
    "tfidf_top_terms": f"""
        WITH per_doc AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            )
            GROUP BY doc_id, term
        ),
        per_term AS (
            SELECT term,
                   CAST(SUM(tf) AS BIGINT) AS total_tf,
                   CAST(COUNT(*) AS BIGINT) AS df
            FROM per_doc GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT term, total_tf, df,
               ROUND(total_tf * ln(CAST(n_docs AS DOUBLE) / df), 4)
                   AS tfidf
        FROM per_term CROSS JOIN n
        ORDER BY tfidf DESC, term
        LIMIT {TFIDF_TOP_K}
    """,
    "zipf_rank_frequency": f"""
        WITH freq AS (
            SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents
            )
            GROUP BY token
        ),
        total AS (SELECT SUM(freq) AS total_tokens FROM freq),
        top AS (
            SELECT token, freq FROM freq
            ORDER BY freq DESC, token LIMIT {ZIPF_TOP_K}
        )
        SELECT CAST(row_number() OVER w AS INTEGER) AS rank,
               token, freq,
               ROUND(SUM(freq) OVER (w ROWS UNBOUNDED PRECEDING)
                     * 100.0 / (SELECT total_tokens FROM total), 4)
                   AS cum_share_pct
        FROM top
        WINDOW w AS (ORDER BY freq DESC, token)
        ORDER BY rank
    """,
    "quality_length_correlation": """
        WITH xy AS (
            SELECT CAST(n_chars AS BIGINT) AS x,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS y
            FROM documents
        ),
        s AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx,
                   SUM(y * y) AS syy
            FROM xy
        )
        SELECT CAST(n AS BIGINT) AS n_docs,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   AS r_chars_tokens
        FROM s
    """,
    "doc_ngram_novelty": f"""
        WITH {_SHINGLES_CTE.strip()},
        first_seen AS (
            SELECT sh, MIN(doc_id) AS first_doc
            FROM doc_shingles GROUP BY sh
        )
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                     * 100.0 / COUNT(*), 4) AS novelty_pct
        FROM doc_shingles d JOIN first_seen f USING (sh)
        GROUP BY d.doc_id
        ORDER BY d.doc_id
    """,
}


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility proxy per language: characters per
    whitespace token — the dial multilingual data budgeting reads
    (a language whose fertility is 2× pays 2× the sequence length for
    the same text; mixture weights and context budgets must correct
    for it). Exact integer sums per bounded lang key; two final
    divisions, rounded once each."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            F.col("n_chars").cast("bigint").alias("chars"),
            F.size(words()).cast("bigint").alias("toks"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("chars").cast("bigint").alias("total_chars"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
            F.round(F.sum("chars") / F.sum("toks").cast("double"), 4).alias(
                "chars_per_token"
            ),
            F.round(
                F.sum("toks") / F.count(F.lit(1)).cast("double"), 4
            ).alias("tokens_per_doc"),
        )
        .repartition(1)
        .orderBy("lang")
    )


QUERIES["tokenizer_fertility_by_lang"] = tokenizer_fertility_by_lang

ORACLE_SQL["tokenizer_fertility_by_lang"] = """
    WITH d AS (
        SELECT lang,
               CAST(n_chars AS BIGINT) AS chars,
               CAST((length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS toks
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           ROUND(SUM(chars) / CAST(SUM(toks) AS DOUBLE), 4)
               AS chars_per_token,
           ROUND(SUM(toks) / CAST(COUNT(*) AS DOUBLE), 4)
               AS tokens_per_doc
    FROM d
    GROUP BY lang
    ORDER BY lang
"""
