"""Duplicate-cluster resolution: connected components over candidate
pairs — the pass that turns pairwise dedup output (minhash/simhash
pairs) into per-document cluster assignments ("keep one per
component") — and the other graph queries over the near-dup graph.

The graph is pair-mass, not corpus-mass: the MinHash-LSH pair list is
a few hundred to a few thousand rows where the corpus has thousands of
documents. So every iterative pass here (components, k-core peel,
BFS, label propagation, PageRank, Markov power iteration) collects
its small edge list once and iterates in plain Python on the driver;
no query runs a loop of Spark jobs, and the cost grows with the pair
count, not with a job count per round. The near-dup graph is one
collected session value (:func:`_lsh_graph`) that all its iterative
readers share.

The DuckDB oracle expresses components as a recursive CTE — one of the
few operators here where the two engines use genuinely different
execution strategies for the same semantics.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
    corpus_slug,
    persisted_table,
    session_value,
)
from tableau_dashboard_performance_etl_automation_spark.operators.dedup import (
    ORACLE_SQL as _DEDUP_ORACLE_SQL,
    lsh_pair_table,
)


def _pairs(pdf) -> list:
    """The ``doc_a``/``doc_b`` columns of a collected pandas frame as
    plain int 2-tuples (Row objects cost ~10x the heap)."""
    return list(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))


def _min_labels(pairs: list) -> dict:
    """Union-find over an undirected edge list: node → the minimum node
    id of its component. The root of every set is its minimum (union
    links the larger root under the smaller), so a find is the label."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _cc_frame(spark: SparkSession, pairs: list) -> DataFrame:
    # one partition: the labels are pair-mass, and a label artifact
    # split into one file per local slice makes every reader scan
    # several tiny files
    return spark.createDataFrame(
        list(_min_labels(pairs).items()), "doc_id BIGINT, cluster_id BIGINT"
    ).coalesce(1)


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected edge list (columns
    ``doc_a``, ``doc_b``) → (doc_id, cluster_id) where cluster_id is
    the component's minimum doc id. The edge list is collected and
    labelled by union-find on the driver, which always finishes; call
    it only on pair-mass edges (candidate or match pairs), and only
    from an artifact builder, since the collect is a Spark job."""
    return _cc_frame(edges.sparkSession, _pairs(edges.toPandas()))


def _lsh_graph(spark: SparkSession, sf_dir: str) -> tuple[list, dict]:
    """The MinHash-LSH near-dup graph as driver values, kept per
    session: the pair list (int 2-tuples, doc_a < doc_b) and the
    ``lang`` of every graph node. One Arrow collect of the persisted
    pair table joined to the two endpoints' languages; the k-core,
    BFS, label-propagation and ``cc_labels`` builds all read it."""

    def collect() -> tuple[list, dict]:
        lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        pdf = (
            lsh_pair_table(spark, sf_dir)
            .join(lang.toDF("doc_a", "lang_a"), "doc_a")
            .join(lang.toDF("doc_b", "lang_b"), "doc_b")
            .toPandas()
        )
        langs = dict(zip(pdf["doc_a"].tolist(), pdf["lang_a"].tolist()))
        langs.update(zip(pdf["doc_b"].tolist(), pdf["lang_b"].tolist()))
        return _pairs(pdf), langs

    return session_value(spark, "lsh_graph", sf_dir, collect)


def _adjacency(pairs: list) -> dict:
    """node → neighbor list of the undirected graph (both orientations
    of every pair, duplicates kept, like the oracle's UNION ALL)."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    return adj


def _lsh_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) labels of the LSH graph, persisted as a
    warehouse parquet table (like the shingle/band tables): components
    are computed once per corpus, and any session thereafter reads the
    stored assignment, which is also what a production pipeline ships
    downstream to every consumer (survivor pick, size histogram,
    curation). Min-id labels are deterministic, so the loaded table
    equals a recompute."""
    return persisted_table(
        spark,
        f"cc_labels/{corpus_slug(sf_dir)}",
        sf_dir,
        lambda: _cc_frame(spark, _lsh_graph(spark, sf_dir)[0]),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignments for every document that appears in a
    MinHash-LSH candidate pair, plus per-cluster survivor stats."""
    labels = _lsh_cluster_labels(spark, sf_dir)
    return (
        labels.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keep_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("cluster_id")
    )


#: PageRank dials: damping, fixed iteration count (small-diameter
#: trade graph converges in a handful), and the integer rank unit —
#: ranks live in nano-units (BIGINT) so every iteration is
#: reduction-order-independent and bit-identical across engines.
PR_DAMPING = 0.85
PR_ITERS = 5
PR_UNIT = 1_000_000_000


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier-nation → customer-nation revenue edges, weights in
    exact integer revenue units (``starjoins.rev_units``)."""
    from tableau_dashboard_performance_etl_automation_spark.operators.starjoins import (
        rev_units,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(sup), F.col("l_suppkey") == sup["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").cast("bigint").alias("src"),
            F.col("c_nationkey").cast("bigint").alias("dst"),
        )
        .agg(F.sum(rev_units()).cast("bigint").alias("w"))
    )


def nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (who supplies
    whom, edge weight = revenue), ``PR_ITERS`` fixed power
    iterations — the engine's second iterative graph operator next to
    :func:`connected_components`, the shape of any
    importance-propagation pass (site rank for crawl prioritization,
    source trust scoring for data curation).

    Scale shape: the distributed step is building the edge aggregate
    from the fact table — one shuffle on (src, dst), dims broadcast.
    Its output is bounded by nations² (25 × 25) at every scale factor,
    so the iterations run in plain Python on the collected edge list.

    Determinism: ranks are BIGINT nano-units; every per-edge
    contribution is ``FLOOR(damping · rank · w / out_w)`` — FLOOR of
    a double computed from exact integers, so the reduction is an
    integer SUM and both engines produce bit-identical ranks (the
    exact-integer-moments discipline; ROUND is avoided because
    engines disagree on tie semantics, FLOOR has no ties).

    The converged rank vector is kept per (application, sf_dir) by
    ``session_value``, for the same reason as the IVF codebook: a
    deployed rank is computed once and persisted, re-deriving it per
    query never amortizes, and determinism makes the cached vector
    bit-identical to a recompute. An empty trade graph ranks nothing
    and returns no rows.
    """
    ranks = session_value(
        spark,
        "nation_pagerank",
        sf_dir,
        lambda: _pagerank(
            [tuple(r) for r in _trade_edges(spark, sf_dir).collect()]
        ),
    )
    return _pr_output(spark, sf_dir, ranks)


def _pagerank(edges: list[tuple]) -> dict:
    """The converged rank vector (node → rank units) of the weighted
    (src, dst, w) edge list, in the arithmetic of
    :func:`_pagerank_oracle`."""
    out_w: dict = {}
    for src, _dst, w in edges:
        out_w[src] = out_w.get(src, 0) + (w or 0)
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    n = len(nodes)
    if n == 0:
        return {}
    teleport = int((1 - PR_DAMPING) * PR_UNIT / n)
    ranks = dict.fromkeys(nodes, PR_UNIT // n)
    for _ in range(PR_ITERS):
        contribs = dict.fromkeys(nodes, 0)
        for src, dst, w in edges:
            # the oracle's FLOOR(CAST(0.85 AS DOUBLE) * r * w / out_w):
            # the same IEEE double operations in the same order. A NULL
            # or zero weight adds nothing there either (0 / 0 is NULL).
            if w:
                contribs[dst] += math.floor(
                    PR_DAMPING * ranks[src] * w / out_w[src]
                )
        dangling = sum(r for node, r in ranks.items() if node not in out_w)
        dshare = int(PR_DAMPING * dangling / n)
        ranks = {node: teleport + dshare + contribs[node] for node in nodes}
    return ranks


def _pr_output(spark: SparkSession, sf_dir: str, ranks: dict) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    rdf = spark.createDataFrame(
        list(ranks.items()), "n_nationkey BIGINT, rank_units BIGINT"
    )
    return (
        rdf.join(
            F.broadcast(nation),
            rdf["n_nationkey"] == nation["n_nationkey"].cast("bigint"),
        )
        .select(
            "n_name",
            "rank_units",
            F.round(F.col("rank_units") / F.lit(float(PR_UNIT)), 6).alias(
                "rank"
            ),
        )
        .repartition(1)
        .orderBy(F.col("rank_units").desc(), "n_name")
    )


def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup clusters: how much of the
    duplicated corpus sits in pairs vs. giant template families. The
    shape drives dedup policy — a heavy tail of huge clusters means
    boilerplate/template text (drop all but one), many small clusters
    mean organic near-dups (keep per-cluster survivors); it's also
    the number that says what fraction of storage dedup will recover.

    Composition of two already-scalable stages: the MinHash-LSH pair
    join and pointer-jumping connected components; the histogram
    itself is two tiny hash aggregates over the label table (cluster
    sizes, then size frequencies) — map-side combinable, output
    bounded by the largest cluster size.
    """
    labels = _lsh_cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("cluster_size"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


QUERIES = {
    "dedup_clusters": dedup_clusters,
    "dup_cluster_size_histogram": dup_cluster_size_histogram,
    "nation_pagerank": nation_pagerank,
}

# The recursive-CTE fixpoint: reach(doc, root) holds every label a doc
# can see along any path; MIN(root) per doc is the component label.
# (UNION deduplicates, so the recursion is bounded by nodes × labels.)
# The minhash pair pipeline is inlined as a derived table so the
# oracle runs against the driver's base views alone.
_PAIRS_SQL = f"({_DEDUP_ORACLE_SQL['dedup_minhash_lsh']})"

ORACLE_SQL = {
    "dup_cluster_size_histogram": f"""
        WITH RECURSIVE
        pairs AS (SELECT * FROM {_PAIRS_SQL} t),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM sym
            UNION
            SELECT s.src, r.root
            FROM sym s JOIN reach r ON s.dst = r.doc_id
        ),
        labels AS (
            SELECT doc_id, MIN(root) AS cluster_id
            FROM reach GROUP BY doc_id
        ),
        sizes AS (
            SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM labels GROUP BY cluster_id
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs
        FROM sizes
        GROUP BY cluster_size
        ORDER BY cluster_size
    """,  # noqa: E501
    "dedup_clusters": f"""
        WITH RECURSIVE
        pairs AS (SELECT * FROM {_PAIRS_SQL} t),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM sym
            UNION
            SELECT s.src, r.root
            FROM sym s JOIN reach r ON s.dst = r.doc_id
        ),
        labels AS (
            SELECT doc_id, MIN(root) AS cluster_id
            FROM reach GROUP BY doc_id
        )
        SELECT cluster_id,
               COUNT(*) AS cluster_size,
               MIN(doc_id) AS keep_id,
               MAX(doc_id) AS max_doc_id
        FROM labels
        GROUP BY cluster_id
        ORDER BY cluster_id
    """,  # noqa: E501
}


def _pagerank_oracle() -> str:
    """Unrolled ``PR_ITERS`` power iterations as chained CTEs —
    generated so the per-iteration arithmetic is written ONCE and is
    character-identical across iterations (and mirrors the Spark
    expression exactly: CAST AS DOUBLE damping, FLOOR contributions,
    BIGINT sums)."""
    from tableau_dashboard_performance_etl_automation_spark.operators.starjoins import (
        REV_UNITS_SQL,
    )

    d = f"CAST({PR_DAMPING} AS DOUBLE)"
    parts = [
        f"""
        edges AS (
            SELECT CAST(s.s_nationkey AS BIGINT) AS src,
                   CAST(c.c_nationkey AS BIGINT) AS dst,
                   CAST(SUM({REV_UNITS_SQL}) AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY src, dst
        ),
        outw AS (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src),
        edgesw AS (
            SELECT e.src, e.dst, e.w, o.out_w
            FROM edges e JOIN outw o USING (src)
        ),
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
            ) t
        ),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        rk0 AS (
            SELECT node, {PR_UNIT} // nn.n AS r FROM nodes CROSS JOIN nn
        )"""
    ]
    prev = "rk0"
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f"""
        c{i} AS (
            SELECT e.dst AS node,
                   SUM(CAST(FLOOR({d} * r.r * e.w / e.out_w)
                       AS BIGINT)) AS c
            FROM edgesw e JOIN {prev} r ON r.node = e.src
            GROUP BY e.dst
        ),
        d{i} AS (
            SELECT COALESCE(SUM(r), 0) AS dm FROM {prev}
            WHERE node NOT IN (SELECT src FROM outw)
        ),
        rk{i} AS (
            SELECT n.node,
                   CAST(FLOOR((1 - {d}) * {PR_UNIT} / nn.n) AS BIGINT)
                   + CAST(FLOOR({d} * d{i}.dm / nn.n) AS BIGINT)
                   + COALESCE(c{i}.c, 0) AS r
            FROM nodes n
            CROSS JOIN nn
            CROSS JOIN d{i}
            LEFT JOIN c{i} ON c{i}.node = n.node
        )"""
        )
        prev = f"rk{i}"
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT na.n_name,
               CAST(rk.r AS BIGINT) AS rank_units,
               ROUND(rk.r / CAST({PR_UNIT} AS DOUBLE), 6) AS rank
        FROM {prev} rk
        JOIN nation na ON CAST(na.n_nationkey AS BIGINT) = rk.node
        ORDER BY rank_units DESC, na.n_name
    """
    )


ORACLE_SQL["nation_pagerank"] = _pagerank_oracle()


def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation in the MinHash near-dup
    graph — the clustering-coefficient ingredient that separates
    tight duplicate cliques (template farms: every pair near-dup)
    from chains (A~B~C drift where A and C differ): a doc in many
    triangles sits in a dense clique and is safe to drop aggressively;
    a chain member needs the transitive-closure caution
    :func:`dedup_clusters` applies.

    Scale shape: the canonical a<b<c triangle enumeration — two
    equi-joins over the (already doc_a < doc_b ordered) edge list,
    wedge (a,b)+(b,c) closed by (a,c). Join fan-out is bounded by the
    band-bucket caps upstream (the edge list is LSH output, never
    all-pairs), and counts aggregate per node — the standard
    distributed triangle count. No windows, no driver data paths."""
    edges = lsh_pair_table(spark, sf_dir)
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .unionAll(tri.select(F.col("b").alias("doc_id")))
        .unionAll(tri.select(F.col("c").alias("doc_id")))
    )
    return (
        nodes.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .orderBy("doc_id")
    )


QUERIES["neardup_triangles"] = neardup_triangles

ORACLE_SQL["neardup_triangles"] = f"""
    WITH pairs AS (SELECT * FROM {_PAIRS_SQL} t),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e3.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    nodes AS (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes
    GROUP BY doc_id
    ORDER BY doc_id
"""


def neardup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global shape of the near-dup graph in one row — node/edge
    counts, wedge count, triangle count, and transitivity
    (3·triangles / wedges) — the health dial that says whether the
    LSH pair stage is producing tight cliques (template corpus,
    transitivity → 1) or sprawling chains (drifting near-dups,
    transitivity → 0) before anyone pays for clustering.

    All four counts are exact-integer aggregates over the LSH edge
    list (never all-pairs): degrees from a symmetric projection,
    wedges = Σ d·(d−1)/2 (map-side combinable), triangles from the
    same bounded two-join enumeration ``neardup_triangles`` uses.
    The final ratio is one guarded division."""
    edges = lsh_pair_table(spark, sf_dir)
    sym = edges.selectExpr("doc_a AS doc_id").unionAll(
        edges.selectExpr("doc_b AS doc_id")
    )
    deg = sym.groupBy("doc_id").agg(F.count(F.lit(1)).alias("d"))
    base = F.broadcast(
        deg.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            (F.sum(F.expr("d * (d - 1)")) / 2)
            .cast("bigint")
            .alias("n_wedges"),
        )
    )
    n_edges = F.broadcast(
        edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    e1 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = edges.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = F.broadcast(
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        base.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.col("n_triangles") * 3.0 / F.col("n_wedges"), 6
                ),
            ).alias("transitivity"),
        )
    )


QUERIES["neardup_graph_stats"] = neardup_graph_stats

ORACLE_SQL["neardup_graph_stats"] = f"""
    WITH pairs AS (SELECT * FROM {_PAIRS_SQL} t),
    sym AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
    ),
    deg AS (SELECT doc_id, COUNT(*) AS d FROM sym GROUP BY doc_id),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
        FROM deg
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN ROUND(n_triangles * 3.0 / n_wedges, 6) END
               AS transitivity
    FROM base CROSS JOIN ne CROSS JOIN tri
"""


def neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph (degree → node
    count) — the skew dial for the pair stage: a fat head means a few
    hub documents (boilerplate magnets) dominate the candidate pairs
    and deserve a stop-doc cap, a thin tail means healthy organic
    near-dups. Two bounded hash aggregates over the LSH edge list."""
    edges = lsh_pair_table(spark, sf_dir)
    sym = edges.selectExpr("doc_a AS doc_id").unionAll(
        edges.selectExpr("doc_b AS doc_id")
    )
    deg = sym.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("degree")
    )


QUERIES["neardup_degree_histogram"] = neardup_degree_histogram

ORACLE_SQL["neardup_degree_histogram"] = f"""
    WITH pairs AS (SELECT * FROM {_PAIRS_SQL} t),
    sym AS (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
    ),
    deg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
        FROM sym GROUP BY doc_id
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    ORDER BY degree
"""


def dedup_policy_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup actually BUYS, in tokens: for the near-dup clusters
    (MinHash-LSH pairs → connected components), the training-token
    savings under the two standard policies — keep-one-per-cluster
    (drop all but the min-doc_id survivor) and keep-two (hedge
    against LSH false positives) — plus the recovered share of the
    WHOLE corpus' tokens. This is the number the "should we pay for
    dedup" decision reads; the cluster-size histogram shows shape,
    this shows budget.

    Scale shape: reuses the memoized CC label table; token counts
    join on doc_id (co-partitioned); the keep-K accounting is one
    row_number window PARTITIONED by cluster (state bounded by the
    largest cluster) and a global single-row aggregate. The corpus
    token total is a separate map-side-combinable aggregate that
    never touches the labels."""
    from tableau_dashboard_performance_etl_automation_spark.functions.text import words

    labels = _lsh_cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(words()).cast("bigint").alias("toks")
    )
    corpus = F.broadcast(
        docs.agg(F.sum("toks").alias("corpus_tokens"))
    )
    w = Window.partitionBy("cluster_id").orderBy("doc_id")
    ranked = labels.join(docs, "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.agg(
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
            F.count(F.lit(1)).cast("bigint").alias("n_clustered_docs"),
            F.sum("toks").cast("bigint").alias("clustered_tokens"),
            F.sum(F.when(F.col("rn") > 1, F.col("toks")))
            .cast("bigint")
            .alias("tokens_recovered_keep1"),
            F.coalesce(
                F.sum(F.when(F.col("rn") > 2, F.col("toks"))), F.lit(0)
            )
            .cast("bigint")
            .alias("tokens_recovered_keep2"),
        )
        .crossJoin(corpus)
        .select(
            "n_clusters",
            "n_clustered_docs",
            "clustered_tokens",
            "tokens_recovered_keep1",
            "tokens_recovered_keep2",
            F.round(
                F.col("tokens_recovered_keep1")
                * 100.0
                / F.col("corpus_tokens"),
                4,
            ).alias("corpus_pct_recovered"),
        )
    )


QUERIES["dedup_policy_token_savings"] = dedup_policy_token_savings

ORACLE_SQL["dedup_policy_token_savings"] = f"""
    WITH RECURSIVE
    pairs AS (SELECT * FROM {_PAIRS_SQL} t),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, root) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, r.root
        FROM sym s JOIN reach r ON s.dst = r.doc_id
    ),
    labels AS (
        SELECT doc_id, MIN(root) AS cluster_id
        FROM reach GROUP BY doc_id
    ),
    toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        FROM documents
    ),
    corpus AS (SELECT SUM(toks) AS corpus_tokens FROM toks),
    ranked AS (
        SELECT l.cluster_id, t.toks,
               ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                                  ORDER BY l.doc_id) AS rn
        FROM labels l JOIN toks t USING (doc_id)
    )
    SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_clustered_docs,
           CAST(SUM(toks) AS BIGINT) AS clustered_tokens,
           CAST(SUM(CASE WHEN rn > 1 THEN toks END) AS BIGINT)
               AS tokens_recovered_keep1,
           CAST(COALESCE(SUM(CASE WHEN rn > 2 THEN toks END), 0)
                AS BIGINT) AS tokens_recovered_keep2,
           ROUND(SUM(CASE WHEN rn > 1 THEN toks END) * 100.0
                 / (SELECT corpus_tokens FROM corpus), 4)
               AS corpus_pct_recovered
    FROM ranked
"""


#: Dedup-aware sampling: base keep rate (percent) for a singleton
#: document; a duplicate family of k docs gets each member at
#: BASE/k, so every FAMILY contributes the same expected mass and
#: boilerplate-heavy sources stop dominating the training mix.
DWS_BASE_PCT = 50


def dedup_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware Poisson sample: each document's inclusion
    probability is ``DWS_BASE_PCT% / cluster_size``, where
    cluster_size is the document's MinHash-LSH duplicate-family size
    (1 for documents in no candidate pair) — the sampling-side
    alternative to hard dedup: instead of deleting all-but-one of a
    family, DOWN-WEIGHT the family so its expected contribution
    equals a singleton's (cf. repetition-discounted epoch mixing in
    large-scale LM data work). The Horvitz-Thompson weight makes
    sample-side aggregates unbiased for the corpus.

    Scale shape: reuses the persisted CC labels
    (:func:`_lsh_cluster_labels` — pointer-jumping output, built once
    per corpus); cluster sizes are one hash aggregate on the labeled
    set (the per-CLUSTER census broadcasts into the family join; the
    per-DOC family table is corpus-shaped, so its join onto the
    corpus is a plain doc_id equi-join — AQE broadcasts it only when
    it is actually small); the
    keep decision is per-row exact-integer arithmetic
    (``u · 100 · k < BASE · 2^16``), no global state, merges
    trivially — the Poisson-sampler shape (sampling.py) with a
    cluster-derived rate.

    Returns kept rows (doc_id, cluster_size, ht_weight) by doc_id.
    """
    from tableau_dashboard_performance_etl_automation_spark.operators.sampling import (
        _U_BITS,
        _hex4,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = _lsh_cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    # sizes (one row per CLUSTER) is census-shaped and safe to
    # broadcast; fam (one row per labeled DOC) is corpus-shaped, so
    # its join onto the corpus stays a plain equi-join on doc_id —
    # AQE broadcasts it dynamically when the labeled set is small
    fam = labels.join(F.broadcast(sizes), "cluster_id").select(
        "doc_id", "k"
    )
    u = _hex4("dws|", F.col("doc_id"))
    return (
        docs.join(fam, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("k"), F.lit(1))
            .cast("bigint")
            .alias("cluster_size"),
            u.alias("u"),
        )
        .filter(
            F.col("u") * 100 * F.col("cluster_size")
            < DWS_BASE_PCT * (1 << _U_BITS)
        )
        .select(
            "doc_id",
            "cluster_size",
            F.round(
                F.col("cluster_size") * 100.0 / DWS_BASE_PCT, 6
            ).alias("ht_weight"),
        )
        .orderBy("doc_id")
    )


QUERIES["dedup_weighted_sample"] = dedup_weighted_sample


def _dws_oracle() -> str:
    from tableau_dashboard_performance_etl_automation_spark.operators.sampling import (
        _U_BITS,
        _hex4_sql,
    )

    u_sql = _hex4_sql("dws|", "d.doc_id")
    return f"""
        WITH RECURSIVE
        pairs AS (SELECT * FROM {_PAIRS_SQL} t),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM sym
            UNION
            SELECT s.src, r.root
            FROM sym s JOIN reach r ON s.dst = r.doc_id
        ),
        labels AS (
            SELECT doc_id, MIN(root) AS cluster_id
            FROM reach GROUP BY doc_id
        ),
        fam AS (
            SELECT doc_id,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS k
            FROM labels
        )
        SELECT d.doc_id AS doc_id,
               CAST(COALESCE(f.k, 1) AS BIGINT) AS cluster_size,
               ROUND(COALESCE(f.k, 1) * 100.0 / {DWS_BASE_PCT}, 6)
                   AS ht_weight
        FROM documents d
        LEFT JOIN fam f ON f.doc_id = d.doc_id
        WHERE {u_sql} * 100 * COALESCE(f.k, 1)
              < {DWS_BASE_PCT} * {1 << _U_BITS}
        ORDER BY doc_id
    """


ORACLE_SQL["dedup_weighted_sample"] = _dws_oracle()


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: every MinHash-LSH near-dup
    candidate pair, bucketed by the split assignment of its two ends
    (``sampling.dataset_split``'s md5 buckets). Rows with
    ``leaks = 1`` are near-duplicate pairs that STRADDLE a split
    boundary — the eval-set leakage a naive per-document split
    produces, and the number :func:`leakfree_split_assign` drives to
    zero.

    Scale shape: the candidate pairs come from the banded equi-join
    (never a cross join); the split column is a narrow md5 projection
    on each side, so this adds two cheap joins on ``doc_id`` and one
    bounded (≤ |splits|²-row) aggregate.
    """
    from tableau_dashboard_performance_etl_automation_spark.operators.dedup import (
        lsh_pair_table,
    )
    from tableau_dashboard_performance_etl_automation_spark.operators.sampling import (
        _split_col,
    )

    pairs = lsh_pair_table(spark, sf_dir)
    return (
        pairs.withColumn("split_a", _split_col(F.col("doc_a")))
        .withColumn("split_b", _split_col(F.col("doc_b")))
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn(
            "leaks",
            (F.col("split_a") != F.col("split_b")).cast("int"),
        )
        .repartition(1)
        .orderBy("split_a", "split_b")
    )


def leakfree_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster-aware split assignment: every document is
    split by the md5 bucket of its near-dup CLUSTER REPRESENTATIVE
    (the cluster's min doc_id; singletons represent themselves), so a
    whole duplicate family always lands in ONE split and near-dup
    train→test leakage is zero by construction — the split discipline
    eval-minded pipelines use (group-aware splitting).

    Scale shape: reuses the persisted CC labels
    (:func:`_lsh_cluster_labels`); the assignment is a left join on
    ``doc_id`` plus a narrow md5 projection — no new pair work.

    Returns (doc_id, rep_id, split) ordered by doc_id.
    """
    from tableau_dashboard_performance_etl_automation_spark.operators.sampling import (
        _split_col,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = _lsh_cluster_labels(spark, sf_dir)
    return (
        # labels are corpus-shaped (every doc in any pair): plain
        # equi-join on doc_id; AQE broadcasts when actually small
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            .cast("bigint")
            .alias("rep_id"),
        )
        .withColumn("split", _split_col(F.col("rep_id")))
        .orderBy("doc_id")
    )


QUERIES["split_leakage_report"] = split_leakage_report
QUERIES["leakfree_split_assign"] = leakfree_split_assign


def _leakage_oracle() -> str:
    from tableau_dashboard_performance_etl_automation_spark.operators.sampling import (
        split_case_sql,
    )

    return f"""
        WITH pairs AS (SELECT * FROM {_PAIRS_SQL} t)
        SELECT {split_case_sql('doc_a')} AS split_a,
               {split_case_sql('doc_b')} AS split_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST({split_case_sql('doc_a')}
                    != {split_case_sql('doc_b')} AS INTEGER) AS leaks
        FROM pairs
        GROUP BY split_a, split_b
        ORDER BY split_a, split_b
    """


def _leakfree_oracle() -> str:
    from tableau_dashboard_performance_etl_automation_spark.operators.sampling import (
        split_case_sql,
    )

    return f"""
        WITH RECURSIVE
        pairs AS (SELECT * FROM {_PAIRS_SQL} t),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM sym
            UNION
            SELECT s.src, r.root
            FROM sym s JOIN reach r ON s.dst = r.doc_id
        ),
        labels AS (
            SELECT doc_id, MIN(root) AS cluster_id
            FROM reach GROUP BY doc_id
        )
        SELECT d.doc_id AS doc_id,
               CAST(COALESCE(l.cluster_id, d.doc_id) AS BIGINT)
                   AS rep_id,
               {split_case_sql('COALESCE(l.cluster_id, d.doc_id)')}
                   AS split
        FROM documents d
        LEFT JOIN labels l ON l.doc_id = d.doc_id
        ORDER BY doc_id
    """


ORACLE_SQL["split_leakage_report"] = _leakage_oracle()
ORACLE_SQL["leakfree_split_assign"] = _leakfree_oracle()


#: Markov power-iteration dials: iteration count and the integer mass
#: unit (same discipline as PageRank: BIGINT micro-units make every
#: iteration reduction-order-independent and bit-identical across
#: engines).
MARKOV_ITERS = 8
MARKOV_UNIT = 1_000_000_000


def event_markov_stationary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: count
    per-user consecutive (current → next) transitions, row-normalize
    into a transition matrix, and power-iterate a uniform start for
    ``MARKOV_ITERS`` steps — "where does a user session settle" as a
    first-class behavioral-model table (the chain analog of
    ``session_type_pmi``'s co-occurrence view).

    Scale shape: the DISTRIBUTED work is the transition census — a
    per-user lead window (each partition sorts only its own user's
    events) into a |types|² hash aggregate. The type domain does not
    grow with the data (5 event types at every scale factor), so the
    census is collected and the power iteration runs in plain Python
    on exact integers, like the 25-node PageRank vector. Mass updates are
    ``floor(v·w/out)`` BIGINT ops — deterministic in both engines.
    Types that never appear as a transition SOURCE are excluded from
    the state space (they would silently absorb mass).

    Returns (event_type, stationary_micro, stationary) ordered by
    event_type.
    """
    rows = _markov_trans(spark, sf_dir)
    srcs, v = _markov_stationary_from_rows(rows)
    out_rows = [
        (t, v[t], round(v[t] / MARKOV_UNIT, 6)) for t in srcs
    ]
    return spark.createDataFrame(
        out_rows,
        "event_type STRING, stationary_micro BIGINT, stationary DOUBLE",
    ).repartition(1).orderBy("event_type")


def _markov_trans(spark: SparkSession, sf_dir: str) -> list:
    """The collected per-user consecutive (cur → nxt) transition census
    rows — the ONE distributed pass both the stationary solver and
    ``statstests.markov_entropy_rate`` run from, collected once per
    session (``session_value``) instead of once per query."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    census = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("cur"),
        )
        .withColumn("nxt", F.lead("cur").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    return session_value(spark, "markov_census", sf_dir, census.collect)


def _markov_stationary_from_rows(rows) -> tuple[list, dict]:
    """Driver-side exact-integer power iteration over collected census
    rows: restrict to the closed sub-chain over source types, iterate
    ``floor(v·w/out)`` updates. Returns
    (sorted source types, stationary micro-mass per type)."""
    srcs = sorted({r.cur for r in rows})
    sset = set(srcs)
    mat: dict = {}
    out: dict = {}
    for r in rows:
        if r.cur in sset and r.nxt in sset:
            mat[(r.cur, r.nxt)] = mat.get((r.cur, r.nxt), 0) + r.w
            out[r.cur] = out.get(r.cur, 0) + r.w
    v = {t: MARKOV_UNIT // len(srcs) for t in srcs}
    for _ in range(MARKOV_ITERS):
        nv = {t: 0 for t in srcs}
        for (cur, nxt), wt in sorted(mat.items()):
            nv[nxt] += (v[cur] * wt) // out[cur]
        v = nv
    return srcs, v


QUERIES["event_markov_stationary"] = event_markov_stationary


def _markov_oracle() -> str:
    parts = [
        """
        trans AS (
            SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS w
            FROM (
                SELECT event_type AS cur,
                       LEAD(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id
                       ) AS nxt
                FROM events
            )
            WHERE nxt IS NOT NULL
            GROUP BY cur, nxt
        ),
        srcs AS (SELECT DISTINCT cur AS t FROM trans),
        mat AS (
            SELECT t.cur, t.nxt, t.w FROM trans t
            JOIN srcs a ON a.t = t.cur
            JOIN srcs b ON b.t = t.nxt
        ),
        outw AS (SELECT cur, SUM(w) AS out_w FROM mat GROUP BY cur),
        nn AS (SELECT COUNT(*) AS n FROM srcs)"""
    ]
    parts.append(f"""
        v0 AS (
            SELECT t, {MARKOV_UNIT} // nn.n AS r
            FROM srcs CROSS JOIN nn
        )""")
    prev = "v0"
    for i in range(1, MARKOV_ITERS + 1):
        parts.append(f"""
        v{i} AS (
            SELECT m.nxt AS t,
                   SUM((r.r * m.w) // o.out_w) AS r
            FROM mat m
            JOIN {prev} r ON r.t = m.cur
            JOIN outw o ON o.cur = m.cur
            GROUP BY m.nxt
        )""")
        prev = f"v{i}"
    return f"""
        WITH {", ".join(parts)}
        SELECT s.t AS event_type,
               CAST(COALESCE(v.r, 0) AS BIGINT) AS stationary_micro,
               ROUND(COALESCE(v.r, 0) / {float(MARKOV_UNIT)!r}, 6)
                   AS stationary
        FROM srcs s LEFT JOIN {prev} v ON v.t = s.t
        ORDER BY event_type
    """


ORACLE_SQL["event_markov_stationary"] = _markov_oracle()


#: Trusted-seed stride for label propagation: docs with
#: ``doc_id % LP_SEED_MOD == 0`` carry a trusted label.
LP_SEED_MOD = 5

#: Synchronous propagation rounds (a fixed count, so the oracle
#: unrolls the same rounds as static SQL).
LP_ROUNDS = 2


def lang_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the MinHash near-dup
    graph: a trusted subset of docs (``doc_id % LP_SEED_MOD == 0``)
    seeds its ``lang`` label; each round, every still-unlabeled doc
    with at least one labeled neighbor adopts the majority neighbor
    label (ties → lexicographically smallest) — how a curation
    pipeline extends expensive gold labels (human or model-audited)
    across near-duplicate content for free.

    Determinism: the vote is (count DESC, label ASC) over the labels
    settled in earlier rounds; once labeled, a doc never flips.
    Scale shape: the rounds run on the driver over the collected
    near-dup graph (:func:`_lsh_graph`, pair-mass); the seed rows are
    a filter of ``documents`` and stay distributed, so no corpus-mass
    data reaches the driver. The output is the seeds plus the
    propagated rows, one row per labeled document."""
    docs = load_table(spark, sf_dir, "documents")
    seeds = docs.filter(F.col("doc_id") % LP_SEED_MOD == 0).select(
        "doc_id",
        F.col("lang").alias("label"),
        F.lit(0).cast("int").alias("labeled_round"),
    )
    pairs, lang = _lsh_graph(spark, sf_dir)
    adj = _adjacency(pairs)
    label = {v: lang[v] for v in adj if v % LP_SEED_MOD == 0}
    rows = []
    for rnd in range(1, LP_ROUNDS + 1):
        picked = {}
        for v, nbrs in adj.items():
            if v in label:
                continue
            votes = Counter(label[u] for u in nbrs if u in label)
            if votes:
                picked[v] = min(votes, key=lambda lab: (-votes[lab], lab))
        label.update(picked)
        rows.extend((v, lab, rnd) for v, lab in picked.items())
    propagated = spark.createDataFrame(
        rows, "doc_id BIGINT, label STRING, labeled_round INT"
    )
    return seeds.unionByName(propagated).orderBy("doc_id")


QUERIES["lang_label_propagation"] = lang_label_propagation


def _lp_round_sql(prev: str, rnd: int) -> str:
    return f"""
        SELECT doc_id, label,
               CAST({rnd} AS INTEGER) AS labeled_round
        FROM (
            SELECT s.dst AS doc_id, l.label, COUNT(*) AS c,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.dst
                       ORDER BY COUNT(*) DESC, l.label ASC
                   ) AS rn
            FROM sym s
            JOIN {prev} l ON s.src = l.doc_id
            LEFT JOIN {prev} already ON s.dst = already.doc_id
            WHERE already.doc_id IS NULL
            GROUP BY s.dst, l.label
        ) WHERE rn = 1
    """


ORACLE_SQL["lang_label_propagation"] = f"""
    WITH pairs AS (SELECT * FROM {_PAIRS_SQL} t),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    seeds AS (
        SELECT doc_id, lang AS label,
               CAST(0 AS INTEGER) AS labeled_round
        FROM documents WHERE doc_id % {LP_SEED_MOD} = 0
    ),
    p1 AS ({_lp_round_sql("seeds", 1)}),
    l1 AS (
        SELECT * FROM seeds UNION ALL SELECT * FROM p1
    ),
    p2 AS ({_lp_round_sql("l1", 2)})
    SELECT * FROM l1 UNION ALL SELECT * FROM p2
    ORDER BY doc_id
"""


#: k-core order (minimum within-core degree) and the fixed peel-round
#: budget both engines unroll. 2-core drops every tree/chain appendage
#: of the near-dup graph; 8 rounds reaches fixpoint on dedup graphs
#: (near-cliques peel in 1-2 rounds; the pytest invariant asserts the
#: last two rounds agree, so a non-converged corpus fails loudly
#: rather than reporting a non-core).
KCORE_K = 2
KCORE_ROUNDS = 8


def neardup_kcore_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-core peel of the MinHash near-dup graph: round r
    drops every node whose degree in round r-1's edge set is below
    ``KCORE_K``, then keeps only edges with both ends surviving; the
    output is the peel TRAJECTORY — (round, n_nodes, n_edges) for
    ``KCORE_ROUNDS`` rounds — whose tail rows are the 2-core size.
    Curation meaning: isolated duplicate PAIRS (degree-1 both sides)
    and chain appendages peel away; what survives is the dense
    template-farm mass that aggressive cluster-level dropping should
    target (the same edges feed ``neardup_triangles``; the core is
    where the triangles live).

    Scale shape: the LSH edge list is pair-mass, not corpus-mass — a
    few thousand rows at sf0.1, ~100k at the 256× decade — so it is
    collected once (:func:`_lsh_graph`) and the peel runs as plain
    Python dicts (integer degree counts: bit-identical by
    construction) instead of paying a Spark job per round to count a
    few thousand rows. Rounds are a
    fixed constant, so the DuckDB oracle unrolls the identical peel as
    ``KCORE_ROUNDS`` nested CTEs — both engines compute all 8 rounds
    even after fixpoint (idempotent peels), keeping the row sets
    identical by construction."""
    pairs = _lsh_graph(spark, sf_dir)[0]
    rows = []
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg: dict = {}
        for a, b in pairs:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        surv = {v for v, d in deg.items() if d >= KCORE_K}
        pairs = [(a, b) for a, b in pairs if a in surv and b in surv]
        rows.append((rnd, len(surv), len(pairs)))
    return spark.createDataFrame(
        rows, "round INT, n_nodes BIGINT, n_edges BIGINT"
    ).repartition(1).orderBy("round")


QUERIES["neardup_kcore_rounds"] = neardup_kcore_rounds


def _kcore_oracle() -> str:
    """Unroll the identical peel as nested CTEs (the
    ``_lp_round_sql`` discipline: fixed rounds → static SQL)."""
    # every CTE is MATERIALIZED: each round references the previous
    # edge set three times (degree census twice via the UNION ALL,
    # filter once) — inlined, e8 would expand to 3^8 copies of the
    # LSH pair subquery and exhaust file handles on the parquet scan
    ctes = [
        f"pairs AS MATERIALIZED (SELECT * FROM {_PAIRS_SQL} t)",
        "e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs)",
    ]
    selects = []
    for r in range(1, KCORE_ROUNDS + 1):
        prev = f"e{r - 1}"
        ctes.append(
            f"""d{r} AS MATERIALIZED (
                SELECT v, COUNT(*) AS deg FROM (
                    SELECT doc_a AS v FROM {prev}
                    UNION ALL SELECT doc_b FROM {prev}
                ) GROUP BY v
            )"""
        )
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT v FROM d{r} WHERE deg >= {KCORE_K})"
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
                SELECT e.doc_a, e.doc_b FROM {prev} e
                WHERE e.doc_a IN (SELECT v FROM s{r})
                  AND e.doc_b IN (SELECT v FROM s{r})
            )"""
        )
        selects.append(
            f"""SELECT {r} AS round,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM s{r}) AS n_nodes,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges"""
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


ORACLE_SQL["neardup_kcore_rounds"] = _kcore_oracle()


def neardup_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link scoring over the MinHash near-dup graph:
    every document pair sharing at least one neighbor, with the
    shared-neighbor count, the neighbor-Jaccard score
    ``|N(a) ∩ N(c)| / |N(a) ∪ N(c)|``, and an ``is_edge`` flag saying
    whether the LSH bands already produced that pair. The
    ``is_edge = 0`` rows are the link PREDICTIONS — "these two are
    probably near-dups the bands happened to miss" — the recall audit
    a dedup pipeline runs on its own candidate generator (a
    high-scoring non-edge is a band-collision miss worth an exact
    verify pass); the ``is_edge = 1`` rows calibrate what score range
    real edges occupy.

    Scale shape: wedge enumeration ``(a,b)+(b,c)`` over the symmetric
    LSH edge list — the same bounded two-hop join
    :func:`neardup_triangles` pays (fan-out capped by the band-bucket
    caps upstream, never corpus²) — canonicalized ``a < c``, then one
    LEFT equi-join against the edge list sets the flag, and degree
    lookups are a broadcast of the per-node degree table (|nodes|
    rows). Jaccard is a ratio of exact integers, rounded to 6, so the
    ranking is cross-engine exact; ties order by the pair key."""
    edges = lsh_pair_table(spark, sf_dir)
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    e1 = sym.select(F.col("dst").alias("b"), F.col("src").alias("a"))
    e2 = sym.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = (
        e1.join(e2, "b")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    flagged = wedges.join(
        edges.select("doc_a", "doc_b", F.lit(1).alias("is_edge")),
        (wedges["a"] == edges["doc_a"]) & (wedges["c"] == edges["doc_b"]),
        "left",
    ).select(
        "a", "c", "common", F.coalesce("is_edge", F.lit(0)).alias("is_edge")
    )
    da = F.broadcast(deg.select(F.col("src").alias("a"), F.col("d").alias("da")))
    dc = F.broadcast(deg.select(F.col("src").alias("c"), F.col("d").alias("dc")))
    return (
        flagged.join(da, "a")
        .join(dc, "c")
        .select(
            F.col("a").alias("doc_a"),
            F.col("c").alias("doc_b"),
            "common",
            F.round(
                F.col("common")
                / (F.col("da") + F.col("dc") - F.col("common")),
                6,
            ).alias("neighbor_jaccard"),
            F.col("is_edge").cast("int").alias("is_edge"),
        )
        .orderBy(
            "is_edge",
            F.col("neighbor_jaccard").desc(),
            F.col("common").desc(),
            "doc_a",
            "doc_b",
        )
    )


QUERIES["neardup_link_prediction"] = neardup_link_prediction

ORACLE_SQL["neardup_link_prediction"] = f"""
    WITH pairs AS (SELECT * FROM {_PAIRS_SQL} t),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY src),
    wedges AS (
        SELECT e1.src AS a, e2.dst AS c, CAST(COUNT(*) AS BIGINT) AS common
        FROM sym e1
        JOIN sym e2 ON e2.src = e1.dst
        WHERE e1.src < e2.dst
        GROUP BY e1.src, e2.dst
    ),
    flagged AS (
        SELECT w.a, w.c, w.common,
               CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END AS is_edge
        FROM wedges w
        LEFT JOIN pairs p ON p.doc_a = w.a AND p.doc_b = w.c
    )
    SELECT n.a AS doc_a, n.c AS doc_b, n.common,
           ROUND(n.common * 1.0 / (da.d + dc.d - n.common), 6)
               AS neighbor_jaccard,
           CAST(n.is_edge AS INT) AS is_edge
    FROM flagged n
    JOIN deg da ON da.src = n.a
    JOIN deg dc ON dc.src = n.c
    ORDER BY is_edge, neighbor_jaccard DESC, n.common DESC, doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Multi-source BFS over the near-dup graph
# ---------------------------------------------------------------------------

#: BFS horizon — distances are reported exactly up to this many hops;
#: everything farther (or disconnected) lands in the -1 bucket.
BFS_MAX_HOPS = 4

#: Seed selector: every graph node whose doc_id is divisible by this
#: is a BFS source (deterministic multi-source seed set — the
#: "distance to nearest labeled doc" shape, e.g. hops to the nearest
#: human-audited duplicate). 7 ≈ a 14% audit sample of graph nodes.
BFS_SEED_MOD = 7


def neardup_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the MinHash near-dup graph: distance of
    every graph node to the nearest seed (doc_id % BFS_SEED_MOD == 0),
    reported as a (hop, n_docs) histogram with one ``-1`` row for
    nodes beyond ``BFS_MAX_HOPS`` or in seedless components. The
    "how far is everything from the audited set" primitive —
    propagation radius for label spreading, audit coverage, or
    contamination blast-radius questions over the duplicate graph.

    Scale shape: at most ``BFS_MAX_HOPS`` frontier expansions on the
    driver over the collected near-dup graph (:func:`_lsh_graph`,
    pair-mass), per-node state (node, dist), never paths. The hops
    are a fixed constant, so the DuckDB oracle is a depth-bounded
    recursive CTE computing the identical MIN(depth)."""
    adj = _adjacency(_lsh_graph(spark, sf_dir)[0])
    dist = {v: 0 for v in adj if v % BFS_SEED_MOD == 0}
    frontier = list(dist)
    for h in range(1, BFS_MAX_HOPS + 1):
        reached = []
        for u in frontier:
            for w in adj[u]:
                if w not in dist:
                    dist[w] = h
                    reached.append(w)
        frontier = reached
    rows = sorted(Counter(dist.values()).items())
    if len(adj) > len(dist):
        rows.append((-1, len(adj) - len(dist)))
    return spark.createDataFrame(
        rows, "hop INT, n_docs BIGINT"
    ).repartition(1).orderBy("hop")


QUERIES["neardup_bfs_hops"] = neardup_bfs_hops

ORACLE_SQL["neardup_bfs_hops"] = f"""
    WITH RECURSIVE
    pairs AS (SELECT * FROM {_PAIRS_SQL} t),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM sym),
    bfs(doc_id, hop) AS (
        SELECT doc_id, 0 FROM nodes WHERE doc_id % {BFS_SEED_MOD} = 0
        UNION
        SELECT s.dst, b.hop + 1
        FROM bfs b JOIN sym s ON s.src = b.doc_id
        WHERE b.hop < {BFS_MAX_HOPS}
    ),
    dist AS (
        SELECT doc_id, MIN(hop) AS hop FROM bfs GROUP BY doc_id
    ),
    hist AS (
        SELECT CAST(hop AS INTEGER) AS hop,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM dist GROUP BY hop
        UNION ALL
        SELECT -1, CAST(COUNT(*) AS BIGINT)
        FROM nodes n
        WHERE NOT EXISTS (
            SELECT 1 FROM dist d WHERE d.doc_id = n.doc_id
        )
        HAVING COUNT(*) > 0
    )
    SELECT hop, n_docs FROM hist ORDER BY hop
"""
