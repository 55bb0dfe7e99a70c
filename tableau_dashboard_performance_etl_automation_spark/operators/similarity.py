"""Similarity search over the ``embeddings`` table: embedding
near-dup pairs, brute-force cosine top-k (the correctness baseline),
and an IVF-pruned variant (the 100 TB scale path).

Scale design:

- the query set / centroid set are the ONLY broadcast sides; the
  corpus never shuffles for brute-force scoring (each partition scores
  its local vectors against the broadcast queries — exactly the
  distributed brute-force layout on a 1000-executor cluster);
- IVF assigns every vector to its nearest centroid (one broadcast
  join), then searches only the query's cluster: a K-way partition
  prune that cuts scored candidates by ~1/K. Assignment shuffles on
  ``cent_id`` once, which is also the layout you'd persist (bucketed
  by centroid) for repeated query workloads;
- vector math is JVM-side ``zip_with``/``aggregate`` (functions/
  vectors.py) — no Python in the hot path.

Determinism: ranking uses ``ROUND(cos, 6)`` with an id tiebreak in
both engines; reported cosines round to 4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from tableau_dashboard_performance_etl_automation_spark.catalog import load_table
from tableau_dashboard_performance_etl_automation_spark.sources.warehouse import (
    corpus_slug,
    persisted_table,
    session_value,
)
from tableau_dashboard_performance_etl_automation_spark.functions.vectors import (
    as_double_array,
    cosine,
    cosine_with_norms,
    dot,
    norm,
)

#: Near-dup threshold for embedding pairs (LSH-bucketed candidates).
NEARDUP_COSINE = 0.35
#: Random-hyperplane LSH: ``LSH_BANDS`` bands of ``lsh_band_bits(n)``
#: sign bits each (one md5-derived ±1 hyperplane per bit). The band
#: width is a SELF-EXECUTING scale dial — derived from the corpus
#: count so expected bucket occupancy n / 2^bits stays at or below
#: ``LSH_TARGET_BUCKET`` (clamped to [MIN, MAX] bits): the test
#: corpora (500–2k vectors) land on 8 bits / 256 signatures; a
#: 1e9-vector corpus lands on the 24-bit clamp (16.7M signatures ×
#: 16 bands). The oracle recomputes the same dial from COUNT(*).
LSH_MIN_BAND_BITS = 8
#: 24-bit ceiling keeps expected bucket depth ≤ TARGET to ~134M
#: vectors (the 256× probe measured the previous 16-bit ceiling being
#: REACHED at 512k vectors — occupancy exactly on target, so the next
#: doubling would have started deepening buckets; extra bits cost one
#: md5-sign projection each, linear and map-side).
LSH_MAX_BAND_BITS = 24
LSH_TARGET_BUCKET = 8
LSH_BANDS = 16


def lsh_band_bits(n_vectors: int) -> int:
    """Band signature width for an ``n_vectors`` corpus: the smallest
    bits with n / 2^bits <= LSH_TARGET_BUCKET, clamped to
    [LSH_MIN_BAND_BITS, LSH_MAX_BAND_BITS]. Clamps keep the dial away
    from float-ulp ambiguity except when n/TARGET sits within one ulp
    of a power of two — unreachable for real corpus counts."""
    import math

    if n_vectors <= 0:
        return LSH_MIN_BAND_BITS
    need = math.ceil(math.log2(max(1.0, n_vectors / LSH_TARGET_BUCKET)))
    return min(LSH_MAX_BAND_BITS, max(LSH_MIN_BAND_BITS, need))
EMB_DIM = 64
#: ANN parameters: fixed deterministic query/centroid sets + top-k.
N_QUERIES = 10
#: IVF codebook: K centroids trained with IVF_ITERS Lloyd iterations
#: (spherical k-means: assign by cosine, update by arithmetic mean).
#: K is a SELF-EXECUTING dial (round-5b, like ``lsh_band_bits``):
#: ≈√n per the cluster-balance rule of thumb, stepped to multiples
#: of 8 and clamped — the test corpora (≤2.5k vectors) land on the
#: 16 floor (bit-identical to the old fixed K=16), a 1e9-vector
#: corpus lands near the ceiling. This is what keeps the
#: within-cluster pair joins (SemDeDup, IVF probes) sub-quadratic:
#: with K ≈ √n the total pair space is n²/K ≈ n^1.5, not n². The
#: oracle recomputes the same dial from COUNT(*). Centroid updates
#: accumulate exact integer micro-units (round(x*1e6) as BIGINT) so
#: the means are order-independent and bit-identical across engines.
IVF_MIN_CENTROIDS = 16
IVF_MAX_CENTROIDS = 65536
IVF_ITERS = 3


def ivf_n_centroids(n_vectors: int) -> int:
    """Codebook size for an ``n_vectors`` corpus: ⌊√n⌋ stepped down
    to a multiple of 8, clamped to [MIN, MAX]. Python ``isqrt`` and
    the oracle's ``FLOOR(SQRT(n))`` agree exactly for any feasible
    corpus count (IEEE sqrt of an integer < 2^52 floors to isqrt)."""
    import math

    k = (math.isqrt(max(0, n_vectors)) // 8) * 8
    return min(IVF_MAX_CENTROIDS, max(IVF_MIN_CENTROIDS, k))
QUANT_SCALE = "1e6"
#: Train on a deterministic 4-in-5 sample of the corpus (vec_id % 5
#: < 4) — k-means codebooks are trained on a sample and applied to
#: everything; the sample predicate is replayed in the oracle. The
#: sample a codebook needs is O(K·dim), not O(n), so the kept
#: fraction shrinks as the corpus grows (at billions of vectors a
#: <1% sample trains the same K=16 codebook); at the 2k-vector test
#: scale a thinner sample visibly starves recall (measured: 40%
#: sample -> recall@5 0.74, 80% -> 0.90, full -> 0.94 at sf0.1).
TRAIN_MOD = 5
TRAIN_KEEP = 4
TOP_K = 5

#: Adaptive IVF training sample (round-5c): a codebook needs O(K)
#: training vectors, not O(n) — target this many per centroid. Below
#: the target the dense 4-in-5 rule applies unchanged (all test
#: corpora: bit-identical results); past it the keep rate shrinks as
#: K/n, capping training cost at ~K²·TARGET cosines instead of n·K
#: (measured: the fixed 4/5 rule cost 562 s of one-time training at
#: the 64× corpus decade, K=352 — the adaptive rate keeps ~70% there
#: and ~1.7% at 1e9 vectors).
TRAIN_TARGET_PER_CENTROID = 256


def ivf_train_permille(n_vectors: int, k: int) -> int | None:
    """Per-mille training keep-rate, or ``None`` for the dense
    4-in-5 rule. Pure integer arithmetic (``//``) so the oracle's
    SQL replay computes the identical branch and rate."""
    s = TRAIN_TARGET_PER_CENTROID * k
    if n_vectors * 4 <= s * 5:
        return None
    return max(1, (1000 * s) // n_vectors)

_COS_SQL = (
    "list_cosine_similarity({a}::DOUBLE[], {b}::DOUBLE[])"
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", as_double_array(F.col("embedding")).alias("vec")
    )


def _hyperplane_coef(h: int, d: int) -> float:
    """±1 Rademacher hyperplane entry from md5 — the same primitive
    (and the same bytes) DuckDB's ``md5()`` computes, so both engines
    project onto literally identical hyperplanes."""
    import hashlib

    return (
        1.0
        if hashlib.md5(f"{h}|{d}".encode()).hexdigest()[0] >= "8"
        else -1.0
    )


def _persisted_band_signatures(
    spark: SparkSession, sf_dir: str, raw: DataFrame, band_bits: int
) -> DataFrame:
    """The (vec_id, band, sig) signature table as a persisted corpus
    artifact (round-5, like the simhash signatures): the Arrow
    projection pass runs once per corpus; every candidate join and
    probe thereafter reads 3 integer columns from parquet.  Tagged
    with the band-width dial, so a corpus crossing a width threshold
    rebuilds.  Signatures are exact integer-unit sign decisions —
    deterministic, so loaded equals recomputed."""
    base = corpus_slug(sf_dir)
    return persisted_table(
        spark,
        f"emb_band_sigs/{base}",
        f"{sf_dir}|bits={band_bits}",
        lambda: _band_signatures(raw, band_bits),
    )


def _band_signatures(e: DataFrame, band_bits: int) -> DataFrame:
    """(vec_id, band, sig) — sign-random-projection band signatures,
    computed as an Arrow ``mapInPandas`` batch projection.

    Why Python here (the repo otherwise keeps math JVM-side): the
    projection is LSH_BANDS×band_bits dot products per row. Expressed
    with ``aggregate``/``zip_with`` it runs interpreted (HOFs don't
    codegen) at ~10× cost; expressed as 8 192-node straight-line
    expressions it compiles fast but makes every downstream optimizer
    pass walk the giant tree — the candidate self-join plan went from
    2 s to 30+ s. A single Arrow stage keeps the logical plan one
    node and the compute vectorized. Per-row work only — partitions
    stream through independently, nothing concentrates.

    Exactness: each embedding value is quantized to integer
    micro-units (``floor(x*1e6 + 0.5)``, exact on doubles) BEFORE
    projecting, so the ±1-weighted sums are integer arithmetic —
    |sum| < 64·2e6 « 2^53 — and the sign decision is
    order-independent and platform-independent. The oracle applies
    the identical quantization, so the sign bits cannot be flipped
    by reduction order or FMA contraction on either engine (a raw
    float dot product near 0 could)."""
    import numpy as np
    import pandas as pd

    n_hyper = LSH_BANDS * band_bits
    coefs = np.array(
        [
            [_hyperplane_coef(h, d) for h in range(n_hyper)]
            for d in range(EMB_DIM)
        ]
    )  # (dim, hyper)

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )  # (n, dim) — float32 → float64 is exact
            quant = np.floor(emb * 1e6 + 0.5)  # integral doubles, exact
            acc = np.zeros((len(pdf), n_hyper))
            for d in range(EMB_DIM):  # exact integer accumulation
                acc += quant[:, d : d + 1] * coefs[d]
            bits = (acc >= 0).astype(np.int64)  # (n, hyper)
            sigs = np.zeros((len(pdf), LSH_BANDS), dtype=np.int64)
            # pack: band b uses hyperplanes [b*BITS, (b+1)*BITS)
            for b in range(LSH_BANDS):
                bb = bits[:, b * band_bits : (b + 1) * band_bits]
                sigs[:, b] = (bb << np.arange(band_bits)).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(), LSH_BANDS
                    ),
                    "band": np.tile(
                        np.arange(LSH_BANDS, dtype=np.int32), len(pdf)
                    ),
                    "sig": sigs.reshape(-1),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        project, "vec_id BIGINT, band INT, sig BIGINT"
    )


def neardup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs via random-hyperplane LSH:
    candidates are generated by an **equi-join on (band, signature)**
    — never an all-pairs join within any fixed block — then confirmed
    with the exact cosine ≥ threshold.

    Scale shape: candidate generation shuffles on (band, sig) whose
    cardinality is LSH_BANDS × 2^band_bits; per-bucket membership
    is ~n / 2^band_bits, and the band width is DERIVED from the
    corpus count (``lsh_band_bits``) so buckets stay small as the
    corpus grows — the dial turns itself. Recall at a given cosine c
    is 1-(1-p^r)^b with p = 1 - arccos(c)/π — the standard banding
    trade, documented rather than hidden.
    """
    # round-8: the VERIFIED pair table is a deterministic per-corpus
    # artifact (the embedding analog of dedup's lsh_pairs) — persist
    # it so steady state is a parquet scan + sort instead of
    # re-paying the bucket self-join and the interpreted cosine folds
    # on every run. The build plan (exposed as
    # :func:`_neardup_pair_build` for the plan-contract test) replays
    # the original query exactly.
    # tag carries the dials (round-8 ADVICE): a threshold or banding
    # change must invalidate the pair table, not silently reuse it
    pairs = persisted_table(
        spark,
        f"emb_neardup_pairs/{corpus_slug(sf_dir)}",
        f"{sf_dir}|cos={NEARDUP_COSINE}|bands={LSH_BANDS}",
        lambda: _neardup_pair_build(spark, sf_dir),
    )
    return pairs.orderBy("vec_a", "vec_b")


def _neardup_pair_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-persisted near-dup pair plan: LSH-bucket equi-join
    candidate generation + exact-cosine confirm (see
    :func:`neardup_embedding_cosine` for the scale argument).
    tests/test_plans.py audits THIS plan — no cartesian product, no
    label blocking — since the registered query's steady state is
    just the artifact scan."""
    e = _emb(spark, sf_dir)
    raw = load_table(spark, sf_dir, "embeddings")
    # One COUNT(*) job (parquet metadata aggregate) prices the
    # dial; the oracle recomputes the identical width from
    # COUNT(*).
    bits = lsh_band_bits(raw.count())
    sigs = _persisted_band_signatures(spark, sf_dir, raw, bits)
    cand = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    # Precompute each vector's norm once (O(n) folds) instead of
    # per pair; dot/(norm_a*norm_b) evaluates the exact same
    # doubles as the inline cosine, so the oracle comparison is
    # unaffected.
    en = e.withColumn("nrm", norm(F.col("vec")))
    a = en.select(
        F.col("vec_id").alias("vec_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = en.select(
        F.col("vec_id").alias("vec_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn(
            "cos",
            F.round(
                F.when(
                    F.col("na") * F.col("nb") == 0, F.lit(None)
                ).otherwise(
                    dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb"))
                ),
                4,
            ),
        )
        .filter(F.col("cos") >= NEARDUP_COSINE)
        .select("vec_a", "vec_b", F.col("cos").alias("cosine"))
    )


def _lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — the third ANN tier next to
    the exact brute-force baseline (:func:`ann_cosine_topk`) and the
    IVF index (:func:`ann_ivf_topk`): candidates are corpus vectors
    sharing at least one (band, signature) bucket with the query, and
    only candidates get an exact cosine + rank.

    **Multi-probe**: each query band probes its own bucket AND every
    bucket at Hamming distance 1 (bit-flipped signatures) — the
    standard recall lever that costs only (bits+1)× more QUERY rows
    (still a broadcast-sized set) while the corpus stays put; without
    it, per-band collision probability is p^bits and recall collapses
    on small buckets (measured: probing lifts recall@5 from 0.24 to
    0.86 / 0.84 / 0.98 at sf0.001 / 0.01 / 0.1).

    Scale shape: the probe set is N_QUERIES × LSH_BANDS × (bits+1)
    rows — it broadcasts; the corpus side streams its signatures
    through that broadcast-hash join, so the candidate cut happens
    WITHOUT moving the corpus, and the expensive exact scoring touches
    ~bands × probes × bucket-size rows per query instead of n. Same
    self-tuning band-width dial as :func:`neardup_embedding_cosine`
    (bucket depth tracks LSH_TARGET_BUCKET as the corpus grows).
    Misses remain possible by design; the oracle replays the identical
    buckets and probes so both engines miss identically.

    Steady state (round-9): the scored candidate table — bucket-join
    candidate generation + exact cosine, the expensive distributed
    half — persists per corpus like the near-dup pair tables
    (``emb_neardup_pairs``); every run after the first is a 3-column
    parquet scan + the TOP_K window.  The build plan is exposed as
    :func:`_lsh_scored_build` for the plan-contract audit."""
    scored = persisted_table(
        spark,
        f"lsh_topk_scores/{corpus_slug(sf_dir)}",
        f"{sf_dir}|bands={LSH_BANDS}|target={LSH_TARGET_BUCKET}",
        lambda: _lsh_scored_build(spark, sf_dir),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos6"), 4).alias("cosine"),
            "rank",
        )
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH top-k (:func:`_lsh_topk`) on one partition, ordered."""
    return _lsh_topk(spark, sf_dir).repartition(1).orderBy("query_id", "rank")


def _lsh_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-persisted LSH candidate + exact-score plan (see
    :func:`ann_lsh_topk` for the banding/probe semantics and scale
    argument): broadcast probe join, distinct, exact cosine. The
    plan-contract test audits THIS plan — the registered query's
    steady state is just the artifact scan + window."""
    e = _emb(spark, sf_dir)
    raw = load_table(spark, sf_dir, "embeddings")
    bits = lsh_band_bits(raw.count())
    sigs = _persisted_band_signatures(spark, sf_dir, raw, bits)
    probes = F.array(
        F.col("sig"),
        *[
            F.col("sig").bitwiseXOR(F.lit(1 << i)) for i in range(bits)
        ],
    )
    qsigs = (
        sigs.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "band",
            F.explode(probes).alias("sig"),
        )
    )
    cand = (
        sigs.join(F.broadcast(qsigs), ["band", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec")
    )
    return (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias(
                "cos6"
            ),
        )
    )


def _arrow_scored_candidates(
    corpus: DataFrame, query_rows: list, top_k: int
):
    """Exact-cosine top-k CANDIDATES per query via an Arrow-batched
    numpy scorer — the round-7 removal of the HOF interpretation tax
    (PERF.md "Round 7 addendum": ``F.aggregate``/``zip_with`` is
    interpreted per element, ~50× the FLOP cost at 1M vectors).

    Bit-identity: the scorer accumulates SEQUENTIALLY over dimensions
    (``acc = acc + a_d·b_d``, vectorized over rows), replaying the
    exact IEEE operation sequence of ``functions/vectors.py``'s fold —
    pinned by tests/test_round7_ops.py::
    test_numpy_sequential_fold_bit_identical_to_hof_cosine. The raw
    doubles cross back to Spark, which applies the SAME round/window
    ranking as before — no Python-side rounding anywhere.

    Margin pruning (provably exact): per batch and query, keep rows
    whose raw cosine ≥ (k-th best raw) − 2e-6. The margin is twice
    what the rounding argument needs (round-8 ADVICE): ``kth - 2e-6``
    evaluated in float64 can round up past its decimal value by at
    most one ulp, so every dropped row still has a raw gap > 1e-6;
    final ranking orders by ``round(cos, 6)`` and rounding moves a
    value by ≤ 5e-7, so round6(dropped) < round6(kept k-th) STRICTLY
    — it can neither beat nor tie into the global top-k.
    NULL-cosine rows (zero-norm guard) rank last by (neighbor_id asc),
    so the smallest-id ``top_k`` of them per batch are also kept —
    identical output even when a query has < k scorable neighbors.

    Scale shape: queries are a bounded driver-side list (the codebook
    pattern); the corpus never moves — each Arrow batch emits
    O(queries × top_k) candidate rows, so the downstream window
    shuffles candidates, not the corpus."""
    import math

    import numpy as np
    import pandas as pd

    qitems = []
    for qid, qv in query_rows:
        v = np.asarray(qv, dtype=np.float64)
        acc = 0.0
        for x in v:  # sequential self-dot == norm()'s fold order
            acc = acc + x * x
        qitems.append((int(qid), v, math.sqrt(acc)))

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["neighbor_id"].to_numpy()
            A = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["cvec"]]
            )
            n, dim = A.shape
            na_acc = np.zeros(n)
            for k in range(dim):
                col = A[:, k]
                na_acc = na_acc + col * col
            na = np.sqrt(na_acc)
            out_q: list = []
            out_n: list = []
            out_c: list = []
            for qid, qv, qnorm in qitems:
                d_acc = np.zeros(n)
                for k in range(dim):
                    d_acc = d_acc + A[:, k] * qv[k]
                denom = na * qnorm
                not_self = ids != qid
                scorable = not_self & (denom != 0.0)
                cos = d_acc[scorable] / denom[scorable]
                cids = ids[scorable]
                if len(cos) > top_k:
                    kth = np.partition(cos, len(cos) - top_k)[
                        len(cos) - top_k
                    ]
                    keep = cos >= kth - 2e-6
                    cos, cids = cos[keep], cids[keep]
                out_q.extend([qid] * len(cids))
                out_n.extend(int(i) for i in cids)
                out_c.extend(float(x) for x in cos)
                null_ids = np.sort(ids[not_self & (denom == 0.0)])[
                    :top_k
                ]
                out_q.extend([qid] * len(null_ids))
                out_n.extend(int(i) for i in null_ids)
                out_c.extend([None] * len(null_ids))
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "neighbor_id": pd.Series(out_n, dtype="int64"),
                    "cos": pd.Series(out_c, dtype="object"),
                }
            )

    # spread a few-split corpus scan across the session's parallelism
    # (the scorer is CPU-bound; see _nearest_arrow) — no-op when the
    # scan already has enough splits
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < par:
        corpus = corpus.repartition(par)
    return corpus.mapInPandas(
        score, "query_id BIGINT, neighbor_id BIGINT, cos DOUBLE"
    )


def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set, score every
    corpus partition locally, rank per query. The exact baseline any
    approximate index is measured against. Scoring runs in the
    Arrow-batched numpy scorer (:func:`_arrow_scored_candidates`,
    bit-identical to the HOF fold); round/rank stay JVM-side.

    Steady state (round-9): the exact candidate scores persist per
    corpus as the GROUND-TRUTH table — precisely what ann-benchmarks
    ships as precomputed ground-truth files, and what every index
    scorecard here joins against (:func:`ann_lsh_ranking_quality`,
    :func:`knn_label_vote`); after the first run the brute-force
    scan is a 3-column parquet read + the TOP_K window. Build plan
    exposed as :func:`_exact_scored_build`."""
    scored = persisted_table(
        spark,
        f"exact_topk_scores/{corpus_slug(sf_dir)}",
        f"{sf_dir}|k={TOP_K}|nq={N_QUERIES}",
        lambda: _exact_scored_build(spark, sf_dir),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("cos6", F.round(F.col("cos"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos6"), 4).alias("cosine"),
            "rank",
        )
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact top-k (:func:`_exact_topk`) on one partition, ordered."""
    return _exact_topk(spark, sf_dir).repartition(1).orderBy("query_id", "rank")


def _exact_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-persisted brute-force scoring plan — broadcast query
    set, Arrow-batched numpy scorer over every corpus partition (see
    :func:`ann_cosine_topk`); the plan audit reads THIS.

    Determinism note: the scorer's per-batch margin prune keeps a
    candidate SUPERSET whose exact membership depends on batch
    composition (partitioning), so two sessions may persist slightly
    different candidate sets — but every set provably contains the
    global top-k (the 2e-6 margin proof in
    :func:`_arrow_scored_candidates`), and each row's cosine is a
    pinned sequential fold, so the RANKED OUTPUT the registered
    query derives is invariant. The stronger loaded==rebuilt
    bit-identity holds for the kept rows' values, just not for which
    sub-threshold extras ride along."""
    e = _emb(spark, sf_dir)
    query_rows = [
        (r["vec_id"], r["vec"])
        for r in e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "vec")
        .collect()
    ]
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec")
    )
    return _arrow_scored_candidates(c, query_rows, TOP_K)


def _knn_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification by majority vote over the exact top-k
    neighbor set: each query vector takes the label its TOP_K nearest
    neighbors (cosine) hold most often; ties break toward the label
    holding the nearest neighbor (lowest best rank), then the lowest
    label id.

    Built ON TOP of :func:`ann_cosine_topk` — the classifier is a
    composition, so swapping in the IVF index changes one call. The
    vote itself is two hash aggregates (votes per (query,label), then
    a MAX(struct) argmax per query) — map-side combinable, no window,
    no extra shuffle beyond the label equi-join.
    """
    topk = _exact_topk(spark, sf_dir)
    labels = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"), "label"
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("votes"),
            F.min("rank").alias("best_rank"),
        )
    )
    best = votes.groupBy("query_id").agg(
        F.max(
            F.struct(
                F.col("votes"),
                (-F.col("best_rank")).alias("neg_rank"),
                (-F.col("label")).alias("neg_label"),
            )
        ).alias("m")
    )
    return best.select(
        "query_id",
        (-F.col("m.neg_label")).cast("int").alias("label"),
        F.col("m.votes").alias("votes"),
        (-F.col("m.neg_rank")).cast("int").alias("best_rank"),
    )


def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-NN votes (:func:`_knn_votes`) on one partition, ordered."""
    return _knn_votes(spark, sf_dir).repartition(1).orderBy("query_id")


def embedding_centroid_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label centroid statistics, one row per (label, dimension):
    vector count, exact integer micro-unit component sum, and the
    rounded mean — the class-prototype table a labeled embedding set
    is summarized by (and the building block of nearest-class-mean
    classification).

    posexplode turns the K×dim centroid computation into a flat
    (label, dim) hash aggregate — map-side combinable, no UDF, and
    the micro-unit accumulation (round(x·1e6) as BIGINT, the same
    trick the IVF trainer uses) makes the sums reduction-order-proof
    so both engines agree bit-for-bit. At scale: rows = vectors × dim,
    but the shuffle carries only |labels|·dim partial sums.
    """
    e = _emb(spark, sf_dir)
    return (
        e.select(
            "label", F.posexplode("vec").alias("dim", "x")
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.round(F.col("x") * 1e6).cast("bigint")).alias(
                "sum_micro"
            ),
        )
        .withColumn(
            "mean_val",
            F.round(F.col("sum_micro") / (F.col("n_vecs") * F.lit(1e6)), 6),
        )
        .repartition(1)
        .orderBy("label", "dim")
    )


def _nearest(e: DataFrame, cent_rows: list, nprobe: int = 1) -> DataFrame:
    """Nearest-centroid assignment. ``nprobe=1`` (the storage
    assignment and every Lloyd round — the corpus-sized path) streams
    the vectors through the Arrow-batched numpy scorer with the K
    centroids riding the closure (the codebook is a bounded
    driver-side list by construction), then keeps the original
    round+argmax JVM-side — margin pruning inside the scorer is
    provably exact under the 6-decimal ranking (same proof as
    :func:`_arrow_scored_candidates`), and tie order matches the
    oracle's ROW_NUMBER (``ccos DESC, cent_id ASC``) via the negated
    cent_id in the ``MAX(struct(...))``. ``nprobe>1`` (the query-side
    widened search) keeps the HOF broadcast join + rank window, which
    only ever sees the tiny query set. ``cent_rows`` are the
    ``(cent_id, cvec)`` codebook rows."""
    if nprobe == 1:
        return _nearest_arrow(e, cent_rows)
    cent = e.sparkSession.createDataFrame(
        cent_rows, "cent_id BIGINT, cvec ARRAY<DOUBLE>"
    )
    scored = e.crossJoin(F.broadcast(cent)).withColumn(
        "ccos", F.round(cosine(F.col("vec"), F.col("cvec")), 6)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id")
    )
    return (
        scored.withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= nprobe)
        .select("vec_id", "cent_id", "vec")
    )


def _nearest_arrow(e: DataFrame, cent_rows: list) -> DataFrame:
    """Corpus→nearest-centroid assignment via the Arrow scorer —
    the index-build half of the round-7 HOF-tax removal (PERF.md:
    the interpreted fold made the 1M-vector K=1008 build cost tens
    of minutes). Sequential per-dimension accumulation replays the
    HOF fold's IEEE order (bit-identity pinned by the round-7 test);
    per vector, only centroids whose RAW cosine is within 2e-6 of
    the row maximum are emitted (the ulp-safe margin — see
    :func:`_arrow_scored_candidates`) (≥ the true rounded-argmax winner,
    usually exactly one row), plus a single smallest-cent_id NULL
    row when every cosine is NULL (zero norms) — replicating the
    null-first struct ordering of the original argmax. Spark then
    rounds and argmaxes the candidates, so the decision arithmetic
    is unchanged."""
    import math

    import numpy as np
    import pandas as pd

    cents = []
    for cid, cv in cent_rows:
        v = np.asarray(cv, dtype=np.float64)
        acc = 0.0
        for x in v:  # sequential self-dot == norm()'s fold order
            acc = acc + x * x
        cents.append((int(cid), v, math.sqrt(acc)))
    min_cent = min(c[0] for c in cents)
    cent_ids = np.array([c[0] for c in cents], dtype=np.int64)
    CV = np.vstack([c[1] for c in cents])  # C × dim, row-contiguous
    cnorms = np.array([c[2] for c in cents], dtype=np.float64)
    # rows per kernel chunk: the (C × m) accumulator is the working
    # set (K=1008, m≈1024 → 8 MB, cache-resident) — bounded per task
    # regardless of the Arrow batch size Spark hands us
    chunk = max(64, (1 << 20) // max(1, len(cents)))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            all_ids = pdf["vec_id"].to_numpy()
            all_vecs = list(pdf["vec"])
            for start in range(0, len(all_ids), chunk):
                ids = all_ids[start : start + chunk]
                vecs = all_vecs[start : start + chunk]
                A = np.vstack(
                    [np.asarray(v, dtype=np.float64) for v in vecs]
                )
                n, dim = A.shape
                na_acc = np.zeros(n)
                for k in range(dim):
                    col = A[:, k]
                    na_acc = na_acc + col * col
                na = np.sqrt(na_acc)
                # one rank-1 update per dimension: every (centroid,
                # row) cell accumulates acc = acc + c_k·a_k in
                # dimension order — the HOF fold's exact IEEE add
                # sequence, vectorized over the whole C×n grid
                # instead of C separate per-centroid passes; tmp is
                # preallocated and ops run in-place (alloc churn at
                # this size is measurable)
                acc = np.zeros((len(cents), n))
                tmp = np.empty_like(acc)
                for k in range(dim):
                    np.multiply(
                        CV[:, k][:, None], A[:, k][None, :], out=tmp
                    )
                    np.add(acc, tmp, out=acc)
                denom = cnorms[:, None] * na[None, :]
                valid = denom != 0.0
                cos = np.where(valid, acc / np.where(valid, denom, 1.0), -np.inf)
                best = cos.max(axis=0)
                keep = valid & (cos >= best[None, :] - 2e-6)
                jj, ii = np.nonzero(keep)
                out_id = [int(ids[i]) for i in ii]
                out_cent = [int(cent_ids[j]) for j in jj]
                out_cos: list = [float(cos[j, i]) for j, i in zip(jj, ii)]
                out_vec = [vecs[i] for i in ii]
                dead = np.nonzero(~valid.any(axis=0))[0]
                for i in dead:
                    out_id.append(int(ids[i]))
                    out_cent.append(min_cent)
                    out_cos.append(None)
                    out_vec.append(vecs[i])
                yield pd.DataFrame(
                    {
                        "vec_id": pd.Series(out_id, dtype="int64"),
                        "cent_id": pd.Series(out_cent, dtype="int64"),
                        "ccos": pd.Series(out_cos, dtype="object"),
                        "vec": pd.Series(out_vec, dtype="object"),
                    }
                )

    src = e.select("vec_id", "vec")
    # the scorer is CPU-bound per row; a large corpus read from few
    # parquet splits (1M × 64 dims ≈ 2 files at 128 MB) would pin the
    # whole assignment on 2 cores — spread it to the session's
    # parallelism first (one narrow pass; at real cluster scale the
    # scan already has enough splits and this is a no-op)
    par = e.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    scored = src.mapInPandas(
        assign,
        "vec_id BIGINT, cent_id BIGINT, ccos DOUBLE, vec ARRAY<DOUBLE>",
    )
    best = (
        scored.withColumn("ccos6", F.round(F.col("ccos"), 6))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ccos6").alias("ccos"),
                    (-F.col("cent_id")).alias("neg_cent"),
                    F.col("vec").alias("v"),
                )
            ).alias("b")
        )
    )
    return best.select(
        "vec_id",
        (-F.col("b.neg_cent")).alias("cent_id"),
        F.col("b.v").alias("vec"),
    )


def _train_centroids(
    e: DataFrame, n_centroids: int, n_corpus: int
) -> list:
    """K-means codebook training; returns the K collected
    ``(cent_id, cvec)`` rows. Init = first K vectors, then
    ``IVF_ITERS`` Lloyd rounds of (assign by cosine →
    arithmetic-mean update).

    Each round is: broadcast-join assignment (corpus never shuffles
    for scoring), then a per-dimension aggregate. The mean is computed
    from **exact integer micro-unit sums** — SUM(BIGINT) is
    order-independent where SUM(DOUBLE) is not — so the trained
    centroids are the same doubles in Spark and the DuckDB oracle
    replay. At corpus scale this is the standard k-means-on-a-sample
    pattern: train on a sampled fraction, then assign everything."""
    # Compact the training sample: it is a small fraction of the
    # corpus, so leaving it spread over full-scan partitioning makes
    # every round pay scan-width task overhead for near-empty
    # partitions. On a cluster, size the partition count to
    # sample_rows / desired_rows_per_partition.
    pm = ivf_train_permille(n_corpus, n_centroids)
    keep = (
        (F.col("vec_id") % TRAIN_MOD) < TRAIN_KEEP
        if pm is None
        else (F.col("vec_id") % 1000) < pm
    )
    train = e.filter(keep).select("vec_id", "vec").coalesce(8)
    rows = [
        (r.vec_id, r.vec)
        for r in e.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", "vec")
        .collect()
    ]
    for _ in range(IVF_ITERS):
        assign = _nearest(train, rows)
        quant = assign.select(
            "cent_id",
            F.posexplode(
                F.transform(
                    "vec",
                    lambda x: F.round(x * F.expr(QUANT_SCALE)).cast("bigint"),
                )
            ).alias("d", "q"),
        )
        sums = quant.groupBy("cent_id", "d").agg(
            F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
        )
        updated = sums.groupBy("cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "s", "n"))),
                lambda x: (x["s"].cast("double") / x["n"])
                / F.expr(QUANT_SCALE),
            ).alias("cvec")
        )
        # collect the K centroids (tiny) and restart the lineage:
        # without this, round N's plan embeds rounds 1..N-1 and
        # optimizer time dominates. Driver roundtrip of K×dim doubles
        # is the standard k-means broadcast step (MLlib does the
        # same); Python floats are IEEE doubles, so values are exact.
        rows = [(r.cent_id, r.cvec) for r in updated.collect()]
    return rows


IVF_CODEBOOK_ARTIFACT = "ivf_codebook"


def _artifact_name(base: str, sf_dir: str) -> str:
    """Per-corpus artifact subdirectory (e.g. ``ivf_codebook/sf0.01``)
    so codebooks for different sf_dirs coexist instead of overwriting
    each other; the full-path tag check still guards collisions."""
    return f"{base}/{corpus_slug(sf_dir)}"


def _codebook_rows(spark: SparkSession, sf_dir: str, e: DataFrame) -> list:
    """Trained centroid rows ``[(cent_id, cvec)]`` — the collected K×dim
    centroid doubles, a plain Python list with no pinned checkpoint
    blocks — kept per (application, sf_dir) by ``session_value`` AND
    persisted as a warehouse artifact (``persisted_table``): the first
    session ever to need it trains and saves; every later session —
    including a COLD one — reads the K-row parquet back instead of
    paying the Lloyd rounds. Training is deterministic (exact integer
    micro-unit sums), so the loaded codebook is bit-identical to a
    retrain and oracle parity is unaffected.  Tag = sf_dir
    (immutable-input assumption, see ``sources/warehouse.py``)."""

    def build() -> list:
        # K self-derives from the corpus count (ivf_n_centroids) and
        # versions the artifact path, so codebooks built under a
        # different dial value can never be read back by mistake
        n = e.count()
        k = ivf_n_centroids(n)
        stored = persisted_table(
            spark,
            _artifact_name(f"{IVF_CODEBOOK_ARTIFACT}/k{k}", sf_dir),
            sf_dir,
            lambda: spark.createDataFrame(
                _train_centroids(e, k, n), "cent_id BIGINT, cvec ARRAY<DOUBLE>"
            ),
        )
        return [(r.cent_id, r.cvec) for r in stored.collect()]

    return session_value(spark, "ivf_codebook", sf_dir, build)


def _codebook(spark: SparkSession, sf_dir: str, e: DataFrame) -> DataFrame:
    """The trained centroid set of :func:`_codebook_rows`."""
    return spark.createDataFrame(
        _codebook_rows(spark, sf_dir, e), "cent_id BIGINT, cvec ARRAY<DOUBLE>"
    )


IVF_POSTINGS_ARTIFACT = "ivf_postings"


def _assignments(spark: SparkSession, sf_dir: str, e: DataFrame) -> DataFrame:
    """The IVF posting lists, persisted like the codebook (round-5):
    the first session ever to need them pays the full-corpus assign
    pass ONCE and writes the (vec_id, vec, cent_id) table as parquet
    PARTITIONED BY cent_id — each centroid's inverted list is its own
    directory, so a probed search can prune to the ``nprobe``
    touched clusters at the FILE level (partition pruning / DPP), the
    layout a deployed IVF index stores.  A torn write cannot be
    trusted: the artifact's stamp is written strictly AFTER the
    postings, and its absence/mismatch forces a rebuild.
    Deterministic assignment (exact integer centroid training +
    rounded cosine) keeps the loaded postings bit-identical to a
    recompute, so oracle parity is unaffected."""
    # postings version-stamped by the codebook size, read from the
    # driver-side codebook rows — no Spark job
    rows = _codebook_rows(spark, sf_dir, e)
    return persisted_table(
        spark,
        _artifact_name(f"{IVF_POSTINGS_ARTIFACT}/k{len(rows)}", sf_dir),
        sf_dir,
        lambda: _nearest(e, rows),
        partition_by=["cent_id"],
    ).select("vec_id", "cent_id", "vec")


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = 1
) -> DataFrame:
    """IVF-pruned top-k: search the query's ``nprobe`` best centroid
    clusters of a k-means-trained codebook. Trades recall for a
    ~nprobe/K candidate cut — the scale path when the corpus is
    billions of vectors."""
    e = _emb(spark, sf_dir)
    assign = _assignments(spark, sf_dir, e)
    # score only the query vectors against the codebook — per-vector
    # assignment is independent, so filtering before _nearest gives
    # the same rows as filtering after, minus a full-corpus pass
    q = _nearest(
        e.filter(F.col("vec_id") < N_QUERIES),
        _codebook_rows(spark, sf_dir, e),
        nprobe=nprobe,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("cent_id"),
        F.col("vec").alias("qvec"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id")
    )
    return (
        assign.select(
            "cent_id", F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec")
        )
        .join(F.broadcast(q), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos6", F.round(cosine(F.col("qvec"), F.col("cvec")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos6"), 4).alias("cosine"),
            "rank",
        )
        .repartition(1)
        .orderBy("query_id", "rank")
    )


def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized brute-force top-k: rank by the cosine of the INT8
    codes (:func:`embedding_quantize`'s representation) instead of the
    float vectors — the SQ8 search mode of a vector store (4× less
    memory traffic, integer SIMD dot products), completing the search
    spectrum next to exact (:func:`ann_cosine_topk`), LSH-bucketed and
    IVF-pruned.

    The per-vector scales CANCEL in the cosine, so the score is
    ``idot / sqrt(ssq_q · ssq_c)`` where all three terms are EXACT
    integer sums of code products (|code| ≤ 127, 64 dims → every sum
    and product sits far inside 2^53): the only float ops are one
    multiply, one sqrt, one divide on exact integers — bit-identical
    across engines, no reduction-order sensitivity anywhere. Zero
    vectors (ssq = 0) are excluded by an identical guard.

    Scale shape: identical to the exact brute force — queries
    broadcast, the corpus streams — but the scan reads int8 codes,
    which is the point at 100 TB of embeddings. Scoring runs in an
    Arrow-batched numpy kernel: EVERY accumulated term here is an
    exact int64 (codes ≤ 127, 64 dims), and integer addition is
    order-independent, so — unlike the float cosine — the dot can use
    a plain integer matmul with no IEEE-order ceremony; the float
    tail (one multiply, sqrt, divide on exact integers ≤ ~1.1e12,
    all < 2^53 so the int64-product-then-cast and the
    double-product paths are the same exact double) is the same
    elementwise op sequence as the SQL expression. Per-batch margin
    pruning (raw ≥ kth-best − 2e-6) is exact under the 6-decimal
    ranking by the :func:`_arrow_scored_candidates` proof; rounding
    and ranking stay JVM-side."""
    import numpy as np
    import pandas as pd

    e = _emb(spark, sf_dir)

    def _encode(mat):
        """Replicates the SQL encode bitwise: scale = max|x|/127;
        code = floor(x/scale + 0.5) (0 where scale = 0); ssq exact."""
        scale = np.max(np.abs(mat), axis=1) / 127.0
        safe = np.where(scale == 0.0, 1.0, scale)
        codes = np.floor(mat / safe[:, None] + 0.5).astype(np.int64)
        codes[scale == 0.0] = 0
        ssq = (codes * codes).sum(axis=1)
        return codes, ssq

    # the query vectors are a driver value, collected once per session
    q_rows = session_value(
        spark,
        "ann_query_vectors",
        sf_dir,
        e.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "vec").collect,
    )
    if not q_rows:
        # empty/tiny corpus: no query vectors — the SQL pipeline this
        # kernel replaced returned an empty result, not a vstack error
        return spark.createDataFrame(
            [],
            "query_id BIGINT, neighbor_id BIGINT, "
            "qcosine DOUBLE, rank INT",
        )
    qmat = np.vstack(
        [np.asarray(r["vec"], dtype=np.float64) for r in q_rows]
    )
    qcodes, qssq = _encode(qmat)
    qids = np.array([int(r["vec_id"]) for r in q_rows], dtype=np.int64)
    live = qssq > 0  # the coded CTE's ssq > 0 filter, query side
    qcodes, qssq, qids = qcodes[live], qssq[live], qids[live]
    qssq_f = qssq.astype(np.float64)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            A = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            codes, ssq = _encode(A)
            keep_c = ssq > 0
            ids, codes, ssq = ids[keep_c], codes[keep_c], ssq[keep_c]
            if len(ids) == 0:
                continue
            idot = codes @ qcodes.T  # exact int64, order-free
            denom = np.sqrt(
                ssq[:, None].astype(np.float64) * qssq_f[None, :]
            )
            qcos = idot / denom
            out_q: list = []
            out_n: list = []
            out_c: list = []
            for j in range(len(qids)):
                qid = int(qids[j])
                mask = ids != qid
                col = qcos[mask, j]
                nid = ids[mask]
                if len(col) > TOP_K:
                    kth = np.partition(col, len(col) - TOP_K)[
                        len(col) - TOP_K
                    ]
                    m2 = col >= kth - 2e-6
                    col, nid = col[m2], nid[m2]
                out_q.extend([qid] * len(nid))
                out_n.extend(int(i) for i in nid)
                out_c.extend(float(x) for x in col)
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "neighbor_id": pd.Series(out_n, dtype="int64"),
                    "qcos": pd.Series(out_c, dtype="float64"),
                }
            )

    src = e.select("vec_id", "vec")
    par = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    scored = src.mapInPandas(
        score, "query_id BIGINT, neighbor_id BIGINT, qcos DOUBLE"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("qcos6", F.round(F.col("qcos"), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("qcos6"), 4).alias("qcosine"),
            "rank",
        )
        .repartition(1)
        .orderBy("query_id", "rank")
    )


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the 4× storage-compression pass an embedding store runs before
    indexing (codes + one f32 scale per vector reconstruct to
    ~1e-3 L1 error).

    Per-vector scale = max|x|/127; codes = floor(x/scale + 0.5)
    (floor is exact on doubles, unlike decimal ROUND which diverges
    across engines on boundary values). An all-zero vector yields
    scale = 0; its codes are pinned to 0 by an identical CASE guard
    in both engines (otherwise Spark's non-ANSI cast of NaN and
    DuckDB's CAST both misbehave — differently). A single narrow
    projection —
    no shuffle at all, the scan streams through transform/aggregate
    lambdas — so it scales embarrassingly. Reported reconstruction
    error is the per-vector mean |x - code·scale|, a sequential
    left-fold identical to the oracle's list_sum."""
    e = _emb(spark, sf_dir)
    return (
        e.withColumn(
            "scale",
            F.expr("array_max(transform(vec, x -> abs(x)))") / F.lit(127.0),
        )
        .withColumn(
            "code",
            F.expr(
                "transform(vec, x -> CASE WHEN scale = 0 THEN 0"
                " ELSE CAST(floor(x / scale + 0.5) AS INT) END)"
            ),
        )
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            F.expr("array_max(code)").alias("max_code"),
            F.expr("array_min(code)").alias("min_code"),
            F.round(
                F.expr(
                    "aggregate(zip_with(vec, code, (x, c) -> abs(x - c * scale)),"
                    " 0D, (a, x) -> a + x) / size(vec)"
                ),
                6,
            ).alias("mean_abs_err"),
        )
        .orderBy("vec_id")
    )


def embedding_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose max cosine against the benchmark/eval set (the
    ``vec_id < N_QUERIES`` vectors, standing in for an eval suite's
    embeddings) reaches ``NEARDUP_COSINE`` — the semantic complement
    of :func:`dedup.benchmark_decontaminate`'s n-gram overlap pass
    (paraphrased contamination has no shared n-grams but stays close
    in embedding space).

    Scale shape: the benchmark set is eval-suite-sized and
    broadcasts; every corpus partition scores locally against it
    (same zero-corpus-movement layout as :func:`ann_cosine_topk`),
    then one per-vector MAX aggregate — map-side combinable, so the
    shuffle carries one row per corpus vector. Linear in the corpus,
    no pair materialization. Norms fold once per ROW below the join
    (``cosine_with_norms`` — the interpreted-HOF pair loop folds one
    array pass per pair instead of three, bit-identical denominator).
    Cosines are rounded to 6 decimals before
    the max (the ANN family's fixed-precision boundary); the reported
    value and the threshold decision both use the 4-dp rounding, so
    the row is self-consistent at the boundary."""
    e = _emb(spark, sf_dir)
    bench = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("bench_id"),
        F.col("vec").alias("bvec"),
        norm(F.col("vec")).alias("nb"),
    )
    corpus = e.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", "vec", norm(F.col("vec")).alias("na")
    )
    return (
        corpus.crossJoin(F.broadcast(bench))
        .withColumn(
            "cos6",
            F.round(
                cosine_with_norms(
                    F.col("vec"), F.col("bvec"), F.col("na"), F.col("nb")
                ),
                6,
            ),
        )
        .groupBy("vec_id")
        .agg(F.round(F.max("cos6"), 4).alias("max_benchmark_cos"))
        .select(
            "vec_id",
            "max_benchmark_cos",
            # flag derives from the SAME 4-dp value the row reports, so
            # the output can never read "cosine above threshold, not
            # contaminated" at the rounding boundary (and it mirrors
            # the neardup confirm stage's ROUND(...,4) >= threshold)
            (F.col("max_benchmark_cos") >= NEARDUP_COSINE)
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("vec_id")
    )


def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label centroid vectors —
    the class-confusability matrix of a labeled embedding set (two
    labels whose centroids sit at cosine ≈ 1 are candidates for
    merging; a near-zero pair separates cleanly).

    Scale shape: the corpus collapses to |labels|·dim centroid rows
    in ONE map-side-combinable hash aggregate (posexplode → sum), and
    everything after runs on that tiny aggregate — the dim-keyed
    self-join produces |labels|²·dim rows of *centroid* data, never
    touching the corpus again. Component sums use the exact integer
    micro-unit trick (round(x·1e6) as BIGINT, same as the centroid
    table and the IVF trainer) so both engines build bit-identical
    centroids; the final cosine is rounded to 4.
    """
    e = _emb(spark, sf_dir)
    cent = (
        e.select("label", F.posexplode("vec").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(F.round(F.col("x") * 1e6).cast("bigint"))
                / (F.count(F.lit(1)) * F.lit(1e6))
            ).alias("mean")
        )
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.col("mean") * F.col("mean")).alias("sq")
    )
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(F.sum(F.col("a.mean") * F.col("b.mean")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("sq").alias("sq_a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("sq").alias("sq_b"))
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
            F.round(
                F.col("dot") / F.sqrt(F.col("sq_a") * F.col("sq_b")), 4
            ).alias("cosine"),
        )
        .repartition(1)
        .orderBy("label_a", "label_b")
    )


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions —
    the moment matrix PCA/whitening starts from (``cov(i,j) =
    E[x_i·x_j] − E[x_i]·E[x_j]``), computed as one pass of exact
    integer micro-unit moments; the dim·(dim+1)/2-row result is a
    persisted per-corpus artifact (``embedding_effective_rank`` reads
    it too and skips the posexplode self-join rebuild).

    Scale shape: posexplode → co-partitioned self-equi-join on
    ``vec_id`` (both sides are the same exploded projection, so AQE
    plans one shuffle) → hash aggregate onto dim·(dim+1)/2 cells with
    map-side partial combine — the shuffle output is the tiny moment
    matrix, never the corpus. Products of micro-units stay within
    BIGINT headroom (|x|≈1 → 1e12 per term, ~9e18 capacity ≈ 9M
    vectors per partial; at larger corpora drop to 1e4 units). The
    final covariance divides exact integer sums, rounded to 8.
    """
    cells = covariance_cells(spark, sf_dir)
    return cells.repartition(1).orderBy("dim_i", "dim_j")


def covariance_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unsorted rows of :func:`embedding_covariance`, persisted per
    corpus (the frame composers such as ``embedding_effective_rank``
    aggregate)."""
    return persisted_table(
        spark,
        f"embedding_covariance/{corpus_slug(sf_dir)}",
        sf_dir,
        lambda: _covariance(spark, sf_dir),
    )


def _covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    flat = e.select(
        "vec_id", F.posexplode("vec").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x") * 1e6).cast("bigint").alias("xm"),
    )
    a, b = flat.alias("a"), flat.alias("b")
    moments = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.dim") <= F.col("b.dim")),
        )
        .groupBy(
            F.col("a.dim").alias("dim_i"), F.col("b.dim").alias("dim_j")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("a.xm") * F.col("b.xm")).alias("s_ij"),
            F.sum(F.col("a.xm")).alias("s_i"),
            F.sum(F.col("b.xm")).alias("s_j"),
        )
    )
    return moments.select(
        "dim_i",
        "dim_j",
        F.round(
            (
                F.col("s_ij") / F.col("n")
                - (F.col("s_i") / F.col("n")) * (F.col("s_j") / F.col("n"))
            )
            / F.lit(1e12),
            8,
        ).alias("cov"),
    )


QUERIES = {
    "neardup_embedding_cosine": neardup_embedding_cosine,
    "label_centroid_similarity": label_centroid_similarity,
    "embedding_covariance": embedding_covariance,
    "embedding_decontaminate": embedding_decontaminate,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_int8_topk": ann_int8_topk,
    "embedding_quantize": embedding_quantize,
    "knn_label_vote": knn_label_vote,
    "embedding_centroid_by_label": embedding_centroid_by_label,
}

_cos_ab = _COS_SQL.format(a="a.embedding", b="b.embedding")
_cos_qc = _COS_SQL.format(a="q.embedding", b="c.embedding")

#: Shared SQL replay of the sign-random-projection pipeline
#: (``_band_signatures`` + the ``lsh_band_bits`` dial): hyperplanes
#: re-derived from the same md5 primitive, embeddings quantized to
#: integer micro-units before projecting so the sign bits are exact
#: on both engines. Used by the near-dup and LSH-ANN oracles.
_LSH_SIGS_CTES = f"""
        params AS (
            SELECT GREATEST({LSH_MIN_BAND_BITS}, LEAST({LSH_MAX_BAND_BITS},
                       CAST(ceil(log2(greatest(1.0,
                           COUNT(*) * 1.0 / {LSH_TARGET_BUCKET})))
                           AS INTEGER))) AS bits
            FROM embeddings
        ),
        hyper AS (
            SELECT h,
                   list_transform(range({EMB_DIM}), d ->
                       CASE WHEN substr(md5(CAST(h AS STRING) || '|'
                                         || CAST(d AS STRING)), 1, 1) >= '8'
                            THEN 1e0 ELSE -1e0 END) AS hvec
            FROM (SELECT unnest(range(
                     {LSH_BANDS} * (SELECT bits FROM params))) AS h)
        ),
        sigs AS (
            SELECT vec_id, h // p.bits AS band,
                   CAST(SUM(
                       (CASE WHEN list_dot_product(
                                list_transform(embedding::DOUBLE[],
                                    x -> floor(x * 1e6 + 0.5)), hvec)
                                  >= 0 THEN 1 ELSE 0 END)
                       * (1 << (h % p.bits))
                   ) AS BIGINT) AS sig
            FROM embeddings CROSS JOIN hyper CROSS JOIN params p
            GROUP BY vec_id, (h // p.bits)
        )"""

ORACLE_SQL = {
    "embedding_covariance": """
        WITH flat AS (
            SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim,
                   CAST(ROUND(embedding[CAST(i AS INTEGER)]::DOUBLE
                              * 1e6) AS BIGINT) AS xm
            FROM embeddings,
                 UNNEST(generate_series(1, len(embedding))) AS t(i)
        ),
        moments AS (
            SELECT a.dim AS dim_i, b.dim AS dim_j,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(a.xm * b.xm) AS s_ij,
                   SUM(a.xm) AS s_i,
                   SUM(b.xm) AS s_j
            FROM flat a
            JOIN flat b ON a.vec_id = b.vec_id AND a.dim <= b.dim
            GROUP BY a.dim, b.dim
        )
        SELECT dim_i, dim_j,
               ROUND((CAST(s_ij AS DOUBLE) / n
                      - (CAST(s_i AS DOUBLE) / n)
                        * (CAST(s_j AS DOUBLE) / n)) / 1e12, 8) AS cov
        FROM moments
        ORDER BY dim_i, dim_j
    """,
    "label_centroid_similarity": """
        WITH cent AS (
            SELECT label, CAST(i - 1 AS INTEGER) AS dim,
                   SUM(CAST(ROUND(embedding[CAST(i AS INTEGER)]::DOUBLE
                                  * 1e6) AS BIGINT))
                       / (COUNT(*) * 1e6) AS mean
            FROM embeddings,
                 UNNEST(generate_series(1, len(embedding))) AS t(i)
            GROUP BY label, i
        ),
        norms AS (
            SELECT label, SUM(mean * mean) AS sq FROM cent GROUP BY label
        ),
        dots AS (
            SELECT a.label AS label_a, b.label AS label_b,
                   SUM(a.mean * b.mean) AS dot
            FROM cent a
            JOIN cent b ON a.dim = b.dim AND a.label < b.label
            GROUP BY a.label, b.label
        )
        SELECT CAST(label_a AS INTEGER) AS label_a,
               CAST(label_b AS INTEGER) AS label_b,
               ROUND(dot / sqrt(na.sq * nb.sq), 4) AS cosine
        FROM dots
        JOIN norms na ON na.label = dots.label_a
        JOIN norms nb ON nb.label = dots.label_b
        ORDER BY label_a, label_b
    """,
    "embedding_decontaminate": f"""
        WITH s AS (
            SELECT c.vec_id,
                   ROUND({_COS_SQL.format(a="c.embedding", b="b.embedding")},
                         6) AS cos6
            FROM embeddings c
            JOIN embeddings b ON b.vec_id < {N_QUERIES}
            WHERE c.vec_id >= {N_QUERIES}
        ),
        m AS (
            SELECT vec_id, ROUND(MAX(cos6), 4) AS max_benchmark_cos
            FROM s GROUP BY vec_id
        )
        SELECT vec_id,
               max_benchmark_cos,
               CAST(max_benchmark_cos >= {NEARDUP_COSINE} AS INTEGER)
                   AS contaminated
        FROM m
        ORDER BY vec_id
    """,
    # Same LSH pipeline, hyperplanes re-derived in SQL from the same
    # md5 primitive; embeddings are quantized to integer micro-units
    # before projecting, so the ±1-weighted sums are exact integers
    # on both engines and the sign bits agree regardless of reduction
    # order or FMA. The band width replays the lsh_band_bits dial
    # from COUNT(*).
    "neardup_embedding_cosine": f"""
        WITH {_LSH_SIGS_CTES},
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sigs a
            JOIN sigs b ON a.band = b.band AND a.sig = b.sig
                       AND a.vec_id < b.vec_id
        )
        SELECT c.vec_a AS vec_a, c.vec_b AS vec_b,
               ROUND({_cos_ab}, 4) AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.vec_a
        JOIN embeddings b ON b.vec_id = c.vec_b
        WHERE ROUND({_cos_ab}, 4) >= {NEARDUP_COSINE}
        ORDER BY vec_a, vec_b
    """,
    "ann_cosine_topk": f"""
        SELECT query_id, neighbor_id, ROUND(cos6, 4) AS cosine, rank
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({_cos_qc}, 6) AS cos6,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({_cos_qc}, 6) DESC, c.vec_id
                   ) AS rank
            FROM embeddings q
            JOIN embeddings c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        )
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    "ann_lsh_topk": f"""
        WITH {_LSH_SIGS_CTES},
        qprobe AS (
            SELECT s.vec_id AS query_id, s.band,
                   CASE WHEN t.i = 0 THEN s.sig
                        ELSE xor(s.sig, CAST(1 AS BIGINT) << (t.i - 1))
                   END AS sig
            FROM sigs s
            CROSS JOIN params p,
            UNNEST(range(p.bits + 1)) AS t(i)
            WHERE s.vec_id < {N_QUERIES}
        ),
        qcand AS (
            SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
            FROM qprobe q
            JOIN sigs c ON c.band = q.band AND c.sig = q.sig
                       AND c.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, ROUND(cos6, 4) AS cosine, rank
        FROM (
            SELECT k.query_id, k.neighbor_id,
                   ROUND({_cos_qc}, 6) AS cos6,
                   ROW_NUMBER() OVER (
                       PARTITION BY k.query_id
                       ORDER BY ROUND({_cos_qc}, 6) DESC, k.neighbor_id
                   ) AS rank
            FROM qcand k
            JOIN embeddings q ON q.vec_id = k.query_id
            JOIN embeddings c ON c.vec_id = k.neighbor_id
        )
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
    "knn_label_vote": f"""
        WITH topk AS (
            SELECT query_id, neighbor_id, rank
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY ROUND({_cos_qc}, 6) DESC, c.vec_id
                       ) AS rank
                FROM embeddings q
                JOIN embeddings c ON c.vec_id != q.vec_id
                WHERE q.vec_id < {N_QUERIES}
            )
            WHERE rank <= {TOP_K}
        ),
        votes AS (
            SELECT t.query_id, e.label,
                   CAST(COUNT(*) AS BIGINT) AS votes,
                   CAST(MIN(t.rank) AS INTEGER) AS best_rank
            FROM topk t
            JOIN embeddings e ON e.vec_id = t.neighbor_id
            GROUP BY t.query_id, e.label
        )
        SELECT query_id, CAST(label AS INTEGER) AS label, votes, best_rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY votes DESC, best_rank, label
                   ) AS rn
            FROM votes
        )
        WHERE rn = 1
        ORDER BY query_id
    """,
    "embedding_centroid_by_label": """
        SELECT label,
               CAST(i - 1 AS INTEGER) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(CAST(ROUND(embedding[CAST(i AS INTEGER)]::DOUBLE
                                   * 1e6) AS BIGINT)) AS BIGINT)
                   AS sum_micro,
               ROUND(SUM(CAST(ROUND(embedding[CAST(i AS INTEGER)]::DOUBLE
                                    * 1e6) AS BIGINT))
                     / (COUNT(*) * 1e6), 6) AS mean_val
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
        GROUP BY label, i
        ORDER BY label, dim
    """,
    "ann_ivf_topk": None,  # filled in below (generated CTE chain)
}


def _ivf_assign_ctes() -> list[str]:
    """The SQL CTE chain that replays k-means training and ends in
    ``assign`` (vec_id, cent_id, embedding) — the full-corpus
    nearest-centroid assignment. Shared by every oracle that consumes
    the trained IVF index (:func:`_ivf_oracle`,
    :func:`semantic_dedup_prune`, ...): the Lloyd rounds unroll into
    assign_i → integer-sum update → cent_i, mirroring
    :func:`_train_centroids` arithmetic exactly."""
    cos_vc = "list_cosine_similarity(v.embedding::DOUBLE[], c.cvec)"
    tpc = TRAIN_TARGET_PER_CENTROID
    ctes = [
        f"""kdial AS (
            SELECT LEAST({IVF_MAX_CENTROIDS}, GREATEST(
                       {IVF_MIN_CENTROIDS},
                       (CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) // 8) * 8
                   )) AS k,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM embeddings
        )""",
        f"""train AS (
            SELECT e.* FROM embeddings e CROSS JOIN kdial d
            WHERE CASE
                WHEN d.n * 4 <= d.k * {tpc * 5}
                THEN (e.vec_id % {TRAIN_MOD}) < {TRAIN_KEEP}
                ELSE (e.vec_id % 1000)
                     < GREATEST(1, (d.k * {tpc * 1000}) // d.n)
            END
        )""",
        """cent0 AS (
            SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cvec
            FROM embeddings WHERE vec_id < (SELECT k FROM kdial)
        )""",
    ]
    for i in range(1, IVF_ITERS + 1):
        ctes.append(f"""assign{i} AS (
            SELECT vec_id, cent_id, embedding FROM (
                SELECT v.vec_id, c.cent_id, v.embedding,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ROUND({cos_vc}, 6) DESC, c.cent_id
                       ) AS crn
                FROM train v CROSS JOIN cent{i - 1} c
            ) WHERE crn = 1
        )""")
        ctes.append(f"""sums{i} AS (
            SELECT cent_id, d, SUM(q) AS s, COUNT(*) AS n FROM (
                SELECT cent_id,
                       generate_subscripts(embedding, 1) AS d,
                       CAST(ROUND(CAST(unnest(embedding) AS DOUBLE)
                                  * {QUANT_SCALE}) AS BIGINT) AS q
                FROM assign{i}
            ) GROUP BY cent_id, d
        )""")
        ctes.append(f"""cent{i} AS (
            SELECT cent_id,
                   list((CAST(s AS DOUBLE) / n) / {QUANT_SCALE} ORDER BY d)
                       AS cvec
            FROM sums{i} GROUP BY cent_id
        )""")
    ctes.append(f"""assign AS (
        SELECT vec_id, cent_id, embedding FROM (
            SELECT v.vec_id, c.cent_id, v.embedding,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ROUND({cos_vc}, 6) DESC, c.cent_id
                   ) AS crn
            FROM embeddings v CROSS JOIN cent{IVF_ITERS} c
        ) WHERE crn = 1
    )""")
    return ctes


def _ivf_oracle(nprobe: int = 1) -> str:
    """IVF search over the replayed index (:func:`_ivf_assign_ctes`).

    ``nprobe=1`` replays the storage assignment for the query side
    too (``assign`` self-join — the registered ``ann_ivf_topk``
    shape); ``nprobe>1`` widens the QUERY side only, ranking the
    final codebook per query by the same ``ROUND(cos, 6) DESC,
    cent_id`` ordering :func:`_nearest` uses and probing the best
    ``nprobe`` cells — cells are disjoint (corpus assignment stays
    nprobe=1), so no DISTINCT is needed."""
    ctes = _ivf_assign_ctes()
    cos_qc2 = _COS_SQL.format(a="q.embedding", b="c.embedding")
    if nprobe == 1:
        qsrc = "assign"
    else:
        cos_vc = (
            "list_cosine_similarity(v.embedding::DOUBLE[], c.cvec)"
        )
        ctes.append(f"""qprobe AS (
            SELECT vec_id, cent_id, embedding FROM (
                SELECT v.vec_id, c.cent_id, v.embedding,
                       ROW_NUMBER() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ROUND({cos_vc}, 6) DESC, c.cent_id
                       ) AS crn
                FROM embeddings v CROSS JOIN cent{IVF_ITERS} c
                WHERE v.vec_id < {N_QUERIES}
            ) WHERE crn <= {nprobe}
        )""")
        qsrc = "qprobe"
    return f"""
        WITH {", ".join(ctes)}
        SELECT query_id, neighbor_id, ROUND(cos6, 4) AS cosine, rank
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND({cos_qc2}, 6) AS cos6,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ROUND({cos_qc2}, 6) DESC, c.vec_id
                   ) AS rank
            FROM {qsrc} q
            JOIN assign c ON c.cent_id = q.cent_id
                         AND c.vec_id != q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        )
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


ORACLE_SQL["ann_ivf_topk"] = _ivf_oracle()

ORACLE_SQL["embedding_quantize"] = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM base
    ),
    coded AS (
        SELECT vec_id, v, scale,
               list_transform(v,
                   x -> CASE WHEN scale = 0 THEN 0
                        ELSE CAST(floor(x / scale + 0.5) AS INTEGER)
                        END) AS code
        FROM scaled
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           list_max(code) AS max_code,
           list_min(code) AS min_code,
           ROUND(list_sum(list_transform(range(1, len(v) + 1),
                     i -> abs(v[i] - code[i] * scale))) / len(v), 6)
               AS mean_abs_err
    FROM coded
    ORDER BY vec_id
"""

ORACLE_SQL["ann_int8_topk"] = f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM base
    ),
    coded AS (
        SELECT vec_id,
               list_transform(v,
                   x -> CASE WHEN scale = 0 THEN 0
                        ELSE CAST(floor(x / scale + 0.5) AS INTEGER)
                        END) AS code
        FROM scaled
    ),
    ssqd AS (
        SELECT vec_id, code,
               CAST(list_sum(list_transform(code,
                   c -> CAST(c AS BIGINT) * c)) AS BIGINT) AS ssq
        FROM coded
    ),
    ok AS (SELECT * FROM ssqd WHERE ssq > 0),
    scoredq AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROUND(CAST(list_sum(list_transform(
                         range(1, len(q.code) + 1),
                         i -> CAST(q.code[i] AS BIGINT) * c.code[i]))
                     AS DOUBLE)
                     / sqrt(CAST(q.ssq * c.ssq AS DOUBLE)), 6) AS qcos6
        FROM ok q
        JOIN ok c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, ROUND(qcos6, 4) AS qcosine, rank
    FROM (
        SELECT query_id, neighbor_id, qcos6,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY qcos6 DESC, neighbor_id
               ) AS rank
        FROM scoredq
    )
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""


#: Product quantization: EMB_DIM is split into PQ_M subspaces of
#: PQ_SUBDIM dims; each subspace gets its own PQ_K-code codebook
#: trained with PQ_ITERS grouped-Lloyd iterations on the same
#: deterministic sample as IVF. 8×16 codes compress a 64-dim f32
#: vector to 8 bytes (32×), the memory ratio that makes
#: billion-vector search fit a cluster's RAM.
PQ_M = 8
PQ_SUBDIM = EMB_DIM // PQ_M
PQ_K = 16
PQ_ITERS = 3
#: ADC shortlist for the exact re-rank pass: PQ's 4-bit codes are a
#: coarse sieve (measured recall@5 of the raw ADC ranking: ~0.3 on
#: this corpus — near-uniform synthetic cosines sit inside the
#: quantization error), so production PQ search always re-ranks a
#: shortlist with full vectors. The shortlist size is a SELF-EXECUTING
#: dial like the LSH band width: R = max(MIN, n / DIV) keeps the
#: shortlist a fixed ~5% of the corpus (the recall/IO trade), and the
#: oracle rederives it from COUNT(*). Measured recall@5 of
#: shortlist+rerank: 0.6–0.8 across the SFs — bounded by the
#: synthetic corpus' near-uniform cosine distribution (PQ's sieve
#: exploits cluster structure real embedding corpora have);
#: PQ_RERANK_DIV is the dial to turn when recall matters more
#: than scan IO.
PQ_RERANK_MIN = 50
PQ_RERANK_DIV = 20


def pq_rerank_size(n_vectors: int) -> int:
    return max(PQ_RERANK_MIN, n_vectors // PQ_RERANK_DIV)

PQ_CODEBOOK_ARTIFACT = "pq_codebook"


def _subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, m, sv) — every vector L2-NORMALIZED, then split into
    PQ_M subspace slices (one narrow explode, PQ_M rows per vector).

    Normalizing first makes PQ's L2² monotone in cosine (‖a−b‖² =
    2−2cos on the unit sphere), so the ADC ranking targets the same
    neighbors as the exact cosine baseline. The norm comes from an
    EXACT integer sum of squared micro-units (order-independent),
    then one sqrt+divide — deterministic doubles in both engines;
    zero vectors are excluded by the same guard everywhere.

    Round-9 Arrow kernel: the HOF form (aggregate-fold ssq +
    transform normalize + 8 struct slices, interpreted per element)
    cost ~2.4 ms/vector and dominated the PQ index build (77 s of a
    168 s build at 32k vectors — PERF.md round 9). The kernel
    replays it exactly: ssq is the same order-free integer µ²-unit
    sum, each normalized component is the same two-op IEEE sequence
    ``(x·1e6)/sqrt(ssq)`` (np.sqrt and Math.sqrt are both correctly
    rounded), and the slices are pure reshapes. Pinned bit-identical
    to the HOF plan by tests/test_round9_ops.py."""
    import numpy as np
    import pandas as pd

    def split(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            A = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            q = _round_e6_i64(A)
            ssq = (q * q).sum(axis=1)
            keep = ssq > 0
            ids, A, ssq = ids[keep], A[keep], ssq[keep]
            if len(ids) == 0:
                continue
            nvec = (A * 1e6) / np.sqrt(ssq.astype(np.float64))[:, None]
            out_id: list = []
            out_m: list = []
            out_sv: list = []
            for m in range(PQ_M):
                sl = nvec[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                out_id.extend(int(i) for i in ids)
                out_m.extend([m] * len(ids))
                out_sv.extend(list(row) for row in sl)
            yield pd.DataFrame(
                {
                    "vec_id": pd.Series(out_id, dtype="int64"),
                    "m": pd.Series(out_m, dtype="int32"),
                    "sv": pd.Series(out_sv, dtype="object"),
                }
            )

    return e.select("vec_id", "vec").mapInPandas(
        split, "vec_id BIGINT, m INT, sv ARRAY<DOUBLE>"
    )


def _round_e6_i64(arr):
    """HALF-UP round of ``arr * 1e6`` to int64 — numpy replay of the
    engines' ``CAST(round(x * 1e6) AS BIGINT)`` (away-from-zero at
    the half, unlike numpy's banker's ``np.round``). Pinned
    bit-identical to the HOF form on real data by
    tests/test_round9_ops.py.

    Implemented on the EXACT fractional part (round-9 ADVICE): the
    old ``floor(v + 0.5)`` emulation can carry v over an integer
    boundary when v sits within half an ulp below x.5 (the
    JDK-8010430 class of fp-addition bugs), diverging from the
    engines' round-on-the-exact-binary-value. ``v - floor(v)`` (and
    the mirrored ``ceil(v) - v``) is exact in IEEE-754 at these
    magnitudes, so ``frac >= 0.5`` decides the half exactly as
    BigDecimal HALF_UP does on the double's full decimal expansion."""
    import numpy as np

    v = arr * 1e6
    fl = np.floor(v)
    cl = np.ceil(v)
    pos = fl + (v - fl >= 0.5)
    neg = cl - (cl - v >= 0.5)
    return np.where(v >= 0, pos, neg).astype(np.int64)


def _pq_assign(sub: DataFrame, cb_rows: list) -> DataFrame:
    """Nearest codebook entry per (vec_id, m) by L2² — computed in
    EXACT integer micro-units (both the subvector and the centroid
    are quantized with the same ROUND before differencing), so the
    distance is an integer and the argmin (with cent_id tiebreak)
    cannot diverge between engines at float ulps.

    Round-9 Arrow kernel: the prior form broadcast-joined every
    (vec_id, m) row against all K centroids and ran a row_number
    window over the n·M·K expansion — an interpreted HOF per row
    plus a corpus-scale shuffle, which dominated the PQ build
    (171 s at 32k vectors, PERF.md round 9). The kernel holds the
    K×M codebook in the task closure (driver-sized by contract),
    computes the same integer µ²-unit distances vectorized (integer
    addition is order-free, so the HOF fold and the numpy sum are
    the same exact value), and takes the first minimum over
    centroids sorted by cent_id — exactly the (dist, cent_id)
    tiebreak. No join, no window, no shuffle: one narrow Arrow map."""
    import numpy as np
    import pandas as pd

    by_m: dict = {}
    for m, cid, cvec in cb_rows:
        by_m.setdefault(int(m), []).append((int(cid), list(cvec)))
    cents = {}
    for m, lst in by_m.items():
        lst.sort()  # cent_id ascending → argmin's first-min tiebreak
        ids = np.array([c for c, _ in lst], dtype=np.int64)
        C = _round_e6_i64(np.array([v for _, v in lst], dtype=np.float64))
        cents[m] = (ids, C)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_vid: list = []
            out_m: list = []
            out_cid: list = []
            out_d: list = []
            for m, g in pdf.groupby("m"):
                ids, C = cents[int(m)]
                Q = _round_e6_i64(
                    np.vstack(
                        [
                            np.asarray(v, dtype=np.float64)
                            for v in g["sv"]
                        ]
                    )
                )
                diff = Q[:, None, :] - C[None, :, :]
                d = np.einsum("nkd,nkd->nk", diff, diff)
                j = d.argmin(axis=1)  # first min == lowest cent_id
                out_vid.extend(int(x) for x in g["vec_id"])
                out_m.extend([int(m)] * len(g))
                out_cid.extend(int(x) for x in ids[j])
                out_d.extend(int(x) for x in d[np.arange(len(j)), j])
            yield pd.DataFrame(
                {
                    "vec_id": pd.Series(out_vid, dtype="int64"),
                    "m": pd.Series(out_m, dtype="int32"),
                    "cent_id": pd.Series(out_cid, dtype="int64"),
                    "dist": pd.Series(out_d, dtype="int64"),
                }
            )

    return sub.mapInPandas(
        assign, "vec_id BIGINT, m INT, cent_id BIGINT, dist BIGINT"
    )


def _train_pq(e: DataFrame) -> list:
    """Grouped Lloyd: all PQ_M codebooks train simultaneously (the
    subspace index is just another group key). Means accumulate exact
    integer micro-units, so the trained codebooks are the same doubles
    in Spark and the oracle replay; the K×M×SUBDIM codebook collects
    to the driver each round (1 KB) — the standard k-means broadcast
    step.

    The training sample and the ``vec_id < PQ_K`` init rows (some of
    which fall outside the sample) are filtered from the embeddings
    ``e`` before the :func:`_subvectors` kernel, which no filter can
    cross: each Lloyd round runs the kernel over the sample only. The
    kernel maps each vector on its own, so filtering first changes no
    row of its output."""
    train = _subvectors(e.filter((F.col("vec_id") % TRAIN_MOD) < TRAIN_KEEP))
    cb_rows = [
        (r.m, r.vec_id, r.sv)
        for r in _subvectors(e.filter(F.col("vec_id") < PQ_K)).collect()
    ]
    for _ in range(PQ_ITERS):
        asg = _pq_assign(train, cb_rows)
        quant = (
            asg.join(train, ["vec_id", "m"])
            .select(
                "m",
                "cent_id",
                F.posexplode(
                    F.transform(
                        "sv",
                        lambda x: F.round(x * F.expr(QUANT_SCALE)).cast(
                            "bigint"
                        ),
                    )
                ).alias("d", "q"),
            )
        )
        sums = quant.groupBy("m", "cent_id", "d").agg(
            F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
        )
        updated = sums.groupBy("m", "cent_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "s", "n"))),
                lambda x: (x["s"].cast("double") / x["n"])
                / F.expr(QUANT_SCALE),
            ).alias("cvec")
        )
        cb_rows = [(r.m, r.cent_id, r.cvec) for r in updated.collect()]
    return cb_rows


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-k with asymmetric distance (ADC) —
    the codebook compression tier of the search spectrum (exact /
    LSH / IVF / SQ8 / PQ): every vector is stored as PQ_M 4-bit codes
    and scored against a query through a per-query lookup table, so
    the scan touches 8 bytes per vector instead of 256.

    Scale shape: training = grouped k-means on a deterministic sample
    (one shuffle per Lloyd round, codebook collects at O(K·M·dim));
    encoding = one broadcast-join argmin pass, the layout you persist;
    query = the N_QUERIES×M×K distance LUT (1280 rows) broadcasts,
    corpus codes stream through it, and the per-vector score is a sum
    of M LUT hits — map-side combinable because every LUT distance
    is an exact integer µ²-unit (an 8-double sum would be
    reduction-order dependent; 8 bigints are not). The ADC scan
    produces a PQ_RERANK shortlist per query; only the shortlist
    reads full vectors for the exact-cosine re-rank — the two-stage
    shape every deployed PQ index uses (8-byte codes for the sieve,
    256-byte vectors for ≤R rows per query).

    Steady state (round-9): the exact-scored shortlist — ADC sieve +
    re-rank cosine, the expensive distributed half — persists per
    corpus alongside the codebook/code artifacts; every run after
    the first is a 3-column parquet scan + the TOP_K window.  Build
    plan exposed as :func:`_pq_scored_build` for the plan audit."""
    scored = persisted_table(
        spark,
        f"pq_topk_scores/{corpus_slug(sf_dir)}",
        f"{sf_dir}|m={PQ_M}|k={PQ_K}|it={PQ_ITERS}"
        f"|rr={PQ_RERANK_MIN}/{PQ_RERANK_DIV}",
        lambda: _pq_scored_build(spark, sf_dir),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos6"), 4).alias("cosine"),
            "rank",
        )
        .repartition(1)
        .orderBy("query_id", "rank")
    )


def _pq_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The un-persisted PQ plan — codebook/codes artifacts, broadcast
    query LUT, ADC shortlist, exact-cosine re-rank — returning
    (query_id, neighbor_id, cos6); see :func:`ann_pq_topk` for the
    scale argument. The plan-contract test audits THIS plan."""
    e = _emb(spark, sf_dir)

    def build_index() -> tuple:
        # index build (once per CORPUS, round-5): both halves of the
        # PQ index persist as warehouse artifacts — the trained
        # codebook (tiny, collected back) and the encoded corpus
        # codes (vec_id, m, code — the 8-bytes-per-vector layout a PQ
        # store ships).  A cold session loads both and touches the
        # full-width corpus only for the query vectors + the
        # shortlist re-rank; only the first session ever pays the
        # subvector pass, training, and encoding.  Deterministic
        # training keeps loaded artifacts bit-identical to a rebuild.
        def _train() -> DataFrame:
            return spark.createDataFrame(
                _train_pq(e),
                "m INT, cent_id BIGINT, cvec ARRAY<DOUBLE>",
            )

        cb_rows = [
            (r.m, r.cent_id, r.cvec)
            for r in persisted_table(
                spark, _artifact_name(PQ_CODEBOOK_ARTIFACT, sf_dir), sf_dir, _train
            ).collect()
        ]

        def _build_codes() -> DataFrame:
            return _pq_assign(_subvectors(e), cb_rows).select(
                "vec_id", "m", F.col("cent_id").alias("code")
            )

        codes = persisted_table(
            spark,
            _artifact_name("pq_codes", sf_dir),
            sf_dir,
            _build_codes,
        )
        return cb_rows, codes, e.count()

    # the whole PQ index — (codebook rows, encoded-corpus codes frame,
    # corpus count) — kept per (application, sf_dir): re-encoding the
    # corpus per query is the cost that never amortizes
    cb_rows, codes, n_vectors = session_value(
        spark, "pq_index", sf_dir, build_index
    )
    cb = spark.createDataFrame(
        cb_rows, "m INT, cent_id BIGINT, cvec ARRAY<DOUBLE>"
    )
    qlut = (
        _subvectors(e.filter(F.col("vec_id") < N_QUERIES))
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cb), "m")
        .select(
            "query_id",
            "m",
            F.col("cent_id").alias("code"),
            F.expr(
                "aggregate(zip_with(sv, cvec,"
                " (x, c) -> CAST(round(x * 1e6) AS BIGINT)"
                " - CAST(round(c * 1e6) AS BIGINT)),"
                " 0L, (a, v) -> a + v * v)"
            ).alias("du"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("pq_du", "neighbor_id")
    shortlist = (
        codes.join(F.broadcast(qlut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("du").cast("bigint").alias("pq_du"))
        .withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= pq_rerank_size(n_vectors))
        .select("query_id", "neighbor_id")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cvec")
    )
    return (
        shortlist.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias(
                "cos6"
            ),
        )
    )


QUERIES["ann_pq_topk"] = ann_pq_topk


def _pq_oracle() -> str:
    """Replay PQ training + encoding + ADC in SQL: the subspace index
    is just another GROUP BY key, so the grouped-Lloyd chain is the
    same length as the IVF replay. Distances use the identical
    integer micro-unit quantization as the Spark side, so
    assignments, codes, and scores are exact-integer everywhere."""

    def d_int(sv: str, cv: str) -> str:
        diff = (
            f"(CAST(ROUND({sv}[j] * 1e6) AS BIGINT)"
            f" - CAST(ROUND({cv}[j] * 1e6) AS BIGINT))"
        )
        return (
            f"CAST(list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),"
            f" j -> {diff} * {diff})) AS BIGINT)"
        )

    parts = [
        f"""
        base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   CAST(list_sum(list_transform(v,
                       x -> CAST(ROUND(x * 1e6) AS BIGINT)
                            * CAST(ROUND(x * 1e6) AS BIGINT)))
                       AS BIGINT) AS ssq
            FROM embeddings
        ),
        normed AS (
            SELECT vec_id,
                   list_transform(v, x -> x * 1e6 / sqrt(ssq)) AS nv
            FROM base WHERE ssq > 0
        ),
        sub AS (
            SELECT vec_id, CAST(m AS INTEGER) AS m,
                   list_slice(nv, m * {PQ_SUBDIM} + 1,
                              m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
            FROM normed, UNNEST(range({PQ_M})) AS t(m)
        ),
        train AS (
            SELECT * FROM sub
            WHERE vec_id % {TRAIN_MOD} < {TRAIN_KEEP}
        ),
        cb0 AS (
            SELECT m, vec_id AS cent_id, sv AS cvec
            FROM sub WHERE vec_id < {PQ_K}
        )"""
    ]
    prev = "cb0"
    for i in range(1, PQ_ITERS + 1):
        parts.append(
            f"""
        asg{i} AS (
            SELECT vec_id, m, cent_id FROM (
                SELECT t.vec_id, t.m, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY t.vec_id, t.m
                           ORDER BY {d_int("t.sv", "c.cvec")}, c.cent_id
                       ) AS rn
                FROM train t JOIN {prev} c USING (m)
            ) WHERE rn = 1
        ),
        sums{i} AS (
            SELECT s.m, a.cent_id, t.d,
                   SUM(CAST(ROUND(s.sv[t.d] * 1e6) AS BIGINT)) AS sm,
                   COUNT(*) AS n
            FROM asg{i} a
            JOIN train s USING (vec_id, m),
            UNNEST(range(1, {PQ_SUBDIM + 1})) AS t(d)
            GROUP BY s.m, a.cent_id, t.d
        ),
        cb{i} AS (
            SELECT m, cent_id,
                   list(CAST(sm AS DOUBLE) / n / 1e6 ORDER BY d) AS cvec
            FROM sums{i} GROUP BY m, cent_id
        )"""
        )
        prev = f"cb{i}"
    parts.append(
        f"""
        codes AS (
            SELECT vec_id, m, cent_id AS code FROM (
                SELECT s.vec_id, s.m, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY {d_int("s.sv", "c.cvec")}, c.cent_id
                       ) AS rn
                FROM sub s JOIN {prev} c USING (m)
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.vec_id AS query_id, q.m, c.cent_id AS code,
                   {d_int("q.sv", "c.cvec")} AS du
            FROM sub q JOIN {prev} c USING (m)
            WHERE q.vec_id < {N_QUERIES}
        ),
        scored AS (
            SELECT l.query_id, k.vec_id AS neighbor_id,
                   CAST(SUM(l.du) AS BIGINT) AS pq_du
            FROM codes k
            JOIN lut l ON l.m = k.m AND l.code = k.code
            WHERE k.vec_id != l.query_id
            GROUP BY l.query_id, k.vec_id
        ),
        rr AS (
            SELECT GREATEST({PQ_RERANK_MIN},
                       COUNT(*) // {PQ_RERANK_DIV}) AS r
            FROM embeddings
        ),
        shortlist AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY pq_du, neighbor_id
                       ) AS adc_rank
                FROM scored
            ), rr WHERE adc_rank <= rr.r
        )"""
    )
    cos_sl = _COS_SQL.format(a="q.embedding", b="c.embedding")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT query_id, neighbor_id, ROUND(cos6, 4) AS cosine, rank
        FROM (
            SELECT s.query_id, s.neighbor_id,
                   ROUND({cos_sl}, 6) AS cos6,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.query_id
                       ORDER BY ROUND({cos_sl}, 6) DESC, s.neighbor_id
                   ) AS rank
            FROM shortlist s
            JOIN embeddings q ON q.vec_id = s.query_id
            JOIN embeddings c ON c.vec_id = s.neighbor_id
        )
        WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """
    )


ORACLE_SQL["ann_pq_topk"] = _pq_oracle()


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health profile of the embedding space: mean,
    population variance, zero fraction, and range for each of the 64
    dims — the audit that catches dead dimensions (zero variance ⇒
    the encoder never uses them), collapsed scales, and clipped
    outputs before anyone trains on or indexes these vectors.

    posexplode flattens (vec_id, dim, x) and ONE hash aggregate on
    the 64 dim keys does everything — map-side combinable, output
    bounded by the dimensionality, never by the corpus. Determinism:
    coordinates are quantized to integer micro-units first, so the
    sums and sum-of-squares are exact BIGINT reductions (max |x|≲1 →
    squares ≲1e12 — 9e18/1e12 ≈ 9M vectors per partial before
    overflow could matter; at larger scale the squares move to
    DECIMAL(38,0) with the same shape); each engine then applies the
    identical mean/variance expression once per output row."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.round(F.col("x").cast("double") * 1e6).cast("bigint").alias("u"),
    )
    n = F.count(F.lit(1))
    s = F.sum("u")
    s2 = F.sum(F.col("u") * F.col("u"))
    mean_u = s / n
    return (
        flat.groupBy("dim")
        .agg(
            n.cast("bigint").alias("n_vecs"),
            F.round(mean_u / F.lit(1e6), 6).alias("mean_val"),
            F.round(
                (s2 / n - mean_u * mean_u) / F.lit(1e12), 8
            ).alias("var_pop"),
            F.round(
                F.sum((F.col("u") == 0).cast("int")) / n, 4
            ).alias("zero_frac"),
            F.round(F.min("u") / F.lit(1e6), 6).alias("min_val"),
            F.round(F.max("u") / F.lit(1e6), 6).alias("max_val"),
        )
        .repartition(1)
        .orderBy("dim")
    )


QUERIES["embedding_dim_stats"] = embedding_dim_stats

ORACLE_SQL["embedding_dim_stats"] = """
    WITH flat AS (
        SELECT CAST(i - 1 AS INTEGER) AS dim,
               CAST(ROUND(embedding[CAST(i AS INTEGER)]::DOUBLE * 1e6)
                    AS BIGINT) AS u
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(SUM(u) / COUNT(*) / 1e6, 6) AS mean_val,
           ROUND((SUM(u * u) / COUNT(*)
                  - (SUM(u) / COUNT(*)) * (SUM(u) / COUNT(*))) / 1e12,
                 8) AS var_pop,
           ROUND(SUM(CASE WHEN u = 0 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS zero_frac,
           ROUND(MIN(u) / 1e6, 6) AS min_val,
           ROUND(MAX(u) / 1e6, 6) AS max_val
    FROM flat
    GROUP BY dim
    ORDER BY dim
"""


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining: for each query vector, its most
    similar SAME-label neighbor (the positive) and its most similar
    DIFFERENT-label neighbor (the hard negative), plus the margin
    between them — the (anchor, positive, hard-negative) triple table
    a contrastive/embedding-finetune pipeline trains on; a small or
    negative margin flags the anchors worth mining.

    Scale shape: identical to the exact brute force (queries
    broadcast, corpus streams) but the per-query reduction is TWO
    ``MAX(struct)`` argmaxes in ONE hash aggregate — map-side
    combinable, no rank window at all. Tie order (cos DESC, id ASC)
    is encoded in the struct ((cos6, −id, id): max = highest cosine
    then lowest id), matching the oracle's ROW_NUMBER order.
    """
    # zero-norm vectors are excluded on BOTH sides in BOTH engines:
    # Spark's cosine() yields NULL for them (sorts last in the
    # argmax) but DuckDB's list_cosine_similarity yields NaN (sorts
    # FIRST under DESC) — the only way the engines agree is for such
    # vectors to never score
    e = _emb(spark, sf_dir).filter(
        F.expr("aggregate(vec, 0D, (a, x) -> a + x * x)") > 0
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("vec").alias("qvec"),
        norm(F.col("vec")).alias("qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("vec").alias("cvec"),
        norm(F.col("vec")).alias("cn"),
    )
    # norms fold once per ROW below the join (cosine_with_norms):
    # the interpreted-HOF pair loop folds ONE array pass per pair
    # instead of three, with a bit-identical denominator
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos6",
            F.round(
                cosine_with_norms(
                    F.col("qvec"), F.col("cvec"), F.col("qn"), F.col("cn")
                ),
                6,
            ),
        )
    )
    same = F.col("nlabel") == F.col("query_label")
    pick = lambda cond: F.max(  # noqa: E731 — argmax-as-struct idiom
        F.when(
            cond,
            F.struct(
                F.col("cos6").alias("s"),
                (-F.col("neighbor_id")).alias("negid"),
                F.col("neighbor_id").alias("nid"),
            ),
        )
    )
    return (
        scored.groupBy("query_id", "query_label")
        .agg(pick(same).alias("pos"), pick(~same).alias("neg"))
        .select(
            "query_id",
            "query_label",
            F.col("pos.nid").alias("pos_id"),
            F.round(F.col("pos.s"), 4).alias("pos_cos"),
            F.col("neg.nid").alias("neg_id"),
            F.round(F.col("neg.s"), 4).alias("neg_cos"),
            F.round(F.col("pos.s") - F.col("neg.s"), 4).alias("margin"),
        )
        .repartition(1)
        .orderBy("query_id")
    )


QUERIES["hard_negative_mining"] = hard_negative_mining

ORACLE_SQL["hard_negative_mining"] = f"""
    WITH nz AS (
        SELECT * FROM embeddings
        WHERE list_inner_product(embedding::DOUBLE[],
                                 embedding::DOUBLE[]) > 0
    ),
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neighbor_id,
               (c.label = q.label) AS same,
               ROUND({_cos_qc}, 6) AS cos6
        FROM nz q
        JOIN nz c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY query_id, same
                   ORDER BY cos6 DESC, neighbor_id) AS rn
        FROM scored
    )
    SELECT query_id, query_label,
           MAX(CASE WHEN same THEN neighbor_id END) AS pos_id,
           ROUND(MAX(CASE WHEN same THEN cos6 END), 4) AS pos_cos,
           MAX(CASE WHEN NOT same THEN neighbor_id END) AS neg_id,
           ROUND(MAX(CASE WHEN NOT same THEN cos6 END), 4) AS neg_cos,
           ROUND(MAX(CASE WHEN same THEN cos6 END)
                 - MAX(CASE WHEN NOT same THEN cos6 END), 4) AS margin
    FROM ranked
    WHERE rn = 1
    GROUP BY query_id, query_label
    ORDER BY query_id
"""


def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift: per label, the cosine between the
    centroid of the FIRST half of the corpus (vec_id below the median)
    and the centroid of the SECOND half — the vector-space analog of
    the PSI value-drift screen (cosine near 1 ⇒ the class prototype is
    stable across the split; a drop flags representation drift worth
    re-embedding for).

    Centroid component sums accumulate exact integer micro-units
    (the `embedding_centroid_by_label` / IVF-trainer discipline), so
    both engines hold bit-identical centroids; the final cosine is
    one dot/norm over |labels|·dim tiny rows. Split point = exact
    median vec_id (interpolated percentile on integer ids), broadcast.
    """
    e = _emb(spark, sf_dir)
    med = F.broadcast(e.agg(F.expr("percentile(vec_id, 0.5D)").alias("m")))
    is_a = F.col("vec_id") <= F.col("m")
    micro = F.round(F.col("x") * 1e6).cast("bigint")
    # ONE explode + ONE conditional (label, dim) aggregate: both
    # halves' counts and micro-sums come out side by side — no
    # per-half filter/self-join re-executing the explode twice.
    # A (label, dim) cell with either half empty drops (mirroring the
    # oracle's inner join): a label wholly inside one half has no
    # drift to measure and is absent from the output BY DESIGN.
    per_dim = (
        e.crossJoin(med)
        .select("label", is_a.alias("a"), F.posexplode("vec").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.sum(F.when(F.col("a"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(~F.col("a"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("a"), micro)).alias("sa"),
            F.sum(F.when(~F.col("a"), micro)).alias("sb"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .withColumn("ca", F.col("sa") / (F.col("n_a") * F.lit(1e6)))
        .withColumn("cb", F.col("sb") / (F.col("n_b") * F.lit(1e6)))
    )
    return (
        per_dim.groupBy("label")
        .agg(
            # MAX mirrors the oracle (first() over an unordered group
            # is nondeterministic if per-dim counts ever differed)
            F.max("n_a").cast("bigint").alias("n_first"),
            F.max("n_b").cast("bigint").alias("n_second"),
            F.round(
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .repartition(1)
        .orderBy("label")
    )


QUERIES["embedding_centroid_shift"] = embedding_centroid_shift

ORACLE_SQL["embedding_centroid_shift"] = """
    WITH med AS (SELECT quantile_cont(vec_id, 0.5) AS m FROM embeddings),
    halves AS (
        SELECT label,
               CASE WHEN vec_id <= m THEN 'a' ELSE 'b' END AS half,
               CAST(t.i - 1 AS INTEGER) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(
                   embedding[CAST(t.i AS INTEGER)]::DOUBLE * 1e6
               ) AS BIGINT)) AS BIGINT) AS s
        FROM embeddings, med,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
        GROUP BY 1, 2, 3
    ),
    cents AS (
        SELECT label, half, dim, n, s / (n * 1e6) AS c FROM halves
    )
    SELECT a.label,
           CAST(MAX(a.n) AS BIGINT) AS n_first,
           CAST(MAX(b.n) AS BIGINT) AS n_second,
           ROUND(SUM(a.c * b.c)
                 / (SQRT(SUM(a.c * a.c)) * SQRT(SUM(b.c * b.c))), 6)
               AS centroid_cosine
    FROM (SELECT * FROM cents WHERE half = 'a') a
    JOIN (SELECT * FROM cents WHERE half = 'b') b
      ON a.label = b.label AND a.dim = b.dim
    GROUP BY a.label
    ORDER BY a.label
"""


def knn_accuracy_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier eval table for the k-NN vote: per TRUE label, how
    many query vectors exist, how many the majority vote got right,
    and the accuracy — the embedding-space counterpart of
    ``lang_id_confusion`` (which grades the text classifier). Pure
    composition: :func:`knn_label_vote` joined back to the true
    labels, two tiny aggregates."""
    pred = _knn_votes(spark, sf_dir)
    truth = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    return (
        pred.join(truth, "query_id")
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(
                (F.col("label") == F.col("true_label")).cast("int")
            ).cast("bigint").alias("n_correct"),
        )
        .withColumn(
            "accuracy",
            F.round(F.col("n_correct") / F.col("n_queries"), 6),
        )
        .repartition(1)
        .orderBy("true_label")
    )


QUERIES["knn_accuracy_by_label"] = knn_accuracy_by_label


ORACLE_SQL["knn_accuracy_by_label"] = f"""
    SELECT t.label AS true_label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN p.label = t.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(SUM(CASE WHEN p.label = t.label THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
    FROM ({ORACLE_SQL["knn_label_vote"]}) p
    JOIN embeddings t ON t.vec_id = p.query_id
    GROUP BY t.label
    ORDER BY true_label
"""


#: SemDeDup prune threshold: within-cluster cosine at or above this
#: marks the higher-id vector as a semantic duplicate of the
#: lower-id one. Same τ as the LSH near-dup pass (NEARDUP_COSINE) so
#: the two dedup families are directly comparable on the same corpus;
#: at production scale τ is THE recall/precision dial (SemDeDup used
#: 0.95+ on real embeddings — the synthetic corpus is far less
#: correlated, so the shared 0.35 keeps the demo non-degenerate).
SEMDEDUP_TAU = NEARDUP_COSINE


def semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering the embedding space with k-means, then comparing pairs
    ONLY within each cluster — the pair space drops from O(n²) to
    Σ|cluster|², which with K ≈ √n-scaled codebooks is the difference
    between impossible and routine at 10⁹ vectors. A vector is pruned
    when a LOWER-id vector in its cluster has cosine ≥ τ (min-id
    dominance — the deterministic, join-expressible variant of the
    paper's keep-one-per-group rule; no iterative clustering of the
    duplicate graph is needed to decide survivors).

    Scale shape: reuses the PERSISTED IVF index — codebook
    (:func:`_codebook`) and posting lists (:func:`_assignments`,
    parquet partitioned by ``cent_id``) — so the only new work is a
    self-equi-join on ``cent_id``: each cluster's pairs materialize
    within one shuffle partition group, nothing crosses clusters, and
    the scored-pair volume is bounded by the cluster-size distribution
    the codebook controls. Output rows are the pruned vectors with
    their dominating duplicate (the smallest qualifying lower id).

    Returns (vec_id, cent_id, dup_of, cos4) ordered by vec_id.
    """
    e = _emb(spark, sf_dir)
    assign = _assignments(spark, sf_dir, e)
    a = assign.select(
        F.col("cent_id"),
        F.col("vec_id"),
        F.col("vec").alias("avec"),
    )
    b = assign.select(
        F.col("cent_id"),
        F.col("vec_id").alias("nid"),
        F.col("vec").alias("bvec"),
    )
    pairs = (
        a.join(b, "cent_id")
        .filter(F.col("nid") < F.col("vec_id"))
        .withColumn(
            "cos6", F.round(cosine(F.col("avec"), F.col("bvec")), 6)
        )
        .filter(F.col("cos6") >= SEMDEDUP_TAU)
    )
    # dominating duplicate = smallest qualifying lower id; ids are
    # unique, so MIN over (nid, cos6) structs is the nid-min row
    return (
        pairs.groupBy("vec_id", "cent_id")
        .agg(F.min(F.struct("nid", "cos6")).alias("m"))
        .select(
            "vec_id",
            "cent_id",
            F.col("m.nid").alias("dup_of"),
            F.round(F.col("m.cos6"), 4).alias("cos4"),
        )
        .orderBy("vec_id")
    )


def semantic_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster keep/prune accounting for the SemDeDup pass — the
    operational dashboard number (how much does τ cut, and is the cut
    concentrated in a few dense clusters?). One count aggregate over
    the posting lists left-joined with the pruned set; both sides are
    keyed by ``cent_id`` and the pruned side is the (small) output of
    :func:`semantic_dedup_prune`, so this adds one broadcast-size
    join to work already done.

    Returns (cent_id, n_vecs, n_pruned, n_kept, prune_frac).
    """
    e = _emb(spark, sf_dir)
    assign = _assignments(spark, sf_dir, e)
    totals = assign.groupBy("cent_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    pruned = (
        semantic_dedup_prune(spark, sf_dir)
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pruned"))
    )
    return (
        totals.join(pruned, "cent_id", "left")
        .select(
            "cent_id",
            "n_vecs",
            F.coalesce(F.col("n_pruned"), F.lit(0))
            .cast("bigint")
            .alias("n_pruned"),
            (
                F.col("n_vecs")
                - F.coalesce(F.col("n_pruned"), F.lit(0))
            ).cast("bigint").alias("n_kept"),
            F.round(
                F.coalesce(F.col("n_pruned"), F.lit(0))
                / F.col("n_vecs"),
                4,
            ).alias("prune_frac"),
        )
        .orderBy("cent_id")
    )


QUERIES["semantic_dedup_prune"] = semantic_dedup_prune
QUERIES["semantic_dedup_summary"] = semantic_dedup_summary


def _semantic_pairs_sql() -> str:
    """Within-cluster qualifying pairs over the replayed IVF
    assignment (shared by the two SemDeDup oracles)."""
    cos_ab2 = _COS_SQL.format(a="a.embedding", b="b.embedding")
    return f"""pairs AS (
        SELECT a.vec_id AS vec_id, a.cent_id AS cent_id,
               b.vec_id AS nid,
               ROUND({cos_ab2}, 6) AS cos6
        FROM assign a
        JOIN assign b ON b.cent_id = a.cent_id
                     AND b.vec_id < a.vec_id
        WHERE ROUND({cos_ab2}, 6) >= {SEMDEDUP_TAU}
    )"""


def _semantic_prune_oracle() -> str:
    ctes = _ivf_assign_ctes()
    ctes.append(_semantic_pairs_sql())
    return f"""
        WITH {", ".join(ctes)}
        SELECT vec_id, cent_id, nid AS dup_of, ROUND(cos6, 4) AS cos4
        FROM (
            SELECT vec_id, cent_id, nid, cos6,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY nid
                   ) AS rn
            FROM pairs
        )
        WHERE rn = 1
        ORDER BY vec_id
    """


def _semantic_summary_oracle() -> str:
    ctes = _ivf_assign_ctes()
    ctes.append(_semantic_pairs_sql())
    ctes.append("""pruned AS (
        SELECT cent_id, CAST(COUNT(DISTINCT vec_id) AS BIGINT)
                   AS n_pruned
        FROM pairs GROUP BY cent_id
    )""")
    ctes.append("""totals AS (
        SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
        FROM assign GROUP BY cent_id
    )""")
    return """
        WITH {ctes}
        SELECT t.cent_id AS cent_id, t.n_vecs AS n_vecs,
               CAST(COALESCE(p.n_pruned, 0) AS BIGINT) AS n_pruned,
               CAST(t.n_vecs - COALESCE(p.n_pruned, 0) AS BIGINT)
                   AS n_kept,
               ROUND(COALESCE(p.n_pruned, 0)
                     / CAST(t.n_vecs AS DOUBLE), 4) AS prune_frac
        FROM totals t LEFT JOIN pruned p ON p.cent_id = t.cent_id
        ORDER BY cent_id
    """.replace("{ctes}", ", ".join(ctes))


ORACLE_SQL["semantic_dedup_prune"] = _semantic_prune_oracle()
ORACLE_SQL["semantic_dedup_summary"] = _semantic_summary_oracle()


#: Cluster-balanced sample size: vectors kept PER CLUSTER. Uniform
#: per-cluster quotas flatten the cluster-size distribution — the
#: diversity-preserving counterpoint to proportional sampling, which
#: lets dense regions dominate the training mix.
CLUSTER_SAMPLE_PER = 8


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced (diversity) sampling over the embedding
    space: keep a fixed quota of vectors from EVERY k-means cluster,
    chosen by md5 rank — the curation move that follows a SemDeDup
    pass (prune near-identical vectors, then flatten what remains so
    no dense mode dominates the mixture; cf. the cluster-balanced
    selection in SemDeDup/DoReMi-style curation pipelines).

    Scale shape: reuses the persisted IVF posting lists
    (:func:`_assignments`); the per-cluster rank window partitions on
    ``cent_id`` over rows already laid out by ``cent_id`` — each
    cluster sorts only its own md5 keys, no corpus-wide sort, and the
    quota bounds the output at K·quota rows regardless of corpus
    size. Selection is md5-deterministic, so the sample is replayable
    (the Poisson-sampling discipline, sampling.py).

    Returns (cent_id, pick_rank, vec_id, label) ordered by
    (cent_id, pick_rank).
    """
    e = _emb(spark, sf_dir)
    assign = _assignments(spark, sf_dir, e)
    w = Window.partitionBy("cent_id").orderBy(
        F.md5(F.concat(F.lit("cbs|"), F.col("vec_id").cast("string"))),
        F.col("vec_id"),
    )
    labels = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    return (
        assign.select("cent_id", "vec_id")
        .withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= CLUSTER_SAMPLE_PER)
        .join(labels, "vec_id")
        .select("cent_id", "pick_rank", "vec_id", "label")
        .orderBy("cent_id", "pick_rank")
    )


QUERIES["cluster_balanced_sample"] = cluster_balanced_sample


def _cluster_sample_oracle() -> str:
    ctes = _ivf_assign_ctes()
    return f"""
        WITH {", ".join(ctes)}
        SELECT cent_id, pick_rank, vec_id, label
        FROM (
            SELECT a.cent_id AS cent_id, a.vec_id AS vec_id,
                   e.label AS label,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.cent_id
                       ORDER BY md5('cbs|' || CAST(a.vec_id AS STRING)),
                                a.vec_id
                   ) AS pick_rank
            FROM assign a
            JOIN embeddings e ON e.vec_id = a.vec_id
        )
        WHERE pick_rank <= {CLUSTER_SAMPLE_PER}
        ORDER BY cent_id, pick_rank
    """


ORACLE_SQL["cluster_balanced_sample"] = _cluster_sample_oracle()


def cluster_lang_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal cluster coherence: join the IVF cluster assignment
    (embedding space) to the documents table (text space, same id
    domain) and measure each cluster's language purity — top-language
    share and language entropy. The sanity dashboard behind any
    cluster-based curation decision (SemDeDup pruning, cluster
    sampling): incoherent clusters mean the embedding space or K is
    wrong BEFORE any pruning happens.

    Scale shape: posting lists join ``documents`` on the id (narrow,
    co-partitioned by the join key); per-(cluster, lang) counts are a
    bounded hash aggregate (K·|langs| cells); entropy folds over ≤
    |langs| terms per cluster. Entropy terms are exact-integer ratios
    into log2, rounded 4 per the parity discipline.

    Returns (cent_id, n_vecs, top_lang, top_share, lang_entropy).
    """
    e = _emb(spark, sf_dir)
    assign = _assignments(spark, sf_dir, e)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    cells = (
        assign.select("vec_id", "cent_id")
        .join(docs, "vec_id")
        .groupBy("cent_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cells.groupBy("cent_id").agg(
        F.sum("n").cast("bigint").alias("n_vecs")
    )
    joined = cells.join(tot, "cent_id")
    return (
        joined.groupBy("cent_id", "n_vecs")
        .agg(
            F.max(F.struct(F.col("n"), F.col("lang"))).alias("top"),
            F.round(
                F.sum(
                    (F.col("n") / F.col("n_vecs"))
                    * -F.log2(F.col("n") / F.col("n_vecs"))
                ),
                4,
            ).alias("lang_entropy"),
        )
        .select(
            "cent_id",
            "n_vecs",
            F.col("top.lang").alias("top_lang"),
            F.round(F.col("top.n") / F.col("n_vecs"), 4).alias(
                "top_share"
            ),
            "lang_entropy",
        )
        .orderBy("cent_id")
    )


def cluster_centroid_margin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster separation quality: per cluster, the mean margin
    between each member's cosine to its OWN centroid and its best
    cosine to any OTHER centroid (a silhouette-style score from
    quantities the IVF index already has). Near-zero or negative
    margins flag clusters whose members sit on a boundary — the
    K-dial / retrain diagnostic.

    Scale shape: members score against the K-row broadcast codebook
    (the assignment pass shape, O(n·K) map-side); margins aggregate
    per cluster. Cosines round to 6 before the margin so cross-engine
    float ulps cannot move a max.

    Returns (cent_id, n_vecs, mean_margin6, min_margin6) by cent_id.
    """
    e = _emb(spark, sf_dir)
    cent = _codebook(spark, sf_dir, e)
    assign = _assignments(spark, sf_dir, e)
    # norms fold once per ROW below the n×K cross join (every member
    # scores against ALL K centroids): one interpreted array pass per
    # pair instead of three, bit-identical denominator
    scored = (
        assign.select(
            "vec_id", "cent_id", "vec", norm(F.col("vec")).alias("vn")
        )
        .crossJoin(
            F.broadcast(
                cent.select(
                    F.col("cent_id").alias("other_id"),
                    "cvec",
                    norm(F.col("cvec")).alias("cn"),
                )
            )
        )
        .withColumn(
            "cos6",
            F.round(
                cosine_with_norms(
                    F.col("vec"), F.col("cvec"), F.col("vn"), F.col("cn")
                ),
                6,
            ),
        )
    )
    per_vec = scored.groupBy("vec_id", "cent_id").agg(
        F.max(
            F.when(F.col("other_id") == F.col("cent_id"), F.col("cos6"))
        ).alias("own"),
        F.max(
            F.when(F.col("other_id") != F.col("cent_id"), F.col("cos6"))
        ).alias("best_other"),
    )
    # micro-unit margins keep the per-cluster mean exact-integer
    margin_u = (
        F.round((F.col("own") - F.col("best_other")) * 1000000)
        .cast("bigint")
    )
    return (
        per_vec.withColumn("mu", margin_u)
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(
                (F.sum("mu").cast("double") / F.count(F.lit(1)))
                / 1000000.0,
                6,
            ).alias("mean_margin6"),
            F.round(F.min("mu") / 1000000.0, 6).alias("min_margin6"),
        )
        .orderBy("cent_id")
    )


QUERIES["cluster_lang_purity"] = cluster_lang_purity
QUERIES["cluster_centroid_margin"] = cluster_centroid_margin


def _cluster_purity_oracle() -> str:
    ctes = _ivf_assign_ctes()
    return f"""
        WITH {", ".join(ctes)},
        cells AS (
            SELECT a.cent_id, d.lang, COUNT(*) AS n
            FROM assign a JOIN documents d ON d.doc_id = a.vec_id
            GROUP BY a.cent_id, d.lang
        ),
        tot AS (
            SELECT cent_id, CAST(SUM(n) AS BIGINT) AS n_vecs
            FROM cells GROUP BY cent_id
        )
        SELECT c.cent_id AS cent_id, t.n_vecs AS n_vecs,
               MAX(CASE WHEN rn = 1 THEN lang END) AS top_lang,
               ROUND(MAX(CASE WHEN rn = 1 THEN n END)
                     / CAST(t.n_vecs AS DOUBLE), 4) AS top_share,
               ROUND(SUM((n / CAST(t.n_vecs AS DOUBLE))
                         * -log2(n / CAST(t.n_vecs AS DOUBLE))), 4)
                   AS lang_entropy
        FROM (
            SELECT cent_id, lang, n,
                   ROW_NUMBER() OVER (
                       PARTITION BY cent_id
                       ORDER BY n DESC, lang DESC
                   ) AS rn
            FROM cells
        ) c
        JOIN tot t ON t.cent_id = c.cent_id
        GROUP BY c.cent_id, t.n_vecs
        ORDER BY cent_id
    """


def _cluster_margin_oracle() -> str:
    ctes = _ivf_assign_ctes()
    cos_ac = _COS_SQL.format(a="a.embedding", b="c.cvec")
    return f"""
        WITH {", ".join(ctes)},
        scored AS (
            SELECT a.vec_id, a.cent_id, c.cent_id AS other_id,
                   ROUND({cos_ac}, 6) AS cos6
            FROM assign a CROSS JOIN cent{IVF_ITERS} c
        ),
        per_vec AS (
            SELECT vec_id, cent_id,
                   MAX(CASE WHEN other_id = cent_id THEN cos6 END)
                       AS own,
                   MAX(CASE WHEN other_id != cent_id THEN cos6 END)
                       AS best_other
            FROM scored GROUP BY vec_id, cent_id
        )
        SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               ROUND((CAST(SUM(CAST(ROUND((own - best_other) * 1000000)
                                    AS BIGINT)) AS DOUBLE)
                      / COUNT(*)) / 1000000.0, 6) AS mean_margin6,
               ROUND(MIN(CAST(ROUND((own - best_other) * 1000000)
                              AS BIGINT)) / 1000000.0, 6)
                   AS min_margin6
        FROM per_vec
        GROUP BY cent_id
        ORDER BY cent_id
    """


ORACLE_SQL["cluster_lang_purity"] = _cluster_purity_oracle()
ORACLE_SQL["cluster_centroid_margin"] = _cluster_margin_oracle()


#: Matryoshka dimension budgets evaluated against the full vector.
MRL_BUDGETS = [8, 16, 32, 64]


def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-signature top-k: rank by Hamming distance between
    sign-bit signatures — the 64× compression end of the search
    spectrum (exact → int8 → PQ → binary), and the memory layout a
    100 TB vector store scans first (two BIGINT words per vector,
    XOR + popcount per candidate, no float math in the scan loop).

    Signatures pack 32 sign bits per BIGINT word (two words for the
    64-dim corpus; bit d set iff ``vec[d] > 0``), built once in the
    projection; the distance is ``bit_count(xor(...)) +
    bit_count(xor(...))`` — all exact integer ops, so ranking is
    deterministic (ties break by neighbor id; Hamming ties are the
    norm with 65 possible distances). Queries broadcast, the corpus
    never moves — the brute-force layout with 64× less memory
    traffic."""
    e = _emb(spark, sf_dir)
    word = (
        "aggregate(transform(sequence({lo}, {hi}), d -> CASE WHEN"
        " vec[d] > 0 THEN shiftleft(CAST(1 AS BIGINT), d - {lo})"
        " ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    sigs = e.select(
        "vec_id",
        F.expr(word.format(lo=0, hi=31)).alias("wlo"),
        F.expr(word.format(lo=32, hi=63)).alias("whi"),
    )
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("wlo").alias("qlo"),
        F.col("whi").alias("qhi"),
    )
    ham = (
        F.bit_count(F.expr("wlo ^ qlo")) + F.bit_count(F.expr("whi ^ qhi"))
    ).cast("int")
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        sigs.select(
            F.col("vec_id").alias("neighbor_id"), "wlo", "whi"
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("hamming", ham)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "hamming", "rank")
        .repartition(1)
        .orderBy("query_id", "rank")
    )


def matryoshka_truncation_fidelity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka truncation fidelity: for each dimension budget m,
    how faithfully does cosine over the FIRST m dims reproduce the
    full-dimension cosine across the query×corpus pair set? Reports
    Pearson r and mean |Δ| per budget — the table that decides how
    hard an MRL-style embedding can be truncated before retrieval
    quality goes.

    Per-pair cosines use the engine's shared fold (rounded to 6),
    then are quantized ONCE to exact 1e6 integer units, so the
    correlation/MAE reductions over the pair set are exact BIGINT
    power sums in any accumulation order; r and MAE divide once.
    Scale shape: queries broadcast, the corpus streams; each side's
    per-budget slice NORMS are folded once per ROW (not per pair —
    sqrt(ssq_a)·sqrt(ssq_b) equals the shared ``cosine`` helper's
    denominator bit-for-bit, just hoisted), the pair loop folds only
    the four prefix dots, and the budget explode carries small
    scalars, never the 64-wide arrays — measured 3× faster than the
    naive per-pair-per-budget cosine with identical output."""
    e = _emb(spark, sf_dir)

    def norms(vcol: str, prefix: str):
        return [
            F.sqrt(
                F.expr(
                    f"aggregate(slice({vcol}, 1, {m}),"
                    " CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)"
                )
            ).alias(f"{prefix}{m}")
            for m in MRL_BUDGETS
        ]

    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        *norms("vec", "qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        "vec",
        *norms("vec", "cn"),
    )

    def cos_m(m: int):
        dot_m = F.expr(
            f"aggregate(zip_with(slice(qvec, 1, {m}), slice(vec, 1, {m}),"
            " (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        )
        denom = F.col(f"qn{m}") * F.col(f"cn{m}")
        return F.round(
            F.when(denom == 0, F.lit(None)).otherwise(dot_m / denom), 6
        )

    full = MRL_BUDGETS[-1]
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            *[cos_m(m).alias(f"c{m}") for m in MRL_BUDGETS],
        )
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.col(f"c{m}").alias("c_m"),
                        )
                        for m in MRL_BUDGETS
                    ]
                )
            ).alias("bc"),
            F.col(f"c{full}").alias("c_full"),
        )
        .select(
            F.col("bc.m").alias("m"),
            F.col("c_full"),
            F.col("bc.c_m").alias("c_m"),
        )
        .filter(F.col("c_full").isNotNull() & F.col("c_m").isNotNull())
        .select(
            "m",
            F.round(F.col("c_full") * 1e6).cast("bigint").alias("x"),
            F.round(F.col("c_m") * 1e6).cast("bigint").alias("y"),
        )
    )
    sums = pairs.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.abs(F.col("x") - F.col("y"))).alias("sad"),
    )
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (
            F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
        ).cast("double")
        * (
            F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
        ).cast("double")
    )
    return (
        sums.select(
            "m",
            "n_pairs",
            F.round(F.when(den > 0, num / den), 6).alias("r_vs_full"),
            F.round(F.col("sad") / F.col("n_pairs") / 1e6, 6).alias(
                "mae_cosine"
            ),
        )
        .repartition(1)
        .orderBy("m")
    )


QUERIES["ann_hamming_topk"] = ann_hamming_topk
QUERIES["matryoshka_truncation_fidelity"] = matryoshka_truncation_fidelity

ORACLE_SQL["ann_hamming_topk"] = f"""
    WITH sigs AS (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(1, 33), d ->
                   CASE WHEN embedding[CAST(d AS INTEGER)] > 0
                        THEN CAST(1 AS BIGINT) << (d - 1)
                        ELSE 0 END)) AS BIGINT) AS wlo,
               CAST(list_sum(list_transform(range(33, 65), d ->
                   CASE WHEN embedding[CAST(d AS INTEGER)] > 0
                        THEN CAST(1 AS BIGINT) << (d - 33)
                        ELSE 0 END)) AS BIGINT) AS whi
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, wlo AS qlo, whi AS qhi
        FROM sigs WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id, s.vec_id AS neighbor_id,
               CAST(bit_count(xor(s.wlo, q.qlo))
                    + bit_count(xor(s.whi, q.qhi)) AS INTEGER)
                   AS hamming
        FROM sigs s CROSS JOIN q
        WHERE s.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, hamming,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY hamming, neighbor_id) AS INTEGER) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, hamming, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
"""

ORACLE_SQL["matryoshka_truncation_fidelity"] = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    pairs AS (
        SELECT m,
               CAST(ROUND(ROUND({_COS_SQL.format(a="q.qvec", b="e.embedding")},
                                6) * 1e6) AS BIGINT) AS x,
               CAST(ROUND(ROUND({_COS_SQL.format(
                   a="list_slice(q.qvec, 1, m)",
                   b="list_slice(e.embedding, 1, m)")},
                                6) * 1e6) AS BIGINT) AS y
        FROM embeddings e
        CROSS JOIN q
        CROSS JOIN (SELECT unnest([{", ".join(str(m) for m in MRL_BUDGETS)}])
                        AS m)
        WHERE e.vec_id <> q.query_id
          AND {_COS_SQL.format(a="q.qvec", b="e.embedding")} IS NOT NULL
          AND {_COS_SQL.format(
              a="list_slice(q.qvec, 1, m)",
              b="list_slice(e.embedding, 1, m)")} IS NOT NULL
    ),
    s AS (
        SELECT m,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy,
               SUM(ABS(x - y)) AS sad
        FROM pairs GROUP BY m
    )
    SELECT m, n_pairs,
           ROUND(CASE WHEN (n_pairs * sxx - sx * sx) > 0
                       AND (n_pairs * syy - sy * sy) > 0
                THEN (n_pairs * sxy - sx * sy)
                     / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                            * CAST(n_pairs * syy - sy * sy AS DOUBLE))
                END, 6) AS r_vs_full,
           ROUND(sad / (n_pairs * 1.0) / 1e6, 6) AS mae_cosine
    FROM s
    ORDER BY m
"""


#: Harmonic-discount DCG scale: LCM(2..TOP_K+1) so every discount
#: term SCALE/(1+rank) is an exact integer (the file's exact-int
#: reduction discipline applied to a ranking metric).
NDCG_SCALE = 60

#: Ideal harmonic DCG (scaled): sum of NDCG_SCALE/(1+r), r=1..TOP_K.
NDCG_IDEAL = sum(NDCG_SCALE // (1 + r) for r in range(1, TOP_K + 1))


def ann_lsh_ranking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scorecard of the LSH index against the exact
    brute-force baseline, per query: recall@k, MRR of the true
    nearest neighbor, and harmonic-discount nDCG — the numbers that
    decide whether an approximate index is good enough to replace
    the exact scan (recall measures coverage; MRR/nDCG punish the
    index for burying the best results deep in the list).

    Uses the harmonic discount 1/(1+rank) instead of 1/log2(1+rank)
    so the DCG sum is EXACT integers after scaling by
    ``NDCG_SCALE = lcm(2..k+1)`` (a float log sum would be
    accumulation-order dependent across engines); the ideal DCG is
    the constant ``NDCG_IDEAL``.  MRR keeps the textbook definition
    (reciprocal approx-rank of the exact top-1 neighbor, 0 when
    missed) — a single rational term, no sum.

    Scale shape: both inputs are the already-bounded top-k lists
    (N_QUERIES × k rows); everything downstream is a tiny hash
    aggregate. The expensive parts — exact scan and LSH probe — are
    the composed operators' plans, shared via the signature memo."""
    exact = _exact_topk(spark, sf_dir).select(
        "query_id",
        "neighbor_id",
        F.col("rank").alias("rank_e"),
    )
    approx = _lsh_topk(spark, sf_dir).select(
        "query_id",
        "neighbor_id",
        F.col("rank").alias("rank_a"),
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"])
    per = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.sum(
            F.expr(f"{NDCG_SCALE} div (1 + rank_a)").cast("bigint")
        ).alias("dcg_s"),
        F.max(
            F.when(F.col("rank_e") == 1, 1.0 / F.col("rank_a"))
        ).alias("mrr_raw"),
    )
    all_q = exact.select("query_id").distinct()
    return (
        all_q.join(per, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint")).alias(
                "n_hits"
            ),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / TOP_K, 4
            ).alias("recall_at_k"),
            F.round(F.coalesce(F.col("mrr_raw"), F.lit(0.0)), 4).alias(
                "mrr"
            ),
            F.round(
                F.coalesce(F.col("dcg_s"), F.lit(0)) * 1.0 / NDCG_IDEAL,
                4,
            ).alias("ndcg_h"),
        )
        .repartition(1)
        .orderBy("query_id")
    )


QUERIES["ann_lsh_ranking_quality"] = ann_lsh_ranking_quality

ORACLE_SQL["ann_lsh_ranking_quality"] = f"""
    WITH exact AS (
        SELECT query_id, neighbor_id, rank AS rank_e
        FROM ({ORACLE_SQL["ann_cosine_topk"]}) t
    ),
    approx AS (
        SELECT query_id, neighbor_id, rank AS rank_a
        FROM ({ORACLE_SQL["ann_lsh_topk"]}) t
    ),
    hits AS (
        SELECT e.query_id, e.rank_e, a.rank_a
        FROM exact e
        JOIN approx a ON a.query_id = e.query_id
                     AND a.neighbor_id = e.neighbor_id
    ),
    per AS (
        SELECT query_id,
               CAST(COUNT(*) AS BIGINT) AS n_hits,
               CAST(SUM({NDCG_SCALE} // (1 + rank_a)) AS BIGINT)
                   AS dcg_s,
               MAX(CASE WHEN rank_e = 1 THEN 1.0 / rank_a END)
                   AS mrr_raw
        FROM hits GROUP BY query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(p.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(p.n_hits, 0) * 1.0 / {TOP_K}, 4)
               AS recall_at_k,
           ROUND(COALESCE(p.mrr_raw, 0.0), 4) AS mrr,
           ROUND(COALESCE(p.dcg_s, 0) * 1.0 / {NDCG_IDEAL}, 4)
               AS ndcg_h
    FROM (SELECT DISTINCT query_id FROM exact) q
    LEFT JOIN per p USING (query_id)
    ORDER BY query_id
"""


#: Output size of the Mahalanobis outlier screen.
MAHA_TOP_N = 50


def embedding_maha_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector Mahalanobis² outlier score under a DIAGONAL
    covariance model — ``Σ_d (x_d − μ_d)² / σ²_d`` — the standard
    embedding-quality screen for encoder failures (NaN-ish collapse,
    scale blowups, off-manifold junk) before vectors enter an index
    or a training mix; the ``MAHA_TOP_N`` highest scores surface for
    manual review with their labels.

    Scale shape: posexplode to (vec_id, dim, x) micro-units; the 64-row
    per-dim (mean, var) table comes from ONE map-side-combinable hash
    aggregate (the :func:`embedding_dim_stats` shape) and BROADCASTS
    into a second single pass that sums the 64 per-dim terms per
    vector — two corpus scans, no shuffle wider than the final
    per-vector aggregate, output bounded by ``MAHA_TOP_N``
    (sort+limit → TakeOrdered).

    Determinism: coordinates quantize to integer micro-units, so each
    dim's (n, Σu, Σu²) are exact BIGINTs and every per-term double
    derives from identical integers in both engines; the only
    engine-order float reduction is the 64-term per-vector sum,
    rounded to 4 (ranking to 6, vec_id tiebreak) — the
    ``char_bigram_lm_scores`` discipline. Zero-variance dims
    contribute nothing in either engine (explicit filter)."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x").cast("double") * 1e6).cast("bigint").alias("u"),
    )
    stats = F.broadcast(
        flat.groupBy("dim").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("u").alias("s"),
            F.sum(F.col("u") * F.col("u")).alias("s2"),
        )
    )
    # per-dim mean / variance in micro-units (doubles from exact ints)
    mu = F.col("s") / F.col("n")
    var_u = F.col("s2") / F.col("n") - mu * mu
    term = (F.col("u") - mu) * (F.col("u") - mu) / var_u
    scored = (
        flat.join(stats, "dim")
        .filter(var_u > 0)
        .groupBy("vec_id")
        .agg(F.sum(term).alias("maha_raw"))
    )
    return (
        scored.join(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "label"
            ),
            "vec_id",
        )
        .select(
            "vec_id",
            "label",
            F.round(F.col("maha_raw"), 4).alias("maha_sq"),
        )
        .orderBy(
            F.round(F.col("maha_raw"), 6).desc(), F.col("vec_id")
        )
        .limit(MAHA_TOP_N)
    )


QUERIES["embedding_maha_outliers"] = embedding_maha_outliers

ORACLE_SQL["embedding_maha_outliers"] = f"""
    WITH flat AS (
        SELECT vec_id,
               CAST(i - 1 AS INTEGER) AS dim,
               CAST(ROUND(embedding[CAST(i AS INTEGER)]::DOUBLE * 1e6)
                    AS BIGINT) AS u
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    stats AS (
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(u) AS BIGINT) AS s,
               CAST(SUM(u * u) AS BIGINT) AS s2
        FROM flat GROUP BY dim
    ),
    scored AS (
        SELECT f.vec_id,
               SUM((f.u - s.s * 1.0 / s.n) * (f.u - s.s * 1.0 / s.n)
                   / (s.s2 * 1.0 / s.n
                      - (s.s * 1.0 / s.n) * (s.s * 1.0 / s.n)))
                   AS maha_raw
        FROM flat f
        JOIN stats s USING (dim)
        WHERE s.s2 * 1.0 / s.n
              - (s.s * 1.0 / s.n) * (s.s * 1.0 / s.n) > 0
        GROUP BY f.vec_id
    )
    SELECT sc.vec_id, e.label, ROUND(sc.maha_raw, 4) AS maha_sq
    FROM scored sc JOIN embeddings e USING (vec_id)
    ORDER BY ROUND(sc.maha_raw, 6) DESC, sc.vec_id
    LIMIT {MAHA_TOP_N}
"""


#: Adaptive ANN dispatch: at or below this corpus size the dispatcher
#: keeps the exact scan (recall 1.0, no index to build or store);
#: above it, the IVF-pruned probe. RE-MEASURED at 1.024M vectors
#: (round 7, local[32]) after the Arrow-batched numpy scorer landed
#: (:func:`_arrow_scored_candidates` / :func:`_nearest_arrow`): the
#: exact scan now costs **10.0 s** per query set (was ~345 s under
#: the interpreted HOF fold — a 34× removal of the interpretation
#: tax, bit-identical by the sequential-fold construction), and the
#: one-time K=1008 IVF build dropped 1618 → 186 s (codebook
#: 664 → 38 s). The crossover is therefore far above 10⁶ for
#: one-shot scans. 10⁶ stays: exact/recall-1.0 is the safe answer
#: when the workload is unknown, and it is now cheap enough to be safe
#: AND fast at this scale.
ANN_AUTO_EXACT_MAX = 1_000_000


def ann_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive top-k: pick the physical search strategy from the
    corpus size — the operator-level analog of a cost-based
    optimizer's access-path choice. At or below
    ``ANN_AUTO_EXACT_MAX`` vectors the dispatcher runs the exact
    brute-force scan (:func:`ann_cosine_topk`: one pass, recall 1.0,
    no index to build or store); above it, the IVF-pruned probe
    (:func:`ann_ivf_topk` at ``nprobe=2``, which rides the persisted
    codebook + DPP-pruned posting lists).

    The decision input is ONE count aggregate — cheap, exact,
    memoized per (application, corpus), and the same signal AQE uses
    for its own runtime re-plans. The registered oracle replays the
    SAME count-gated dispatch in SQL (:func:`_ann_auto_oracle`): at
    or below the crossover it is the exact-scan SQL, above it the
    nprobe=2 IVF replay (:func:`_ivf_oracle`) — so the oracle is
    corpus-invariant and the hash compare describes the live path at
    ANY scale factor; `tools/ladder.py corpus` exercises both sides.
    """
    # the count is a per-corpus constant, so repeat invocations (bench
    # warm-up + timed samples) must not each pay a full-table count
    # job at plan-construction time (round-5 ADVICE item)
    n_vecs = session_value(
        spark,
        "ann_auto_count",
        sf_dir,
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )
    if n_vecs <= ANN_AUTO_EXACT_MAX:
        return ann_cosine_topk(spark, sf_dir)
    return ann_ivf_topk(spark, sf_dir, nprobe=2)


QUERIES["ann_auto_topk"] = ann_auto_topk


def _ann_auto_oracle() -> str:
    """Corpus-invariant oracle for :func:`ann_auto_topk` (round-7
    VERDICT item 3): the COUNT(*)-driven dispatch is folded into the
    SQL itself — two mutually exclusive branches gated on the same
    corpus count the engine's dispatcher reads, so the oracle
    describes the LIVE path at ANY scale factor. The crossover is the
    constant ``ANN_AUTO_EXACT_MAX`` the live dispatcher reads, so the
    two agree by construction."""
    xmax = ANN_AUTO_EXACT_MAX
    return f"""
        WITH ncorp AS (SELECT COUNT(*) AS c FROM embeddings)
        SELECT * FROM ({ORACLE_SQL["ann_cosine_topk"]}) exact_path
        WHERE (SELECT c FROM ncorp) <= {xmax}
        UNION ALL
        SELECT * FROM ({_ivf_oracle(nprobe=2)}) ivf_path
        WHERE (SELECT c FROM ncorp) > {xmax}
        ORDER BY query_id, rank
    """


ORACLE_SQL["ann_auto_topk"] = _ann_auto_oracle()
