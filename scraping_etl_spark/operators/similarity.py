"""Similarity search over embedding columns (``array<float>``).

North-star extension: the driver ships an ``embeddings`` scale table
(vec_id, embedding float[64], label) and a 100 TB pipeline needs
nearest-neighbor machinery over it. Two tiers:

- :func:`cosine_topk` — exact brute-force top-k. The probe set is
  broadcast (BroadcastNestedLoopJoin — all-pairs is the *definition* of
  exact search, so the nested-loop is the right plan as long as the
  probe side is small); ranking is a per-probe window (partitioned, so
  it scales with corpus size, not a global sort).
- :func:`ann_hyperplane_topk` — approximate variant for big probe sets:
  sign-random-projection (SimHash-style) buckets on both sides, then
  exact cosine only *within* a bucket — the join is a hash join on the
  bucket id, never a cross join. Recall is tunable with ``planes``
  (fewer planes → bigger buckets → higher recall, more compute).

Determinism: all arithmetic is a sequential left-fold (``F.aggregate``)
over ``double``-cast elements, which any engine reproduces bit-for-bit
(the DuckDB oracle mirrors the same fold); hyperplane coefficients are
±1 derived from md5 at plan-build time — no RNG state.

Everything is JVM-side built-ins (zip_with/aggregate); no Python UDFs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scraping_etl_spark import materialize as M
from scraping_etl_spark.operators.fixpoint import exact_sums, half_up


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product of two float arrays in double
    precision — deterministic summation order, mirrorable in SQL."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, null-safe for zero vectors."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k neighbors of each probe vector by cosine similarity.

    Output: (probe_id, rank, neighbor id, cosine). Ties broken by
    neighbor id for a total deterministic order. Self-matches (same id)
    are excluded. Scale: probes broadcast; corpus streamed once; the
    rank window is partitioned by probe, so per-partition state is k.
    """
    # norms hoisted to the per-row projections: every probe pairs with
    # every corpus row, so the per-pair work must be the dot fold alone
    # (identical sqrt(dot) arithmetic — oracle-exact; see _sem_side)
    p = probes.select(
        F.col("query_id").alias("_pid"),
        F.col("query_vec").alias("_pvec"),
        l2_norm(F.col("query_vec")).alias("_pnrm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("_cid"),
        F.col("embedding").alias("_cvec"),
        l2_norm(F.col("embedding")).alias("_cnrm"),
    )
    den = F.col("_pnrm") * F.col("_cnrm")
    cos = F.when(den > 0, dot(F.col("_pvec"), F.col("_cvec")) / den).otherwise(
        F.lit(0.0)
    )
    scored = (
        c.join(F.broadcast(p), F.col("_pid") != F.col("_cid"))
        .withColumn("_cos", cos)
    )
    w = Window.partitionBy("_pid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_pid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("_cid").alias("neighbor_id"),
            F.round("_cos", 6).alias("cos_sim"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    lo: float = 0.3,
    hi: float = 0.8,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training data:
    for each anchor, the ``k`` MOST similar corpus vectors whose
    cosine lies in the band ``[lo, hi)`` — similar enough to be
    informative negatives, but below the near-duplicate ceiling that
    would make them false negatives (the in-batch-negatives failure
    mode; cf. dense-retrieval hard-negative mining, Karpukhin et al.
    EMNLP 2020 §3.2, Xiong et al. ICLR 2021 ANCE). The upper bound is
    the same role SemDeDup's threshold plays: above ``hi`` a pair is
    a semantic duplicate, not a negative.

    Output ``(anchor_id, rank, neighbor_id, cos_sim)`` — rank 1 = the
    hardest in-band negative, ties broken by neighbor id, self-pairs
    excluded, ``cos_sim`` rounded to 6 AFTER ranking (the oracle-hash
    convention; ranking uses the exact fold value, which the
    sequential-fold arithmetic makes engine-reproducible).

    Plan: identical shape to :func:`cosine_topk` — anchors broadcast,
    corpus streamed once, the band filter applied BEFORE the rank
    window so per-anchor window state holds only in-band rows. Scale:
    exact brute tier; for large anchor sets compose with the IVF tier
    exactly as ``ivf_topk`` does (assign both sides, score within
    probed cells) — the band filter commutes with any candidate
    pruning because it only ever REMOVES rows ranked downstream.
    """
    if not (0.0 <= lo < hi <= 1.0 + 1e-12):
        raise ValueError(f"need 0 <= lo < hi <= 1, got [{lo}, {hi})")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    a = anchors.select(
        F.col("anchor_id").alias("_pid"),
        F.col("anchor_vec").alias("_pvec"),
        l2_norm(F.col("anchor_vec")).alias("_pnrm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("_cid"),
        F.col("embedding").alias("_cvec"),
        l2_norm(F.col("embedding")).alias("_cnrm"),
    )
    den = F.col("_pnrm") * F.col("_cnrm")
    cos = F.when(den > 0, dot(F.col("_pvec"), F.col("_cvec")) / den).otherwise(
        F.lit(0.0)
    )
    scored = (
        c.join(F.broadcast(a), F.col("_pid") != F.col("_cid"))
        .withColumn("_cos", cos)
        .filter((F.col("_cos") >= lo) & (F.col("_cos") < hi))
    )
    w = Window.partitionBy("_pid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_pid").alias("anchor_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("_cid").alias("neighbor_id"),
            F.round("_cos", 6).alias("cos_sim"),
        )
    )


def quantize_embedding(vec: Column) -> Column:
    """Per-vector symmetric integer quantization — the memory-bandwidth
    tier of the similarity stack: at 100 TB an ``array<float>`` corpus
    streamed for brute-force or in-bucket scoring is bandwidth-bound,
    and int8 cuts the bytes 4× while cosine is (nearly) invariant to
    the per-vector scale (scale cancels in the normalization; only the
    rounding error remains, ~1/254 per element).

    ``q_i = round(x_i · (qmax / max|x|))`` with ``qmax = 2^7-1 = 127``
    (int8); the all-zero vector quantizes to all zeros. Pure
    deterministic arithmetic (half-away-from-zero rounding in both
    Spark and DuckDB), so the quantized search path is fully
    hash-gateable — no float-fuzz exemptions. The input array is bound
    once, and the scale is double-bound as a struct field (the
    ``normalize_embedding`` hazard: a raw ``array_max`` EXPRESSION
    referenced inside the per-element lambda would re-run the O(dim)
    scan per element — O(dim²) per row)."""
    from scraping_etl_spark.operators.dedup import _bind

    qmax = 127.0

    def _with_scale(v: Column) -> Column:
        mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
        return F.struct(
            v.alias("v"),
            F.when(mx > 0, F.lit(qmax) / mx).otherwise(F.lit(0.0)).alias("s"),
        )

    def _quantize(s: Column) -> Column:
        return F.transform(
            s["v"],
            lambda x: F.round(x.cast("double") * s["s"], 0).cast("int"),
        )

    return _bind(_bind(vec, _with_scale), _quantize)


def _hyperplane(dim: int, plane: int) -> list[int]:
    """Deterministic ±1 hyperplane: one md5-derived bit per dimension
    (seeded by plane and dimension index). Plan-time constants."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"plane:{plane}:dim:{i}".encode()).digest()
        out.append(1 if h[0] & 1 else -1)
    return out


def hyperplane_bucket(vec_col: Column, dim: int, planes: int = 8) -> Column:
    """Sign-random-projection bucket id in [0, 2^planes): bit j is the
    sign of <vec, w_j> for the deterministic ±1 hyperplane w_j. Cosine-
    close vectors agree on most signs and land in the same bucket."""
    bucket = F.lit(0)
    for j in range(planes):
        w = F.array(*[F.lit(float(x)) for x in _hyperplane(dim, j)])
        bit = F.when(dot(vec_col, w) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def ann_hyperplane_topk(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 6,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: bucket both sides by :func:`hyperplane_bucket`,
    hash-join on the bucket id, rank within bucket. At 100 TB this is
    the scale path: the join shuffles on bucket (2^planes distinct keys
    — keep ``planes`` ≥ log2(cluster parallelism); skewed buckets are
    split by AQE), and exact cosine runs only inside buckets.

    ``multiprobe=1`` (default) also probes every bucket at Hamming
    distance 1 from the query's bucket — the standard LSH multi-probe
    trade: ``planes+1`` probe rows per query (corpus side untouched, a
    vector lives in exactly one bucket, so no pair dedup is needed) for
    a ~3x recall jump (measured 0.12 → 0.35-0.40 on the driver's
    *random* embeddings at planes=6 — near-orthogonal vectors are LSH's
    worst case; clustered real-world embeddings bucket far better).
    ``multiprobe=0`` is single-bucket. Recall < 1 remains by design;
    the exact path is :func:`cosine_topk`."""
    c = corpus.select(
        F.col("vec_id").alias("_cid"),
        F.col("embedding").alias("_cvec"),
        hyperplane_bucket(F.col("embedding"), dim, planes).alias("_bucket"),
        l2_norm(F.col("embedding")).alias("_cnrm"),
    )
    p = probes.select(
        F.col("query_id").alias("_pid"),
        F.col("query_vec").alias("_pvec"),
        hyperplane_bucket(F.col("query_vec"), dim, planes).alias("_home"),
        l2_norm(F.col("query_vec")).alias("_pnrm"),
    )
    if multiprobe >= 1:
        # home bucket + each single-bit flip (Hamming radius 1)
        variants = F.array(
            F.col("_home"),
            *[
                F.col("_home").bitwiseXOR(F.lit(1 << j)).cast("int")
                for j in range(planes)
            ],
        )
        p = p.select(
            "_pid", "_pvec", F.explode(variants).alias("_bucket"), "_pnrm"
        )
    else:
        p = p.withColumnRenamed("_home", "_bucket")
    # norm folds hoisted out of the bucket pair loop (same arithmetic,
    # oracle-exact — see _sem_side)
    den = F.col("_pnrm") * F.col("_cnrm")
    cos = F.when(den > 0, dot(F.col("_pvec"), F.col("_cvec")) / den).otherwise(
        F.lit(0.0)
    )
    scored = (
        c.join(p, "_bucket")
        .filter(F.col("_pid") != F.col("_cid"))
        .withColumn("_cos", cos)
    )
    w = Window.partitionBy("_pid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_pid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("_cid").alias("neighbor_id"),
            F.round("_cos", 6).alias("cos_sim"),
            F.col("_bucket").alias("bucket"),
        )
    )


def embedding_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.999,
    planes: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector-space face of
    near-dedup (dedup.py holds the text faces): candidates are pairs
    whose vectors agree on every sign projection (the full
    ``planes``-bit hyperplane signature as an exact blocking key —
    same-direction vectors ALWAYS collide, near-misses almost always
    do at high cosine), verified by exact cosine ≥ ``threshold``.

    Plan: one signature projection per side, hash equi-join on the
    signature, exact cosine only inside blocks — no cross join, and at
    100 TB the signature join shuffles uniformly (md5-derived planes).
    Recall caveat: a near-dup pair split by one hyperplane is missed;
    raise recall by lowering ``planes`` or unioning rotated signature
    sets (the text-side analogue is MinHash banding)."""
    sig = hyperplane_bucket(F.col("embedding"), dim, planes)
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"),
        sig.alias("_sig"), l2_norm(F.col("embedding")).alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"),
        sig.alias("_sig"), l2_norm(F.col("embedding")).alias("_nb"),
    )
    # norm folds hoisted out of the block pair loop (same arithmetic,
    # oracle-exact — see _sem_side)
    den = F.col("_na") * F.col("_nb")
    cos = F.when(den > 0, dot(F.col("_va"), F.col("_vb")) / den).otherwise(
        F.lit(0.0)
    )
    return (
        a.join(b, "_sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _scored_centroids_mat(vec: Column, mat: Column, k: int) -> Column:
    """``(sq_dist, cid)`` structs over a centroid MATRIX column of
    ``k`` rows — the shared arithmetic core of :func:`scored_centroids`
    (left-fold ``(a-b)*(a-b)`` per centroid, ``(d, cid)`` structs), so
    callers that index one matrix out of a higher-rank literal (the
    fused PQ encoders) build the exact same expression."""
    return F.zip_with(
        mat,
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    vec,
                    c,
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.alias("cid"),
        ),
    )


def scored_centroids(vec: Column, centroids: list[list[float]]) -> Column:
    """``(sq_dist, cid)`` structs for every centroid, built from ONE
    nested-array literal + three lambdas — NOT a Python loop of
    per-centroid expression structs. Arithmetic is bit-identical to
    the loop form (left-fold ``(a-b)*(a-b)``), but the Column tree is
    O(1) in the centroid count: the loop form's m*k literal arrays and
    folds cost seconds of DRIVER-side py4j construction per query at
    real codebook budgets (see PLANS.md "PQ plan-construction
    finding")."""
    mat = F.lit([[float(x) for x in c] for c in centroids])
    return _scored_centroids_mat(vec, mat, len(centroids))


def nearest_centroids(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """Ids of the ``n`` nearest centroids, (distance, cid)-lexicographic
    — a per-row expression over centroid plan constants, no join, no
    shuffle."""
    scored = scored_centroids(vec, centroids)
    return F.slice(F.transform(F.array_sort(scored), lambda s: s["cid"]), 1, n)


def cluster_assign(corpus: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Semantic clustering of a corpus: assign every vector to its
    nearest trained centroid (the IVF index's assignment stage as a
    first-class output — domain discovery, mixture balancing, and
    per-cluster corpus stats all start here). Pure map-side: centroids
    are plan constants, the argmin is a per-row expression — zero
    shuffle at any scale. Returns ``(id, cluster, sq_dist)`` with the
    squared distance to the winning centroid (rounded 6 for the exact
    oracle compare)."""
    v = F.col("embedding")
    scored = scored_centroids(v, centroids)
    best = F.element_at(F.array_sort(scored), 1)
    return corpus.select(
        F.col("vec_id"),
        best["cid"].cast("int").alias("cluster"),
        F.round(best["d"], 6).alias("sq_dist"),
    )


def normalize_embedding(vec: Column) -> Column:
    """Unit-normalize (x / ||x||; the zero vector passes through) —
    deterministic: the norm is the same left-fold ``sqrt(dot)`` the
    oracles mirror, and each element division is a single IEEE op.
    On the unit sphere squared-L2 ranking ≡ cosine ranking, which is
    what lets :func:`semantic_dedup_pairs` use L2 centroids for a
    cosine criterion.

    The norm is bound as a struct FIELD alongside the vector, and the
    struct itself is DOUBLE-bound so every reference to it is a
    lambda-variable field access: referencing the raw ``l2_norm``
    EXPRESSION inside ``transform`` would re-run the O(dim) fold per
    element — O(dim²) per row, measured 12x slower at 20k × dim-64."""
    from scraping_etl_spark.operators.dedup import _bind

    def _with_norm(v: Column) -> Column:
        return F.struct(v.alias("v"), l2_norm(v).alias("n"))

    def _divide(s: Column) -> Column:
        return F.when(
            s["n"] > 0,
            F.transform(s["v"], lambda x: x.cast("double") / s["n"]),
        ).otherwise(F.transform(s["v"], lambda x: x.cast("double")))

    return _bind(_bind(vec, _with_norm), _divide)


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — cluster the embedding space, then threshold
    pairwise cosine *within* clusters only): assign every vector to its
    nearest trained centroid (map-side, centroids are plan constants —
    :func:`cluster_assign`), self-join on the cluster id, keep pairs
    with cosine ≥ ``threshold``.

    This is the published algorithm's scale contract: pairwise cost is
    sum of squared *cluster* sizes, not corpus², and the cluster count
    is chosen so each cluster's pairwise block is task-sized (the
    paper runs 50k clusters over 5B embeddings for the same reason).
    The join is a hash equi-join on cluster id; cross-cluster near-dups
    are missed by design (the recall/cost trade the paper measures).

    Assignment runs on UNIT-NORMALIZED vectors (the paper's setting:
    on the unit sphere L2-nearest ≡ cosine-nearest, so same-direction
    vectors always share a cluster regardless of magnitude) — pass
    ``centroids`` trained on normalized vectors. The cosine itself is
    computed on the original arrays (scale cancels).

    Returns ``(id_a, id_b, cluster, cos_sim)`` with ``id_a < id_b``;
    cosine rounded to 6 before the threshold compare so engines agree
    at the boundary."""
    side = _sem_side(corpus, centroids)
    return _sem_pairs_from_side(side, threshold)


def _sem_side(corpus: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Materialized SemDeDup working set ``(id, vec, cluster, ‖v‖)``.

    Two deliberate eager choices: the per-vector norm is hoisted
    BEFORE the pair join (inside a cluster of size m each vector sits
    in m-1 pairs; recomputing ‖v‖ per pair wastes m-2 norm folds per
    vector — at cluster sizes in the thousands that was the dominant
    cost), and the whole projection is ``localCheckpoint``-ed so the
    k-centroid assignment expression — O(k·dim) literals per row,
    large enough to defeat whole-stage codegen at production cluster
    counts — is evaluated ONCE per vector instead of once per join
    side per consumer. The hoisted norm is the identical sqrt(dot)
    fold, so pair cosines stay bit-identical to the oracle."""
    unit = normalize_embedding(F.col("embedding"))
    cl = F.element_at(nearest_centroids(unit, centroids, 1), 1)
    return corpus.select(
        F.col("vec_id"),
        F.col("embedding"),
        cl.alias("cluster"),
        l2_norm(F.col("embedding")).alias("_nrm"),
    ).localCheckpoint()


def _sem_pairs_from_side(side: DataFrame, threshold: float) -> DataFrame:
    a = side.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"),
        "cluster", F.col("_nrm").alias("_na"),
    )
    b = side.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"),
        "cluster", F.col("_nrm").alias("_nb"),
    )
    den = F.col("_na") * F.col("_nb")
    cos = F.when(den > 0, dot(F.col("_va"), F.col("_vb")) / den).otherwise(
        F.lit(0.0)
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.col("cluster").cast("int").alias("cluster"), "cos_sim")
    )


def semantic_dedup_survivors(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """Greedy SemDeDup keep-set: within each cluster, drop any vector
    that has a near-duplicate (cosine ≥ ``threshold``) with a SMALLER
    id — the deterministic analogue of the paper's keep-one-per-
    ε-neighborhood sweep (greedy by id order; no transitive closure,
    exactly like the published method). One left-anti join of the
    corpus against the pair list's ``id_b`` side. Returns the
    surviving ``(id, cluster)`` rows."""
    side = _sem_side(corpus, centroids)
    pairs = _sem_pairs_from_side(side, threshold)
    dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    assigned = side.select(F.col("vec_id"), F.col("cluster").cast("int").alias("cluster"))
    return assigned.join(dropped, "vec_id", "left_anti").select(
        F.col("vec_id"), "cluster"
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k — the cluster-pruned alternative to
    the hyperplane LSH path: trained centroids partition the corpus
    into ``len(centroids)`` inverted lists, each probe searches only
    its ``n_probe`` nearest centroids, exact cosine runs inside those
    lists.

    Plan shape at 100 TB: the centroids are plan constants, trained
    once by :func:`kmeans_train_fx` (the one eager step — build the
    index once and reuse it across queries, as a production deployment
    does); assignment is a per-row expression; the probe→candidate
    join is a hash equi-join on cluster id (n_probe rows per probe —
    same no-cross-join contract as the LSH path). Recall rises with
    ``n_probe`` (= brute force at n_probe = len(centroids))."""

    def _nearest(vec: Column, n: int) -> Column:
        return nearest_centroids(vec, centroids, n)

    c = corpus.select(
        F.col("vec_id").alias("_cid"),
        F.col("embedding").alias("_cvec"),
        F.element_at(_nearest(F.col("embedding"), 1), 1).alias("_cluster"),
        l2_norm(F.col("embedding")).alias("_cnrm"),
    )
    p = probes.select(
        F.col("query_id").alias("_pid"),
        F.col("query_vec").alias("_pvec"),
        F.explode(_nearest(F.col("query_vec"), n_probe)).alias("_cluster"),
        l2_norm(F.col("query_vec")).alias("_pnrm"),
    )
    # norm folds hoisted out of the candidate loop (same arithmetic,
    # oracle-exact — see _sem_side)
    den = F.col("_pnrm") * F.col("_cnrm")
    cos = F.when(den > 0, dot(F.col("_pvec"), F.col("_cvec")) / den).otherwise(
        F.lit(0.0)
    )
    scored = (
        c.join(p, "_cluster")
        .filter(F.col("_pid") != F.col("_cid"))
        .withColumn("_cos", cos)
    )
    w = Window.partitionBy("_pid").orderBy(F.desc("_cos"), F.asc("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_pid").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("_cid").alias("neighbor_id"),
            F.round("_cos", 6).alias("cos_sim"),
        )
    )


#: Broadcast the benchmark embedding set only below this many vectors
#: (:func:`materialize.fits`). Benchmark suites are small by
#: construction (10^4-10^6 items even for a large eval battery), so the
#: broadcast path is the expected one; past the cap the hint is dropped
#: and Spark falls back to a shuffle-backed nested-loop — still
#: correct, just no longer the map-side screen.
MAX_BROADCAST_BENCH_VECS = 500_000


def embedding_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    exclude_same_id: bool = True,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic sibling
    of the k-gram ``corpus_prep.decontaminate`` screen: flag corpus
    vectors whose cosine similarity to ANY benchmark vector reaches
    ``threshold`` (paraphrased eval items that share no exact n-gram
    still sit next to the benchmark in embedding space).

    Output: one row per contaminated corpus vector —
    ``(id, bench_id, cos_sim, n_bench_hits)`` where ``bench_id`` is the
    closest benchmark item (ties → smallest id) and ``n_bench_hits``
    counts benchmark items at/above the threshold.

    Plan shape at 100 TB: the benchmark side is SMALL by definition, so
    it broadcasts (measured, not assumed — :func:`materialize.fits`,
    the same guard as the k-gram screen) and the scan
    over the 100 TB corpus is one map-side pass: cosine against the
    broadcast set, filter, then a rank window over the FLAGGED rows
    only (contamination rates are ~1e-3, so the window input is tiny).
    The threshold compares against the ROUNDED cosine (6 dp, house
    convention) so the boundary is engine-portable.

    ``exclude_same_id`` (default True) drops (corpus, bench) pairs
    whose ids coincide — right when the two relations can overlap
    (the benchmark carved out of the corpus itself). Pass False when
    corpus and bench are DISTINCT relations that may legitimately
    reuse an id — e.g. the streaming ingest screen, where a record
    re-delivered under its original id in a later batch must still be
    screened against its own lake copy (r14 ADVICE).

    Past :data:`MAX_BROADCAST_BENCH_VECS` the broadcast hint is dropped
    and the all-pairs comparison plans as a shuffle-backed nested loop
    — with ``exclude_same_id=False`` the join condition is literal-true,
    so Spark plans a CartesianProduct rather than a BNLJ-with-predicate
    (same asymptotics, different node). Either way the over-cap regime
    is the documented scale cliff: callers whose reference side
    outgrows the cap should move to
    :func:`embedding_decontaminate_ivf`, whose candidate join is a
    cell-id hash equi-join at any scale (the streaming screen's
    ``ivf_centroids`` escalation; plan shapes pinned in
    tests/test_plan_shapes.py)."""
    b = bench.select(
        F.col(bench_id_col).alias("_bid"),
        F.col(bench_vec_col).alias("_bvec"),
        l2_norm(F.col(bench_vec_col)).alias("_bnrm"),
    )
    b_side = F.broadcast(b) if M.fits(b, MAX_BROADCAST_BENCH_VECS) else b
    # norms hoisted to the per-row projections (the SemDeDup lesson —
    # _sem_side): each corpus vector sits in |bench| pairs, so the
    # per-pair work must be the dot fold alone. Identical sqrt(dot)
    # arithmetic, so pair cosines stay bit-identical to the oracle.
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cnrm"),
    )
    den = F.col("_cnrm") * F.col("_bnrm")
    cos = F.when(den > 0, dot(F.col("_cvec"), F.col("_bvec")) / den).otherwise(
        F.lit(0.0)
    )
    pair_cond = (
        F.col("_cid") != F.col("_bid") if exclude_same_id else F.lit(True)
    )
    flagged = (
        c.join(b_side, pair_cond)
        .withColumn("_cos", F.round(cos, 6))
        .filter(F.col("_cos") >= threshold)
    )
    w = Window.partitionBy("_cid").orderBy(F.desc("_cos"), F.asc("_bid"))
    wn = Window.partitionBy("_cid")
    return (
        flagged.withColumn("_rk", F.row_number().over(w))
        .withColumn("n_bench_hits", F.count(F.lit(1)).over(wn))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_cid").alias(id_col),
            F.col("_bid").alias("bench_id"),
            F.col("_cos").alias("cos_sim"),
            F.col("n_bench_hits").cast("long").alias("n_bench_hits"),
        )
    )


def embedding_decontaminate_ivf(
    corpus: DataFrame,
    bench: DataFrame,
    centroids: "list[list[float]]",
    threshold: float = 0.95,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    exclude_same_id: bool = True,
    bench_cell_col: "str | None" = None,
) -> DataFrame:
    """IVF scale tier of :func:`embedding_decontaminate` — for when
    the reference side is NOT small: the streaming ingest screen's
    vector lake grows without bound, and past the broadcast cap the
    expression tier's fallback is a shuffle-backed all-pairs join.
    Here the lake/bench side lives in its nearest-centroid inverted
    list (one cell per vector, :func:`ivf_topk`'s layout) and each
    corpus/batch vector probes only its ``n_probe`` nearest cells, so
    the candidate join is a hash EQUI-join on cell id — never
    all-pairs — and per-corpus-row work is bounded by the probed
    lists' size.

    ``bench_cell_col`` names a column on ``bench`` that already holds
    each row's nearest-centroid cell id (the value
    ``nearest_centroids(vec, centroids, 1)[0]`` would compute). When
    the bench side is a persistent lake re-screened every micro-batch,
    assigning the cell ONCE at land time and passing the stored column
    here keeps the per-trigger cost proportional to the batch, not
    O(|lake| x |centroids| x dim) — the streaming ingest screen's
    deployment shape. Rows whose stored cell is null (e.g. lake
    partitions landed before cells were stored, read under
    mergeSchema) fall back to the on-the-fly assignment per row.

    Output schema and every convention match the expression tier
    (rounded-cosine threshold, closest-bench argmax with smallest-id
    ties, ``n_bench_hits`` over the threshold set — here counted
    within the probed cells, the standard IVF recall trade). At
    ``n_probe = len(centroids)`` every (corpus, bench) pair is
    compared and the output EQUALS the expression tier exactly (the
    contract the unit suite pins). Exact duplicates are caught at ANY
    ``n_probe``: an identical vector assigns to the same nearest cell
    as its copy, and the probe list starts with the vector's own
    cell."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    bench_cell = F.element_at(
        nearest_centroids(F.col(bench_vec_col), centroids, 1), 1
    )
    if bench_cell_col is not None:
        # stored-cell fast path: coalesce evaluates the on-the-fly
        # assignment only for rows where the stored cell is null
        bench_cell = F.coalesce(
            F.col(bench_cell_col).cast("int"), bench_cell
        )
    b = bench.select(
        F.col(bench_id_col).alias("_bid"),
        F.col(bench_vec_col).alias("_bvec"),
        bench_cell.alias("_cell"),
        l2_norm(F.col(bench_vec_col)).alias("_bnrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        F.explode(
            nearest_centroids(F.col(vec_col), centroids, n_probe)
        ).alias("_cell"),
        l2_norm(F.col(vec_col)).alias("_cnrm"),
    )
    den = F.col("_cnrm") * F.col("_bnrm")
    cos = F.when(den > 0, dot(F.col("_cvec"), F.col("_bvec")) / den).otherwise(
        F.lit(0.0)
    )
    flagged = c.join(b, "_cell")
    if exclude_same_id:
        flagged = flagged.filter(F.col("_cid") != F.col("_bid"))
    flagged = flagged.withColumn("_cos", F.round(cos, 6)).filter(
        F.col("_cos") >= threshold
    )
    w = Window.partitionBy("_cid").orderBy(F.desc("_cos"), F.asc("_bid"))
    wn = Window.partitionBy("_cid")
    return (
        flagged.withColumn("_rk", F.row_number().over(w))
        .withColumn("n_bench_hits", F.count(F.lit(1)).over(wn))
        .filter(F.col("_rk") == 1)
        .select(
            F.col("_cid").alias(id_col),
            F.col("_bid").alias("bench_id"),
            F.col("_cos").alias("cos_sim"),
            F.col("n_bench_hits").cast("long").alias("n_bench_hits"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid 2011, "Product
# quantization for nearest neighbor search")
# ---------------------------------------------------------------------------

def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train the PQ codebooks: split the ``dim`` dimensions into ``m``
    contiguous subspaces and k-means each subspace independently.
    Returns ``codebooks[j] = k x (dim/m)`` centroid lists — plan
    constants for encode/query, embeddable in a DuckDB oracle.

    All ``m`` subspaces train in ONE :func:`kmeans_train_fx` loop
    (:data:`INDEX_ITERS` iterations, one corpus pass each): every
    subspace seeds from the same md5-smallest ``k`` rows of
    ``vec_id``, so ``codebooks[j]`` equals ``kmeans_train_fx`` over
    the slice ``vec[j*sub : (j+1)*sub]`` bit for bit.

    PQ's scale contract (the paper's): the corpus is stored as
    ``m`` one-byte-ish codes per vector instead of ``dim`` floats
    (here 8 ints vs 64 floats — 32x less scan bandwidth), and query
    distance becomes ``m`` table lookups instead of ``dim`` multiplies.
    """
    if m < 1 or k < 2:
        raise ValueError(f"need m >= 1 and k >= 2, got m={m} k={k}")
    return _lloyd_fx(corpus, k, m, vec_col, INDEX_ITERS)


def _codebook_shape(
    codebooks: list[list[list[float]]], who: str
) -> tuple[int, int, int]:
    """``(m, k, sub)`` of PQ codebooks, checked before anything indexes
    them: at least one non-empty codebook, every codebook ``k``
    centroids, every centroid ``sub >= 1`` components."""
    if not codebooks or not codebooks[0]:
        raise ValueError(f"{who}: codebooks must be non-empty")
    k = len(codebooks[0])
    if any(len(b) != k for b in codebooks):
        raise ValueError(f"{who}: codebooks must share one size")
    sub = len(codebooks[0][0])
    if sub < 1 or any(len(c) != sub for b in codebooks for c in b):
        raise ValueError(f"{who}: centroids must share one sub-dimension")
    return len(codebooks), k, sub


def _probe_shape(
    codebooks: list[list[list[float]]],
    probes: list[tuple[int, list[float]]],
    who: str,
) -> tuple[int, int]:
    """``(m, dim)`` of PQ codebooks after :func:`_codebook_shape`, with
    every probe vector checked to have ``dim = m * sub`` components —
    the ADC tables slice the probe per subspace, so a short or long
    probe would otherwise be truncated into wrong distances."""
    m, _, sub = _codebook_shape(codebooks, who)
    dim = m * sub
    bad = [qid for qid, q in probes if len(q) != dim]
    if bad:
        raise ValueError(
            f"{who}: probe vectors must have {dim} components "
            f"(m={m} x sub={sub}), probes {bad[:3]} do not"
        )
    return m, dim


def pq_encode(corpus: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Encode every vector to its ``m`` nearest-subcentroid codes —
    pure map-side expressions over codebook plan constants (the
    ``cluster_assign`` argmin per subspace; ties (d, cid)-lexicographic
    so both engines agree). Zero shuffle. The expression carries m*k
    centroid literals per row, so codebook budgets stay below the
    thousands where whole-stage codegen gives out; this expression
    tier is the oracle-mirrorable path. Returns ``(id, pq_code array<int>)``.

    Raises ``ValueError`` unless ``codebooks`` is non-empty, every
    codebook holds the same number ``k >= 1`` of centroids and every
    centroid has the same sub-dimension ``>= 1``.
    """
    m, k, sub = _codebook_shape(codebooks, "pq_encode")
    # ONE rank-3 literal (m x k x sub) + a transform over the subspace
    # index: the per-subspace tree construction (m separate literal +
    # lambda trees, hundreds of py4j round-trips) still dominated plan
    # construction after the r14 nested-literal fix — fusing the m
    # subspaces into one indexed expression is O(1) in m (measured r17:
    # 1.47 -> 0.81 s build, codes bit-identical — same left-fold
    # squared distance and (d, cid)-lexicographic argmin per subspace)
    allb = F.lit([[[float(x) for x in c] for c in b] for b in codebooks])

    def _code(j: Column) -> Column:
        mat = F.element_at(allb, j + 1)

        def _nearest(sv):
            scored = _scored_centroids_mat(sv, mat, k)
            return F.element_at(F.array_sort(scored), 1)["cid"]

        # bind the sliced subvector once (single-evaluation hazard)
        return F.element_at(
            F.transform(
                F.array(F.slice(F.col("embedding"), j * sub + 1, sub)), _nearest
            ),
            1,
        )

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _code)
    return corpus.select(
        F.col("vec_id"), codes.cast("array<int>").alias("pq_code")
    )


def pq_adc_tables(
    codebooks: list[list[list[float]]], query: list[float]
) -> list[list[float]]:
    """The query's asymmetric-distance lookup tables:
    ``T[j][c] = ||q_j - codebook_j[c]||^2`` — computed ONCE driver-side
    in float64 and embedded as identical literals in the Spark plan and
    the DuckDB oracle (no cross-engine float derivation to disagree
    on)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    tables: list[list[float]] = []
    for j in range(m):
        qj = query[j * sub: (j + 1) * sub]
        tables.append(
            [
                sum((float(a) - float(b)) * (float(a) - float(b))
                    for a, b in zip(qj, c))
                for c in codebooks[j]
            ]
        )
    return tables


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    probes: list[tuple[int, list[float]]],
    k: int = 3,
) -> DataFrame:
    """ADC top-``k`` per probe over the ENCODED corpus: approximate
    distance = sum of ``m`` table lookups
    (``T_j[code_j]``, left-to-right double adds — bit-identical on any
    engine given identical codes and tables), ordered
    (distance, neighbor id) with ``TakeOrderedAndProject`` per probe.
    The corpus side reads only the ``m``-int code column — PQ's whole
    point at 100 TB: the scan is code-bandwidth, not vector-bandwidth,
    and no shuffle touches anything but the k survivors per probe.
    Returns ``(query_id, neighbor_id, adc_dist, rank)`` with the
    distance rounded to 6 for the cross-engine gate.

    Raises ``ValueError`` unless ``k >= 1``, ``probes`` is non-empty,
    ``codebooks`` has the shape :func:`pq_encode` requires and every
    probe vector has ``m * sub`` components."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not probes:
        raise ValueError("probes must be non-empty")
    _probe_shape(codebooks, probes, "pq_topk")
    # every probe branch scans the code relation; without a cut the
    # per-row argmin ENCODE expression upstream re-evaluates once per
    # probe (the emb_ivfpq_topk audit's finding — m x k x dim work
    # times n_probes). Materialize the m-int codes once; the branches
    # then read code bandwidth, which is PQ's whole point.
    encoded = encoded.select(F.col("vec_id"), "pq_code").localCheckpoint()
    parts = []
    for qid, qvec in probes:
        tables = pq_adc_tables(codebooks, list(qvec))
        dist = None
        for j, tj in enumerate(tables):
            term = F.element_at(
                F.array(*[F.lit(float(t)) for t in tj]),
                F.element_at("pq_code", j + 1) + 1,
            )
            dist = term if dist is None else (dist + term)
        scored = encoded.select(
            F.lit(qid).cast("long").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(dist, 6).alias("adc_dist"),
        )
        parts.append(scored.orderBy("adc_dist", "neighbor_id").limit(k))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return out.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC): coarse quantizer + product quantization on residuals
# ---------------------------------------------------------------------------

def centroid_matrix(centroids: list[list[float]]) -> Column:
    """The centroid table as one array-of-arrays plan constant."""
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )


def with_residual(corpus: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Coarse-assign every vector and attach its residual
    ``v - centroid[cluster]`` — the quantity IVFADC product-quantizes
    (Jégou et al. 2011 §IV: residuals are far more compressible than
    raw vectors, so the same code budget buys much lower distortion).
    Two chained projections keep every derived quantity
    single-evaluated (the PLANS.md outer-ref hazard): the cluster
    argmin lands as a REAL column first, then the residual reads it.
    Pure map-side — centroids are plan constants. Returns
    ``(id, cluster, residual array<double>)``."""
    v = F.col("embedding")
    scored = scored_centroids(v, centroids)
    assigned = corpus.select(
        F.col("vec_id"),
        v.alias("_v"),
        F.element_at(F.array_sort(scored), 1)["cid"].cast("int").alias("cluster"),
    )
    cent = F.element_at(centroid_matrix(centroids), F.col("cluster") + 1)
    return assigned.select(
        "vec_id",
        "cluster",
        F.zip_with(
            F.col("_v"), cent, lambda a, b: a.cast("double") - b
        ).alias("residual"),
    )


def ivfpq_train(
    corpus: DataFrame,
    n_clusters: int = 8,
    m: int = 8,
    k: int = 16,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the IVFADC index: coarse k-means centroids, then PQ
    codebooks over the RESIDUALS (train-once eager step — both
    artifacts are plan constants). Returns ``(centroids, codebooks)``."""
    centroids = kmeans_train_fx(
        corpus, n_clusters=n_clusters, iters=INDEX_ITERS
    )
    res = with_residual(corpus, centroids)
    books = pq_train(res, m=m, k=k, vec_col="residual")
    return centroids, books


def ivfpq_encode(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Encode the corpus for IVFADC: coarse cluster + ``m`` residual
    subspace codes per vector — all map-side expression work over plan
    constants, zero shuffle. In production the encoded table is
    WRITTEN PARTITIONED BY ``cluster`` so a query's scan touches only
    its ``n_probe`` inverted lists (partition pruning does the list
    selection); the in-memory form here filters on the cluster column
    instead — same plan semantics, file skipping aside. Returns
    ``(id, cluster, pq_code array<int>)``.

    Raises ``ValueError`` on the same ``codebooks`` shapes as
    :func:`pq_encode`: empty, unequal ``k``, or ragged centroids."""
    m, k, sub = _codebook_shape(codebooks, "ivfpq_encode")
    res = with_residual(corpus, centroids)
    # same m-subspace fusion as pq_encode (one rank-3 literal, O(1)
    # plan in m); the per-subspace argmin mirrors nearest_centroids'
    # (distance, cid)-lexicographic pick exactly
    allb = F.lit([[[float(x) for x in c] for c in b] for b in codebooks])

    def _code(j: Column) -> Column:
        mat = F.element_at(allb, j + 1)

        def _nearest(sv):
            scored = _scored_centroids_mat(sv, mat, k)
            return F.element_at(F.array_sort(scored), 1)["cid"]

        return F.element_at(
            F.transform(
                F.array(F.slice(F.col("residual"), j * sub + 1, sub)),
                _nearest,
            ),
            1,
        )

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), _code)
    return res.select(
        F.col("vec_id"), "cluster",
        codes.cast("array<int>").alias("pq_code"),
    )


def ivfpq_topk(
    encoded: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    probes: list[tuple[int, list[float]]],
    k: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """IVFADC top-``k``: per probe, rank the coarse centroids
    DRIVER-SIDE (centroids are plan constants — the ranking is
    arithmetic on literals, not a job), visit the ``n_probe`` nearest
    inverted lists, and within each list estimate
    ``||q - (centroid + residual)||^2`` as the ADC sum over tables
    built from ``q - centroid_c`` — m lookups per candidate, the
    partition-pruned code-bandwidth scan that makes IVFADC the
    standard billion-scale layout.

    Plan: ONE pass — the ``(query, probed cluster, lookup tables)``
    relation (``probes × n_probe`` rows of driver-computed literals)
    broadcast-joins the code table on ``cluster``, so a code row is
    read once and scored only for the queries that probed its list;
    then one rank window per query. An earlier shape built a
    ``TakeOrderedAndProject`` branch per (probe, list) — plan width
    (and local wall-clock) grew linearly in ``probes × n_probe`` for
    the same rows read. The window shuffles only probed-list
    candidates (|list| × n_probe per query — exactly the rows IVFADC
    scans by contract). Returns
    ``(query_id, neighbor_id, cluster, adc_dist, rank)``.

    Raises ``ValueError`` unless ``k >= 1``, ``1 <= n_probe <=
    len(centroids)``, ``probes`` is non-empty, ``codebooks`` has the
    shape :func:`pq_encode` requires, and every probe vector and every
    centroid has ``m * sub`` components."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 1 <= n_probe <= len(centroids):
        raise ValueError(
            f"n_probe must be in [1, {len(centroids)}], got {n_probe}"
        )
    if not probes:
        raise ValueError("probes must be non-empty")
    m, dim = _probe_shape(codebooks, probes, "ivfpq_topk")
    if any(len(c) != dim for c in centroids):
        raise ValueError(f"ivfpq_topk: centroids must have {dim} components")
    rows = []
    for qid, qvec in probes:
        coarse = sorted(
            (
                sum((float(a) - float(b)) ** 2 for a, b in zip(qvec, c)),
                cid,
            )
            for cid, c in enumerate(centroids)
        )[:n_probe]
        for _, cid in coarse:
            resq = [
                float(a) - float(b) for a, b in zip(qvec, centroids[cid])
            ]
            rows.append((qid, cid, pq_adc_tables(codebooks, resq)))
    probe_rel = encoded.sparkSession.createDataFrame(
        rows, "query_id long, cluster int, tabs array<array<double>>"
    )
    dist = None
    for j in range(m):
        term = F.element_at(
            F.element_at("tabs", j + 1), F.element_at("pq_code", j + 1) + 1
        )
        dist = term if dist is None else (dist + term)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        encoded.join(F.broadcast(probe_rel), "cluster")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cluster",
            F.round(dist, 6).alias("adc_dist"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


#: Fixed-point grid of the distributed k-means centroid updates:
#: coordinate sums ride an integer lattice so any partial-aggregation
#: order gives the bit-same centroid on every engine (the
#: ``token_divergence`` / ``host_pagerank`` convention).
KMEANS_FX_SCALE = 10**6

#: Lloyd iterations of the IVF, PQ, IVF-PQ and SemDeDup indexes: the
#: index needs balanced-ish lists, not converged centroids — recall is
#: governed by ``n_probe``, and each extra iteration is a corpus pass.
INDEX_ITERS = 5


def kmeans_train_fx(
    corpus: DataFrame,
    n_clusters: int = 8,
    iters: int = 4,
) -> list[list[float]]:
    """Lloyd's k-means with exactly-reproducible arithmetic — the one
    k-means every index trains through (IVF lists, PQ and IVF-PQ
    codebooks, SemDeDup clusters). Float centroid sums depend on how
    the data is partitioned; these do not, so every artifact hashes the
    same at any core count.

    - **Init**: the ``n_clusters`` rows with the smallest
      ``(md5(id), id)`` — a deterministic scatter (md5 is a uniform
      hash, so seeds are corpus-spread), one TakeOrdered, k vectors
      collected (model-scale).
    - **Iteration**: one :func:`fixpoint.exact_sums` pass of
      :func:`_fx_partial_sums`, which assigns every row to its nearest
      centroid (the :func:`nearest_centroids` arithmetic: a left fold
      of ``(a-b)*(a-b)`` over doubles from ``0.0``, ties to the lowest
      cid) and sums its coordinates per cluster on the
      :data:`KMEANS_FX_SCALE` integer lattice (HALF_UP ``round(x *
      fx)``); the driver sets ``c = s / (fx * n)``. The centroids are
      therefore bit-identical in either tier and under any
      partitioning, which lets the DuckDB oracle replay the ENTIRE
      training fixpoint (plans/ml_ops.py ``ORACLE_EMB_KMEANS_TRAIN``).
      Empty clusters keep their previous centroid.

    int64 headroom is ``|x| * fx * rows`` per (cluster, coordinate) —
    at |x| <= 8, fx 1e6, that allows ~1e12 member rows per cluster
    before overflow; raise the grid coarser or split the sum
    hierarchically beyond that.
    """
    return _lloyd_fx(corpus, n_clusters, 1, "embedding", iters)[0]


def _lloyd_fx(
    corpus: DataFrame, k: int, m: int, vec_col: str, iters: int
) -> list[list[list[float]]]:
    """The Lloyd's loop of :func:`kmeans_train_fx`, run independently
    over the ``m`` contiguous subspaces of ``vec_col`` in the same
    passes (``m = 1`` is plain k-means; :func:`pq_train` passes its
    subspace count). Every subspace seeds from the same md5-smallest
    ``k`` rows. Returns ``books[j]`` = the ``k`` centroids of subspace
    ``j``."""
    if k < 1:
        raise ValueError(f"n_clusters must be >= 1, got {k}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    seeds = (
        corpus.select(F.col("vec_id"), F.col(vec_col))
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"k-means: corpus has {len(seeds)} rows < k={k}")
    dim = len(seeds[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    sub = dim // m
    books = [
        [[float(x) for x in r[vec_col][j * sub:(j + 1) * sub]] for r in seeds]
        for j in range(m)
    ]
    fx = float(KMEANS_FX_SCALE)
    with exact_sums(corpus, [vec_col]) as total:
        for _ in range(iters):
            tot = total(_fx_partial_sums(books, vec_col))
            counts, sums = tot[:m * k], tot[m * k:]
            for i, n in enumerate(counts):
                if n:
                    books[i // k][i % k] = [
                        float(x) / (fx * float(n))
                        for x in sums[i * sub:(i + 1) * sub]
                    ]
    return books


def _fx_partial_sums(books: "list[list[list[float]]]", vec_col: str):
    """The :func:`_lloyd_fx` kernel: for every subspace ``j``, assign
    each row to its nearest centroid of ``books[j]`` and sum the member
    coordinates on the :data:`KMEANS_FX_SCALE` lattice. Returns the
    ``m*k`` member counts, then the ``m*k*sub`` coordinate sums."""
    import numpy as np

    C = np.asarray(books, dtype=np.float64)  # (m, k, sub)
    m, k, sub = C.shape
    Ct = np.ascontiguousarray(C.transpose(2, 0, 1))  # (sub, m, k)

    def _sums(cols):
        X = cols[vec_col].reshape(-1, m, sub)
        Xt = np.ascontiguousarray(X.transpose(2, 1, 0))  # (sub, m, rows)
        # the expression path's fold over coordinates: no BLAS, no
        # pairwise sum; rows on the contiguous axis
        d = np.zeros((m, k, len(X)))
        diff = np.empty_like(d)
        for t in range(sub):
            np.subtract(Xt[t][:, None, :], Ct[t][:, :, None], out=diff)
            d += np.multiply(diff, diff, out=diff)
        lab = np.argmin(d, axis=1).T  # first minimum = lowest cid
        q = half_up(X * float(KMEANS_FX_SCALE))
        S = np.zeros((m, k, sub), dtype=np.int64)
        N = np.zeros((m, k), dtype=np.int64)
        jj = np.broadcast_to(np.arange(m), lab.shape)
        np.add.at(S, (jj, lab), q)
        np.add.at(N, (jj, lab), 1)
        return np.concatenate([N.ravel(), S.ravel()])

    return _sums


def jl_matrix(k: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 Johnson-Lindenstrauss projection matrix
    (Achlioptas 2003: Rademacher entries satisfy the JL lemma with the
    same guarantees as gaussians) — one md5-derived sign per cell, a
    plan-time constant like :func:`_hyperplane`."""
    out = []
    for j in range(k):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"jl:{j}:dim:{i}".encode()).digest()
            row.append(1.0 if h[0] & 1 else -1.0)
        out.append(row)
    return out


def jl_project(corpus: DataFrame, out_dim: int = 16, dim: int = 64) -> DataFrame:
    """JL random projection ``R^dim -> R^out_dim``: ``y = R v /
    sqrt(out_dim)`` with the deterministic ±1 matrix of
    :func:`jl_matrix` — the cheap-ANN / sketching primitive (pairwise
    distances preserved within ``1 ± eps``, eps ~ sqrt(ln n / k)).
    Pure map-side: ONE nested-array literal + three lambdas (the
    ``scored_centroids`` construction discipline), zero shuffle at any
    scale. Output coordinates are rounded to 6 for the cross-engine
    gate. Returns ``(id, proj array<double>)``."""
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    mat = F.lit(jl_matrix(out_dim, dim))
    scale = F.sqrt(F.lit(float(out_dim)))

    def _proj(v: Column) -> Column:
        return F.transform(
            mat,
            lambda r: F.round(
                F.aggregate(
                    F.zip_with(v, r, lambda a, b: a.cast("double") * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / scale,
                6,
            ),
        )

    from scraping_etl_spark.operators.dedup import _bind

    return corpus.select(
        F.col("vec_id"), _bind(F.col("embedding"), _proj).alias("proj")
    )
