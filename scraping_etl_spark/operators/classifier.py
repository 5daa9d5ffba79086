"""Trainable linear quality classifier over text features.

The GPT-3 / CCNet corpus builds filter raw text with a lightweight
linear classifier trained to separate curated from raw documents
(GPT-3 appendix A: logistic regression over tf-idf-ish features;
CCNet: a fastText linear model). This module is that shape on Spark:

- :func:`quality_features` — per-document feature vector from pure
  built-ins (zero shuffle, zero UDFs).
- :func:`train_logreg` — full-batch gradient-descent logistic
  regression whose gradient is an integer-lattice sum
  (:data:`GRAD_FX_SCALE`) through :func:`fixpoint.exact_sums`: under
  the driver cap the labeled set is collected once and the whole fit
  is one job; past it each iteration is one ``mapInPandas`` job whose
  collect is O(d) longs of MODEL state, not data. Train on a
  curated+bounded labeled set — classifier training data is small by
  construction; at 100 TB you train on a sample and SCORE the lake.
- :func:`score_logreg` — sigmoid(w·x) with the learned weights as
  plan constants: pure map, zero shuffle at any scale, and exactly
  mirrorable in the DuckDB oracle (same left-to-right dot fold).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark.operators.fixpoint import exact_sums, half_up
from scraping_etl_spark.operators.textstats import (
    stopword_ratio,
    tokens,
)

#: Feature names, in vector order (index 0 is the bias term).
FEATURE_NAMES = (
    "bias",
    "log_tokens",
    "distinct_ratio",
    "stopword_ratio",
    "mean_token_len",
    "nonalpha_ratio",
)


def quality_features(df: DataFrame) -> DataFrame:
    """Append ``features`` (array<double>, :data:`FEATURE_NAMES` order):
    bias 1.0, ln(1+tokens), distinct-token ratio, English stopword
    ratio, mean token length, non-[a-z0-9 ] character ratio — each a
    bounded built-in expression (no UDF, no shuffle)."""
    toks = tokens("text")
    n = F.size(toks)
    n1 = F.greatest(n, F.lit(1))
    text = F.col("text")
    nonalpha = F.length(F.regexp_replace(F.lower(text), "[a-z0-9 ]", ""))
    feats = F.array(
        F.lit(1.0),
        F.log(F.lit(1.0) + n),
        (F.size(F.array_distinct(toks)) / n1).cast("double"),
        stopword_ratio("text").cast("double"),
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
            / n1
        ).cast("double"),
        (nonalpha / F.greatest(F.length(text), F.lit(1))).cast("double"),
    )
    return df.withColumn("features", feats)


def _dot_const(weights: list[float], vec: Column) -> Column:
    """w·x with the weights as literals, associated left-to-right —
    the same fold order the SQL oracle writes out explicitly."""
    acc = F.lit(0.0)
    for i, w in enumerate(weights):
        acc = acc + F.lit(float(w)) * F.element_at(vec, i + 1)
    return acc


#: Fixed-point grid of the logistic-regression gradient: each row's
#: ``(sigmoid(w·x) − y)·x_j`` rounds HALF_UP to a multiple of 1e-9, so
#: the gradient is an exact integer sum. As ``|(p − y)·x_j| <= |x_j|``,
#: int64 holds while ``rows * max|x_j| < 9.2e9``: at sf0.1 the quality
#: features peak at 8 and the 32 hashed ones at ~55 (~1e9, ~1.7e8 rows).
GRAD_FX_SCALE = 10**9


def train_logreg(
    labeled: DataFrame,
    dim: int,
    lr: float = 0.5,
    iters: int = 40,
) -> list[float]:
    """Batch-GD logistic regression; returns the learned weights.

    Each iteration sums the :data:`GRAD_FX_SCALE` lattice gradient
    ``g_j = Σ round((sigmoid(w·x) − y)·x_j · fx)`` with one
    :func:`fixpoint.exact_sums` pass of a numpy kernel (``w·x`` is the
    left-to-right fold of :func:`_dot_const`) and updates
    ``w_j -= lr · g_j / (fx · n)`` on the driver. Under the driver cap
    the labeled set is collected once and the whole fit is one job;
    the labeled set should be the bounded curated sample, not the
    lake."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    import numpy as np

    cols = [
        F.col("features").alias("_x"),
        F.col("label").cast("double").alias("_y"),
    ]
    fx = float(GRAD_FX_SCALE)
    w = [0.0] * dim

    def grad_sums(cols):  # the row count, then Σ round((p − y)·x_j · fx)
        X = cols["_x"][:, :dim]
        z = np.zeros(len(X))
        for j, wj in enumerate(w):
            z = z + wj * X[:, j]
        e = 1.0 / (1.0 + np.exp(-z)) - cols["_y"]
        g = half_up(e[:, None] * X * fx).sum(axis=0)
        return np.concatenate([[len(X)], g])

    with exact_sums(labeled, cols) as total:
        for _ in range(iters):
            tot = total(grad_sums)
            if not tot:
                raise ValueError("train_logreg: empty labeled set")
            w = [w[j] - lr * (tot[j + 1] / (fx * tot[0])) for j in range(dim)]
    return w


def score_logreg(df: DataFrame, weights: list[float]) -> DataFrame:
    """Append ``sigmoid(w·x)`` (rounded 6) with ``weights`` as plan
    constants — pure map-side scoring, the deployment path."""
    z = _dot_const(weights, F.col("features"))
    return df.withColumn(
        "quality_prob", F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    )


# ---------------------------------------------------------------------------
# Hashing-trick TF-IDF featurization (Weinberger et al. 2009)
# ---------------------------------------------------------------------------

#: Default feature-space width — the idf side-table is bounded at this
#: many rows REGARDLESS of vocabulary size, which is the whole point.
HASH_FEATURES = 1024


def _hashed_tf(df: DataFrame, n_features: int) -> DataFrame:
    """The ``(doc_id, slot, tf)`` relation both hashed-feature paths
    start from: lowercased tokens hash to ``[0, n_features)`` by the
    md5-prefix convention (portable to the DuckDB oracle bit-for-bit,
    not xxhash64), then one partial-agg groupBy counts each
    (doc, slot)."""
    slot = F.pmod(
        F.conv(F.substring(F.md5(F.col("_tok")), 1, 15), 16, 10).cast("long"),
        F.lit(n_features),
    )
    return (
        df.select(
            F.col("doc_id"), F.explode(tokens("text", lowercase=True)).alias("_tok")
        )
        .withColumn("slot", slot)
        .groupBy("doc_id", "slot")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def hashing_tfidf(
    df: DataFrame,
    n_features: int = HASH_FEATURES,
    return_idf: bool = False,
    materialize_tf: bool = False,
    n_docs: int | None = None,
):
    """Sparse TF-IDF document features via the hashing trick
    (Weinberger et al. 2009, "Feature Hashing for Large Scale
    Multitask Learning"): each token hashes to a fixed slot in
    ``[0, n_features)``; tf is the per-(doc, slot) count, idf is the
    smoothed slot document-frequency ``ln((N+1)/(df+1)) + 1``
    (scikit-learn's convention) computed over SLOTS.

    Why this shape at 100 TB: a real vocabulary is unbounded, so an
    exact tf-idf needs a vocabulary-sized dictionary join; hashing
    fixes the feature space up front, making the idf side-table at
    most ``n_features`` rows — always broadcastable, independent of
    corpus size. Slot collisions are the documented trade (two rare
    tokens sharing a slot add their counts); at the default width the
    collision mass is negligible for classifier features, and the
    downstream consumer (:func:`train_logreg` on exploded features,
    or cosine similarity over the sparse rows) is collision-agnostic.

    The slot hash is :func:`_hashed_tf`'s md5-prefix convention.
    Output is the SPARSE relation ``(doc_id, slot, tf, tfidf)`` —
    join-ready and explode-free downstream; assemble a dense array
    only at the model boundary.

    Plan: explode -> partial-agg groupBy (doc, slot) -> slot df agg
    (bounded at n_features rows) broadcast back. Two bounded
    exchanges, no UDFs.

    ``materialize_tf`` localCheckpoints the (doc, slot, tf) relation:
    a TRAINER that eagerly consumes both outputs (collects the idf AND
    materializes the features) would otherwise execute the tf
    aggregation twice — pass True there, leave False on lazy serve
    paths. ``n_docs`` lets a caller that already knows the distinct
    document count skip the internal count job (must equal
    ``df.select("doc_id").distinct().count()``). Both are pure
    cost knobs: the output relation is unchanged.
    """
    if n_features < 2:
        raise ValueError(f"n_features must be >= 2, got {n_features}")
    tf = _hashed_tf(df, n_features)
    if materialize_tf:
        tf = tf.localCheckpoint()
    if n_docs is None:
        n_docs = df.select("doc_id").distinct().count()  # O(1)-row scalar
    idf = (
        tf.groupBy("slot")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .select(
            "slot",
            (
                F.log(
                    (F.lit(float(n_docs + 1)))
                    / (F.col("_df").cast("double") + F.lit(1.0))
                )
                + F.lit(1.0)
            ).alias("_idf"),
        )
    )
    out = tf.join(F.broadcast(idf), "slot").select(
        "doc_id",
        "slot",
        "tf",
        F.round(F.col("tf") * F.col("_idf"), 6).alias("tfidf"),
    )
    if return_idf:
        # (slot, _idf) at <= n_features rows — the learned idf side of
        # the model, for deployments that freeze it as plan constants
        # (see :func:`score_hashed_logreg`).
        return out, idf
    return out


#: Fixed-point grid of the sparse dot fold (integer summation is
#: associative — any partial-agg order gives the bit-same total in
#: Spark and the DuckDB oracle; the ``token_divergence`` convention).
DOT_FX_SCALE = 10**12


def dense_from_sparse(sparse: DataFrame, n_features: int) -> DataFrame:
    """(id, slot, value) → (id, array<double> dense) via ``n_features``
    conditional partial aggs — no pivot, no collect; one shuffle at id
    cardinality. For the BOUNDED model-boundary assembly (training
    sets), not the lake."""
    sums = sparse.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("slot") == i, F.col("tfidf")).otherwise(0.0)
            ).alias(f"_f{i}")
            for i in range(n_features)
        ]
    )
    return sums.select(
        "doc_id",
        F.array(*[F.col(f"_f{i}") for i in range(n_features)]).alias("dense"),
    )


def score_hashed_logreg(
    df: DataFrame,
    idf: list[float],
    weights: list[float],
    n_features: int,
) -> DataFrame:
    """Deployment scoring of the bag-of-hashed-words linear classifier
    (the fastText / GPT-3-appendix-A quality-filter shape): the MODEL
    is ``idf`` (per-slot idf learned from the training corpus) plus
    ``weights`` (bias first, then one weight per slot), all plan
    constants — so scoring the lake needs NO corpus-wide statistics
    pass: explode tokens, hash to slots (md5-prefix convention,
    oracle-portable), per-(doc, slot) tf partial-agg, then a
    fixed-point sparse dot ``z = w0 + sum(round(w[s]·tfidf·FX))/FX``
    whose integer summation is order-free (:data:`DOT_FX_SCALE`).
    One shuffle at (doc, slot) grain, zero joins against anything
    corpus-sized. Tokenless documents score ``sigmoid(w0)``.
    """
    if len(idf) != n_features:
        raise ValueError(f"idf must have {n_features} entries, got {len(idf)}")
    if len(weights) != n_features + 1:
        raise ValueError(
            f"weights must have {n_features + 1} entries (bias first), "
            f"got {len(weights)}"
        )
    tf = _hashed_tf(df, n_features)
    idf_arr = F.array(*[F.lit(float(v)) for v in idf])
    w_arr = F.array(*[F.lit(float(w)) for w in weights[1:]])
    at = (F.col("slot") + 1).cast("int")
    tfidf = F.round(F.col("tf") * F.element_at(idf_arr, at), 6)
    term = F.round(
        F.element_at(w_arr, at) * tfidf * F.lit(float(DOT_FX_SCALE)), 0
    ).cast("long")
    zfx = tf.select(F.col("doc_id"), term.alias("_fx")).groupBy("doc_id").agg(
        F.sum("_fx").alias("_zfx")
    )
    z = F.lit(float(weights[0])) + F.coalesce(
        F.col("_zfx"), F.lit(0)
    ) / F.lit(float(DOT_FX_SCALE))
    return (
        df.select("doc_id")
        .join(zfx, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_prob"),
        )
    )
