"""Count-min-sketch heavy-hitter estimation (Cormode & Muthukrishnan
2005, "An improved data stream summary: the count-min sketch and its
applications").

Third member of the sketch tier beside the HLL corpus profile
(``plans/ml_ops.q_doc_corpus_profile_hll``) and the KLL quantile
sketch (``corpus_prep.stratified_quantiles_sketch``): where those
answer "how many distinct" and "what value sits at rank q", the CMS
answers "how often does THIS item occur" in sub-linear state. At
100 TB the exact token-frequency table (``textstats.vocab_topk``)
shuffles every distinct token; the CMS build shuffles at most
``depth x width`` counter cells regardless of vocabulary size, so the
reduce side is O(1) in the corpus and the map side is one partial
aggregation per counter cell.

Design notes (Spark-first):

- The sketch is a DataFrame of ``(seed, bucket, cnt)`` — never a
  driver-side array. Build = explode tokens -> unpivot over the
  ``depth`` hash seeds (``stack``) -> ``groupBy(seed, bucket)``.
  Partial aggregation collapses each task to <= depth x width rows
  before the shuffle, so the exchange volume is bounded by the
  sketch size, not the token count.
- Hashes are ``xxhash64(token, seed)`` with literal integer seeds:
  deterministic plan constants, identical across runs/partitionings,
  no RNG state.
- Point estimates join candidates to the broadcast sketch on
  ``(seed, bucket)`` and take ``min(cnt)`` over the depth rows —
  the classic CMS estimator. The sketch is depth x width rows
  (~10^4 at the defaults) and ALWAYS broadcastable by construction.
- Error contract: estimates never undercount; overcount is bounded
  by eps*N (eps = e/width, N = total occurrences) with probability
  1 - delta (delta = e^-depth). The registry gate
  (``plans/corpus_ops.q_doc_heavy_hitters``) asserts both bounds as
  verdict columns next to hash-checked exact counts.

Candidate sets: a CMS answers point queries; it does not enumerate
heavy hitters by itself. Callers pass the candidate tokens to score —
in the registry gate that is the exact top-k (so the gate checks the
sketch against ground truth); in production the candidate set comes
from a cheap per-partition pre-filter (e.g. per-partition local top-m,
which over-generates but never misses a global heavy hitter that is
heavy in at least one partition).

Reference anchor: the reference engine has no sketch surface (its
frequency profile is the notebook ``value_counts`` cell,
``ETL.ipynb``); this module is part of the beyond-reference
LLM-pipeline tier the build plan calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark.operators.textstats import tokens

#: Default geometry: eps = e/1024 ~ 0.27% of total occurrences,
#: delta = e^-5 ~ 0.7% per point query.
CMS_WIDTH = 1024
CMS_DEPTH = 5


def _bucket(token: Column, seed: int, width: int) -> Column:
    """Row ``seed``'s counter index for ``token`` — xxhash64 with a
    literal seed, reduced mod width. pmod keeps it non-negative."""
    return F.pmod(F.xxhash64(token, F.lit(seed)), F.lit(width))


def cms_build(
    df: DataFrame,
    text_col: str = "text",
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Build a count-min sketch over the token stream of ``text_col``.

    Returns ``(seed, bucket, cnt)`` with at most ``depth * width``
    rows. One explode + one bounded-cardinality groupBy; the stack
    unpivot multiplies rows map-side only — partial aggregation
    collapses them to sketch cells before the exchange.
    """
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    tok = df.select(
        F.explode(tokens(text_col, lowercase=True)).alias("token")
    )
    cells = ", ".join(
        f"{seed}, pmod(xxhash64(token, {seed}), {width})"
        for seed in range(depth)
    )
    rows = tok.select(
        F.expr(f"stack({depth}, {cells}) AS (seed, bucket)")
    )
    return rows.groupBy("seed", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Point-estimate each candidate token's occurrence count.

    ``width``/``depth`` MUST match the geometry ``sketch`` was built
    with — a mismatch silently breaks the never-undercount guarantee
    (probes hash into cells the build never filled). Because every
    token contributes one row per seed, a non-empty sketch always
    contains seeds ``0..depth-1`` and only buckets ``< width``, so by
    every call runs a bounded probe (one tiny agg over the
    <= depth x width-row sketch) and raises ``ValueError`` on
    ``max(seed)+1 != depth`` or ``max(bucket) >= width``. An EMPTY
    sketch is unverifiable (and harmless — every estimate coalesces
    to 0).

    ``candidates`` keeps all its columns and gains ``cms_est``. The
    sketch is broadcast (bounded at depth x width rows by
    construction); the join is a hash equi-join on (seed, bucket) and
    the min-over-depth is one partial-agg groupBy on the candidate
    key — no shuffle touches anything corpus-sized.

    A bucket no candidate token hashed into may be absent from the
    sketch relation (sparse representation); a candidate whose bucket
    row is missing has true count 0 in every row, and the inner join
    simply drops it — callers that score never-seen tokens should
    ``coalesce`` after a left join on the output. The registry gate's
    candidates are by construction present (they come from the same
    corpus the sketch summarizes).
    """
    geo = sketch.agg(
        F.max("seed").alias("_ms"), F.max("bucket").alias("_mb")
    ).collect()[0]
    if geo["_ms"] is not None and (
        geo["_ms"] + 1 != depth or geo["_mb"] >= width
    ):
        raise ValueError(
            "cms_estimate: sketch geometry mismatch — sketch has "
            f"max seed {geo['_ms']} / max bucket {geo['_mb']} but the "
            f"caller passed depth={depth}, width={width}; the "
            "never-undercount guarantee would silently break"
        )
    probes = candidates.select(
        F.col("token"),
        F.expr(
            "stack({d}, {cells}) AS (seed, bucket)".format(
                d=depth,
                cells=", ".join(
                    f"{s}, pmod(xxhash64(token, {s}), {width})"
                    for s in range(depth)
                ),
            )
        ),
    )
    est = (
        probes.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("token")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return candidates.join(F.broadcast(est), "token", "left").withColumn(
        "cms_est", F.coalesce(F.col("cms_est"), F.lit(0))
    )


def heavy_hitter_candidates(df: DataFrame, m: int, n_buckets: int = 64) -> DataFrame:
    """Candidate generation for the CMS point queries — per-BUCKET
    top-``m`` tokens by count, where the bucket is derived from the
    token itself (``pmod(xxhash64(token), n_buckets)``).

    Exactness guarantee (why this over-generates but never misses):
    a token always lands in the same bucket, so its in-bucket count IS
    its global count; if it belongs to the global top-m, fewer than m
    tokens anywhere — hence in its own bucket — outrank it, so it is
    top-m in its bucket. Global top-m ⊆ candidates, |candidates| <=
    n_buckets x m. (Contrast per-PARTITION top-m, which has no such
    guarantee: a token's count is split across partitions.)

    Plan: one partial-aggregated groupBy(token) — the same exchange
    the exact vocab build pays — but the ranking windows run per
    bucket (n_buckets task-sized sorts) instead of one global
    TakeOrdered over the full vocabulary, and the output is bounded,
    which is what the downstream sketch estimate / exact re-count
    needs. Returns ``(token, n_occ)``.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(tokens("text", lowercase=True)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .withColumn(
            "_b", F.pmod(F.xxhash64("token"), F.lit(n_buckets))
        )
    )
    w = Window.partitionBy("_b").orderBy(F.desc("n_occ"), F.asc("token"))
    return (
        counts.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= m)
        .select("token", "n_occ")
    )
