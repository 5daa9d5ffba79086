"""Deduplication operators for large-scale training-data pipelines.

North-star extension (the reference stops at ``dropDuplicates`` — SURVEY
§2.4 A2); these are the operators a 100 TB corpus actually needs:

- :func:`exact_dup_groups` — exact duplicates via content-hash groupBy
  (one partial-agg shuffle; the canonical first pass).
- :func:`minhash_lsh_pairs` — near-duplicate pairs via word-shingle
  MinHash signatures + banded LSH. The shuffle key is the band hash, so
  candidate generation touches only docs that collide in ≥1 band —
  NEVER an all-pairs cross join. Candidates are then verified with the
  exact shingle-set Jaccard.
- :func:`simhash_column` — per-document SimHash (sign-aggregated token
  hashes); Hamming-close SimHashes ⇒ similar token bags. One scan.
- :func:`dedup_clusters` — pair graph → connected components (iterated
  hash-min label propagation), turning pairwise matches into the
  one-survivor-per-cluster collapse a deduped corpus needs.
- :func:`jaccard` / :func:`word_shingles` — the shared primitives.

Determinism design: the base hash is ``md5`` (bit-identical in every
engine) and the MinHash family is Carter-Wegman universal hashing
``(a·h + b) mod p`` over the md5-derived 28-bit shingle hash, with
``(a, b)`` drawn once from a fixed-seed PRNG (:func:`minhash_params`) —
plain 64-bit integer arithmetic that the DuckDB correctness oracle
reproduces bit-for-bit. No RNG state at run time, no Python UDFs; the
whole pipeline is JVM-side and whole-stage-codegen'd.

Scale notes: signatures are computed per-row with ``array_min`` over
the shingle-hash array — no explode, no shuffle; the only shuffles are
the band-hash self-join (``bands`` small rows per doc, uniform md5
key) and the candidate-verification joins on doc id. Skewed buckets
(boilerplate near-dup clusters) are handled by AQE skew-join.

Single-evaluation hazard (cost lesson baked into this module): a
``transform`` lambda that references a *derived* column expression
(e.g. ``split(text)``) re-evaluates that expression for EVERY array
element — O(n²) per row. :func:`_bind` forces one evaluation by
wrapping the expression in a 1-element array and binding it as the
lambda variable of an outer ``transform``.
"""

from __future__ import annotations

import random
import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from scraping_etl_spark.operators.textstats import tokens

#: Modulus of the universal-hash family: the Mersenne prime 2^31-1.
#: With 28-bit base hashes and a < p, a·h + b < 2^59 — no bigint
#: overflow under ANSI mode in either engine.
MINHASH_PRIME = 2_147_483_647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """The (a, b) coefficients of the ``(a·h + b) mod p`` family —
    fixed-seed, so Spark plans and DuckDB oracle SQL agree run-to-run."""
    rnd = random.Random(0x5EED)
    return [
        (rnd.randrange(1, MINHASH_PRIME), rnd.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once and pass it to ``fn`` as a lambda-bound
    variable (see the module docstring's single-evaluation hazard)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def word_shingles(text_col: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles of ``text_col`` (empty array when the
    document has fewer than ``k`` tokens). The token array is bound
    once; per-shingle work is a ``slice`` + ``array_join`` over it."""

    def _shingle(t: Column) -> Column:
        n = F.size(t)
        idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(t, i, k), " "))
        )

    return _bind(tokens(text_col), _shingle)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays,
    rounded to 6 so both engines agree on the wire value."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / F.greatest(union, F.lit(1)), 6)


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Exact-duplicate groups via content hash (SURVEY A2 at corpus
    scale): one partial-agg shuffle on md5(text); only groups with ≥2
    members survive (``normalize.normalized_dup_families`` is the
    canonical-form variant that catches trivially-reformatted copies)."""
    return (
        df.select(F.md5("text").alias("dup_key"), F.col("doc_id"))
        .groupBy("dup_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def minhash_banded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Shared signature/banding stage of the MinHash pipeline: returns
    ``(docs, banded)`` — per-doc distinct shingle sets ``(_id, _sh)``
    and the exploded ``(_id, _band_idx, _band_hash)`` bucket rows.
    Factored out of :func:`minhash_lsh_pairs` (same expressions,
    bit-identical signatures) so :func:`cross_corpus_neardup_pairs`
    bands both corpora with the same arithmetic."""
    assert num_hashes % bands == 0, "num_hashes must divide into bands"
    r = num_hashes // bands
    params = minhash_params(num_hashes)
    docs = (
        df.select(F.col(id_col).alias("_id"), word_shingles(F.col(text_col), k).alias("_sh"))
        .filter(F.size("_sh") > 0)
    )

    def _uhash(a: int, b: int):
        # closure factory keeps the transform lambda unary (a default
        # arg would make PySpark treat it as an (element, index) lambda)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)

    hashed = docs.withColumn(
        "_hs",
        F.transform(
            "_sh",
            lambda x: F.conv(F.substring(F.md5(x), 1, 7), 16, 10).cast("long"),
        ),
    )
    sig = hashed.select(
        "_id",
        *[
            F.array_min(F.transform("_hs", _uhash(a, b))).alias(f"_m{s}")
            for s, (a, b) in enumerate(params)
        ],
    )
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("_band_idx"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.lit(str(j)),
                                *[
                                    F.col(f"_m{j * r + i}").cast("string")
                                    for i in range(r)
                                ],
                            )
                        ).alias("_band_hash"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", F.col("_b._band_idx").alias("_band_idx"), F.col("_b._band_hash").alias("_band_hash"))
    return docs, banded


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs: shingle → MinHash → banded LSH → verify.

    Each shingle hashes ONCE to a 28-bit integer (md5-hex prefix), and
    the MinHash for seed ``s`` is ``min((a_s·h + b_s) mod p)`` over the
    hash array — Carter-Wegman universal hashing with fixed-seed
    coefficients (:func:`minhash_params`), plain integer arithmetic the
    DuckDB oracle mirrors bit-for-bit.

    Plan shape (the scale-critical part):
    1. one projection computes the shingle-hash array per row; the
       whole num_hashes-signature is ``array_min`` expressions over
       it — per-row, no explode, no shuffle, fully codegen'd;
    2. each band's ``rows_per_band`` mins fold into one md5 band
       digest; docs explode to just ``bands`` (band_idx, band_hash)
       rows;
    3. self-equi-join on (band_idx, band_hash) with ``id_a < id_b``
       yields candidate pairs *within buckets only* (shuffle key = band
       hash — no cross join anywhere);
    4. distinct candidate pairs re-join the shingle sets and the exact
       Jaccard filters at ``threshold``.

    Banding with b bands of r rows targets the usual s-curve threshold
    ``(1/b)^(1/r)``; the defaults (16 hashes, 4 bands of 4) sit at
    ≈0.71, so pairs above ~0.8 are caught with probability >0.99 while
    unrelated pairs almost never collide. At scale pass
    ``num_hashes=128, bands=16`` (16 bands of 8 — same midpoint, far
    sharper curve: P(collide) ≈ 0.001 at J=0.3 vs ≈ 0.97 at J=0.85, so
    the verify join sees orders of magnitude fewer false candidates).
    """
    docs, banded = minhash_banded(
        df, k=k, num_hashes=num_hashes, bands=bands
    )
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a._band_idx") == F.col("b._band_idx"))
            & (F.col("a._band_hash") == F.col("b._band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sh_a = docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    sh_b = docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", jaccard(F.col("_sh_a"), F.col("_sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prepare_neardup_ref(ref: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Precompute and MATERIALIZE the reference side of
    :func:`cross_corpus_neardup_pairs` — ``(ref_docs, ref_banded)``
    shingle sets and banded signatures, ``localCheckpoint``-ed. This is
    the documented continuous-ingest deployment step made first-class:
    a streaming gate screening every micro-batch against the lake must
    not re-shingle and re-band the lake per batch (that recompute, not
    the screen join, would dominate). Pass the result as
    ``ref_prepared=``; the banding params at prepare time are the ones
    that apply (they are baked into the signatures)."""
    ref_docs, ref_banded = minhash_banded(ref)
    return ref_docs.localCheckpoint(), ref_banded.localCheckpoint()


def cross_corpus_neardup_pairs(
    new: DataFrame,
    ref: DataFrame | None = None,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    ref_prepared: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Near-duplicates of ``new`` documents AGAINST a reference corpus
    — the incremental form of :func:`minhash_lsh_pairs` ("have we seen
    this before?"): an incoming batch is screened against the existing
    lake without re-pairing the lake with itself. Both sides band with
    the same fixed-seed arithmetic (:func:`minhash_banded`), candidates
    come from the new×ref equi-join on (band_idx, band_hash) — never
    new×ref all-pairs — and exact shingle Jaccard ≥ ``threshold``
    verifies. Returns ``(new_id, ref_id, jaccard)``.

    Scale: the banded relations are |corpus|·bands rows keyed by band
    hash (high-cardinality); the join shuffles only band rows, and at
    the production geometry (128 hashes in 16 bands) the sharper
    s-curve keeps false candidates rare. In continuous ingest pass
    ``ref_prepared=`` (:func:`prepare_neardup_ref`) so the lake's
    signatures are computed ONCE and every batch's screen reuses the
    materialized banding — re-banding the lake per micro-batch would
    dominate. Exactly one of ``ref`` / ``ref_prepared`` must be given;
    with ``ref_prepared`` the banding params were fixed at prepare
    time and this call's ``k``/``num_hashes``/``bands`` apply to the
    NEW side only (pass the same values — mismatched banding never
    collides and the screen silently finds nothing)."""
    if (ref is None) == (ref_prepared is None):
        raise ValueError(
            "cross_corpus_neardup_pairs: pass exactly one of "
            "ref / ref_prepared"
        )
    new_docs, new_banded = minhash_banded(
        new, k=k, num_hashes=num_hashes, bands=bands
    )
    if ref_prepared is not None:
        ref_docs, ref_banded = ref_prepared
    else:
        ref_docs, ref_banded = minhash_banded(
            ref, k=k, num_hashes=num_hashes, bands=bands
        )
    return _neardup_screen(new_docs, new_banded, ref_docs, ref_banded, threshold)


def _neardup_screen(
    new_docs: DataFrame,
    new_banded: DataFrame,
    ref_docs: DataFrame,
    ref_banded: DataFrame,
    threshold: float,
) -> DataFrame:
    """The screen kernel of :func:`cross_corpus_neardup_pairs`, over
    already-banded sides (:func:`minhash_banded`'s ``(docs, banded)``
    pairs): the new×ref band equi-join, then exact shingle Jaccard
    ≥ ``threshold``. ``streaming.pipeline.neardup_screen_stream`` calls
    it with its lake relations as the ref side."""
    cand = (
        new_banded.alias("a")
        .join(
            ref_banded.alias("b"),
            (F.col("a._band_idx") == F.col("b._band_idx"))
            & (F.col("a._band_hash") == F.col("b._band_hash")),
        )
        .select(F.col("a._id").alias("new_id"), F.col("b._id").alias("ref_id"))
        .distinct()
    )
    sh_n = new_docs.select(F.col("_id").alias("new_id"), F.col("_sh").alias("_sh_n"))
    sh_r = ref_docs.select(F.col("_id").alias("ref_id"), F.col("_sh").alias("_sh_r"))
    return (
        cand.join(sh_n, "new_id")
        .join(sh_r, "ref_id")
        .withColumn("jaccard", jaccard(F.col("_sh_n"), F.col("_sh_r")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "ref_id", "jaccard")
    )


def _long_id(c: Column, name: str) -> Column:
    """Cast an id column to long, raising (JVM-side, no extra action)
    on values that would silently cast to NULL — see the id contract in
    :func:`dedup_clusters`. ``coalesce`` is lazy left-to-right, so the
    error branch only evaluates for rows the cast cannot represent;
    ``try_cast`` keeps the check mode-independent under ANSI.

    Fractional numeric ids are rejected too: ``try_cast('long')`` on a
    DOUBLE truncates (1.5 → 1), which would silently merge distinct
    nodes. The round-trip compare runs in DECIMAL(38,18) — wide enough
    to represent every long exactly (a double compare would rot above
    2^53 for xxhash64-style ids) and exact for any fractional input
    that survives the long cast."""
    as_long = c.try_cast("long")
    not_integral = as_long.isNotNull() & (
        c.try_cast("decimal(38,18)") != as_long.cast("decimal(38,18)")
    )
    return F.when(
        not_integral,
        F.raise_error(
            F.concat(
                F.lit(f"dedup_clusters: fractional '{name}' id "),
                c.cast("string"),
                F.lit(" — ids must be integral; hash or floor first"),
            )
        ).cast("long"),
    ).otherwise(F.coalesce(
        as_long,
        F.when(c.isNull(), F.lit(None).cast("long")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"dedup_clusters: non-numeric '{name}' id "),
                    c.cast("string"),
                    F.lit(" — ids must be integral; hash string keys "
                          "(e.g. F.xxhash64) first"),
                )
            ).cast("long")
        ),
    ))


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Collapse a near-duplicate *pair* graph into clusters: distributed
    connected components via iterated hash-min label propagation.

    Every node starts labeled with the minimum of itself and its
    neighbors; each round joins labels across the (symmetrized) edge
    list and keeps the per-node minimum. Labels are monotonically
    non-increasing, so the per-round ``sum(label)`` strictly decreases
    until the fixpoint — one cheap scalar action per round detects
    convergence without a row-level diff. The fixpoint is unique
    (min reachable id per component), so the result is deterministic
    and oracle-checkable regardless of join order.

    Returns ``(doc_id, cluster_id)`` for every node that appears in
    ``pairs``, where ``cluster_id`` is the minimum doc id in the
    node's component — i.e. the min-id survivor's id.

    Scale notes: each round is one shuffle join on node id plus one
    partial-agg groupBy — O(|E|) work, converging in O(graph diameter)
    rounds. Near-dup graphs are unions of small dense clusters
    (boilerplate families), so diameter is tiny in practice; a chain
    worst case is covered by the 50-round cap. Each round's labels are
    ``localCheckpoint``-ed: iterative self-referential plans otherwise
    nest exponentially (persist caches *data* but Catalyst still
    analyzes the full logical tree — a 12-round chain OOMs the driver
    on plan analysis alone). On a cluster with dynamic allocation use
    reliable ``checkpoint()`` instead (localCheckpoint blocks die with
    their executor). GraphFrames/GraphX expose the same algorithm, but
    this stays dependency-free on plain DataFrame ops.

    Id contract: ids must be integral (min-label propagation needs a
    total order and exact equality). Non-numeric ids (e.g. md5-hex doc
    keys) raise per-row instead of silently becoming NULL and dropping
    their nodes from the component computation — map string keys
    through a 64-bit hash (``F.xxhash64``) before calling if needed.
    """
    edges = pairs.select(
        _long_id(F.col("id_a"), "id_a").alias("src"),
        _long_id(F.col("id_b"), "id_b").alias("dst"),
    )
    # localCheckpoint: materialize the (possibly expensive, e.g. LSH)
    # upstream once AND cut its lineage out of every round's plan
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()

    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_nbr"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_nbr")).alias("label"),
        )
        .localCheckpoint()
    )
    cur_sum = labels.agg(F.sum("label")).first()[0]

    for _ in range(50):
        prop = sym.join(labels, sym["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        new_labels = (
            prop.unionByName(labels.select("node", "label"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()  # truncate lineage every round
        )
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        if new_sum == cur_sum:  # monotone ⇒ equal sums = fixpoint
            break
        labels, cur_sum = new_labels, new_sum
    else:
        raise RuntimeError(
            "dedup_clusters did not converge in 50 rounds "
            "(pathological graph diameter)"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def simhash_of_hashes(hashed: Column, bits: int = 16) -> Column:
    """The SimHash vote core over an ALREADY-hashed element array: for
    each output bit position the sign of the ±1 vote sum across
    elements sets the bit. Shared by the token-bag
    :func:`simhash_column` and the byte-chunk
    :func:`~scraping_etl_spark.operators.multimodal.payload_simhash`.
    ``hashed`` must be lambda-bound by the caller so element hashing
    runs once, not once per (element, bit).

    ONE pass over the element array: the accumulator is the whole
    ``bits``-wide vote vector, advanced per element by a zip with a
    constant powers array (bit test = ``h & 2^i != 0`` — the Python
    ``shiftright`` wrapper only takes literal shift amounts, and
    ``bits`` separate ArrayAggregate nodes each re-scanning the array
    measured 3.5× slower than this single traversal). ``bits`` is
    capped at 60 — the element-hash width (both callers hash to 60-bit
    values: 15 md5 hex chars via ``conv``) — because positions ≥ 60
    would always vote −1, producing dead signature bits that deflate
    Hamming distances and hand
    :func:`~scraping_etl_spark.operators.multimodal.payload_neardup_pairs`
    constant (useless) bands."""
    if not 0 < bits <= 60:
        raise ValueError(
            f"bits must be in 1..60 (the 60-bit element-hash width), got {bits}"
        )
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, pw: a + F.when(h.bitwiseAND(pw) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, pw: F.when(v > 0, pw).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash_column(text_col: Column | str, bits: int = 16) -> Column:
    """SimHash over the distinct token set: token → 60-bit integer hash
    (md5 hex prefix), then for each output bit position the sign of the
    ±1 vote sum sets the bit. Documents with similar token bags land at
    small Hamming distance. ``bits`` is kept small (16) because each bit
    is one aggregate expression over the token array — at 64 the
    expression tree still codegens but compile time grows.

    The hashed-token array is lambda-bound so md5 runs once per token,
    not once per (token, bit) — see the module docstring's
    single-evaluation hazard."""
    return _bind(
        _bind(
            F.array_distinct(tokens(text_col)),
            lambda t: F.transform(
                t,
                lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
            ),
        ),
        lambda hashed: simhash_of_hashes(hashed, bits),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------

def winnow_fingerprints(df: DataFrame, k: int = 4, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS local document-fingerprinting algorithm): hash
    every token ``k``-gram, slide a window of ``w`` consecutive hashes,
    select each window's minimum, and keep the distinct selected
    hashes. The published guarantee carries over: any shared substring
    of at least ``w + k - 1`` tokens contributes at least one SHARED
    fingerprint, while only ~``2/(w+1)`` of the grams are kept — a
    density-bounded sketch that catches long verbatim overlaps
    :func:`minhash_banded` (whole-document similarity) and
    ``duplicate_passage_stats`` (exhaustive gram join) bracket from
    either side.

    Entirely per-row array expressions (explode only at the end):
    gram hashes are the md5-prefix 60-bit integers both engines
    reproduce; a doc shorter than ``w`` grams keeps its single global
    minimum (the standard degenerate case). Zero shuffle up to the
    final explode. Returns exploded ``(id, fingerprint)`` rows,
    distinct per document."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    from scraping_etl_spark.operators.corpus_prep import word_grams

    grams = word_grams(F.lower(F.col("text")), k)

    def _fps(hs: Column) -> Column:
        n = F.size(hs)
        wins = (
            F.when(n >= w, F.transform(
                F.sequence(F.lit(1), n - w + 1),
                lambda i: F.array_min(F.slice(hs, i, w)),
            ))
            .when(n > 0, F.array(F.array_min(hs)))
            .otherwise(F.array().cast("array<long>"))
        )
        return F.array_distinct(wins)

    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    )
    return df.select(
        F.col("doc_id"), F.explode(_bind(hashes, _fps)).alias("fingerprint")
    )


def winnow_candidate_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int = 64,
) -> DataFrame:
    """Cross-document overlap candidates from shared winnowing
    fingerprints — MOSS's candidate pass: join documents on equal
    fingerprints, count shared prints per pair, keep pairs with at
    least ``min_shared``.

    Fingerprints appearing in more than ``max_docs_per_fp`` documents
    are dropped FIRST (the paper's too-common filter: boilerplate
    phrases carry no plagiarism signal), which is simultaneously the
    skew guard of the pair join (:func:`_shared_key_pairs`)."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    fps = winnow_fingerprints(df, k, w)
    return _shared_key_pairs(fps, "doc_id", "fingerprint", max_docs_per_fp).filter(
        F.col("n_shared") >= min_shared
    )


def _shared_key_pairs(
    rel: DataFrame, id_col: str, key: str, max_docs: int
) -> DataFrame:
    """``(id_a, id_b, n_shared)`` with ``id_a < id_b`` for every id pair
    of the distinct ``(id_col, key)`` relation ``rel`` that shares a
    key, counting shared keys. Keys held by more than ``max_docs`` ids
    are dropped FIRST — the too-common filter that is simultaneously
    the skew guard (the pair join fans out quadratically per key, so
    bounding ids-per-key bounds every join key's fan-out by
    construction); the filtered relation is ``localCheckpoint``-ed
    once for its two join sides. The set-overlap join of
    :func:`winnow_candidate_pairs`, :func:`containment_pairs` and
    ``multimodal.payload_containment_pairs``."""
    common = (
        rel.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select(key)
    )
    # no forced broadcast: the too-common set is usually tiny (each
    # member needs > max_docs distinct ids) but is corpus-dependent —
    # AQE picks the strategy from its measured size.
    kept = rel.join(common, key, "left_anti").localCheckpoint()
    a = kept.select(F.col(id_col).alias("id_a"), key)
    b = kept.select(F.col(id_col).alias("id_b"), key)
    return (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def containment_pairs(
    df: DataFrame,
    k: int = 5,
    tau: float = 0.5,
    max_docs_per_gram: int = 64,
) -> DataFrame:
    """One-sided CONTAINMENT candidate pairs (Broder 1997, "On the
    resemblance and containment of documents"): for docs sharing word
    ``k``-grams, score ``c(A,B) = |G_A ∩ G_B| / min(|G_A|, |G_B|)``
    over distinct gram sets and keep pairs with ``c >= tau``. This is
    the asymmetric dup Jaccard-based tiers structurally miss: a short
    document quoted whole inside a long one has tiny Jaccard (union is
    dominated by the long doc) but containment ~1 — the
    quote-inclusion / subset-duplicate case a curation pipeline must
    catch separately from resemblance.

    Plan: distinct (id, gram) relation with per-doc gram counts; grams
    shared by more than ``max_docs_per_gram`` docs are dropped first —
    the boilerplate filter that is simultaneously the skew guard
    (bounds every join key's fan-out by construction, exactly the
    ``winnow_candidate_pairs`` reasoning); the filtered relation is
    ``localCheckpoint``-ed once for its two join sides. Everything
    else is equi-join + partial-agg groupBy — no BNLJ, no all-pairs.
    The min()-denominator uses the UNFILTERED per-doc gram counts, so
    the score is exact for every pair whose shared grams survive the
    boilerplate filter (dropped-gram pairs lose candidates, the
    documented recall trade of every too-common filter)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    from scraping_etl_spark.operators.corpus_prep import word_grams

    grams = (
        df.select(
            F.col("doc_id").alias("_id"),
            F.explode(word_grams(F.lower(F.col("text")), k)).alias("gram"),
        )
        .distinct()
        # materialize the ONE corpus-scale explode+distinct: it feeds
        # THREE derivations (per-doc sizes, the too-common filter, the
        # kept relation) across two jobs — without this the final plan
        # re-runs the corpus scan per branch (measured r17: 8 parquet
        # scans in the final plan -> 0, all branches read the
        # checkpoint; same trade as _shared_key_pairs' `kept`)
        .localCheckpoint()
    )
    return _containment(grams, "gram", max_docs_per_gram, tau)


def _containment(rel: DataFrame, key: str, max_docs: int, tau: float) -> DataFrame:
    """Containment scoring over the distinct ``(_id, key)`` set relation
    ``rel``: :func:`_shared_key_pairs` counts the shared keys, and
    ``c = n_shared / min(n_a, n_b)`` divides by the UNFILTERED per-id
    set sizes (rounded to 6), keeping ``c >= tau``. Returns ``(id_a,
    id_b, n_shared, n_a, n_b, containment)``. Shared by
    :func:`containment_pairs` and
    ``multimodal.payload_containment_pairs``."""
    sizes = rel.groupBy("_id").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    return (
        _shared_key_pairs(rel, "_id", key, max_docs)
        .join(sizes.select(F.col("_id").alias("id_a"),
                           F.col("_n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"),
                           F.col("_n").alias("n_b")), "id_b")
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.least("n_a", "n_b").cast("double"), 6),
        )
        .filter(F.col("containment") >= tau)
        .select("id_a", "id_b", "n_shared", "n_a", "n_b", "containment")
    )


# ---------------------------------------------------------------------------
# Exact all-pairs similarity join with prefix filtering (AllPairs/PPJoin)
# ---------------------------------------------------------------------------

def allpairs_jaccard(df: DataFrame, threshold: float, k: int = 3) -> DataFrame:
    """EXACT token-set Jaccard pairs at or above ``threshold`` via
    prefix filtering (AllPairs, Bayardo et al., WWW 2007; the probing
    prefix of PPJoin, Xiao et al., WWW 2008) — the exact complement to
    the approximate MinHash tier: same output contract as
    :func:`minhash_lsh_pairs`'s verify stage but with a PROOF of
    completeness instead of an s-curve recall argument.

    The filter: order every document's distinct-token set by a global
    rarest-first total order (ascending document frequency, term text
    as tie-break) and keep only the first ``|x| - ceil(t·|x|) + 1``
    tokens as the document's PREFIX. Any pair with ``J ≥ t`` must
    share at least one prefix token under a common order — if all
    shared tokens sat outside both prefixes, the overlap would be
    capped below ``t·max(|x|,|y|) ≤ t/(1+t)·(|x|+|y|)``, the overlap a
    Jaccard of ``t`` requires — so the candidate equi-join on prefix
    tokens misses nothing, and the exact Jaccard verify on candidates
    only discards.

    Why it scales: the prefix is the RAREST tokens of each document,
    so per-token candidate fan-out is bounded by the document
    frequency of rare terms — stopword-scale terms never join unless a
    document is so short that everything is prefix. Plan: one explode,
    a term-cardinality df join (hot terms hit one build row — AQE skew
    split applies), one per-doc sort (task-sized: a doc's own tokens),
    the prefix-token candidate equi-join, and an id-keyed verify join.
    Never all-pairs, no driver state.

    Returns ``(id_a, id_b, jacc)`` with ``id_a < id_b``. The compared
    sets are DISTINCT ``k``-word shingles (:func:`word_shingles` — the
    same sets the MinHash tier signs, so the two tiers are directly
    comparable; ``k=1`` degrades to bag-of-words, which on a
    small-vocabulary corpus makes every set collide — shingling is
    what keeps the sets discriminative).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sets = df.select(
        F.col("doc_id").alias("_id"),
        F.array_sort(
            F.array_distinct(word_shingles(F.col("text"), k))
        ).alias("_set"),
    )
    return allpairs_jaccard_sets(sets, threshold)


#: Below this threshold the prefix bound ``|x| - ceil(t·|x|) + 1``
#: keeps most of every set as prefix and the candidate join trends
#: toward all-pairs even WITH the length filter — the documented floor
#: for the exact tier (use the MinHash/LSH tier below it).
ALLPAIRS_THRESHOLD_FLOOR = 0.4


def _allpairs_candidates(
    sets: DataFrame,
    threshold: float,
    length_filter: bool = True,
    positional_filter: bool = True,
) -> DataFrame:
    """Candidate ``(_ida, _idb)`` pairs for the AllPairs verify stage:
    the rarest-first prefix-token equi-join, optionally tightened by
    the PPJoin LENGTH filter (Xiao et al., WWW 2008): any pair with
    ``J ≥ t`` satisfies ``min(|a|,|b|) ≥ t·max(|a|,|b|)`` because
    ``J ≤ |a∩b|/|a∪b| ≤ min/max`` — so dropping size-incompatible
    candidates is provably lossless. The filter is what bounds the
    low-threshold regime: at small ``t`` most of each set is prefix
    and the token join alone trends quadratic; the size predicate
    prunes candidates before the distinct + verify join pays for them.

    ``positional_filter`` adds PPJoin's POSITIONAL bound (ibid., §3):
    ``J ≥ t`` needs overlap ``O ≥ ceil(t/(1+t)·(|a|+|b|))``, and for
    any shared token at sorted positions ``(p_a, p_b)`` (0-based, in
    the full rarest-first order) the overlap is capped by
    ``min(p_a, p_b) + min(|a|-p_a, |b|-p_b)`` — at most ``min(p_a,
    p_b)`` shared tokens can precede it, at most ``min(|a|-p_a,
    |b|-p_b)`` can sit at-or-after it. Two lossless applications:
    per candidate ROW before the pair aggregation (a pair with true
    overlap ``O`` has EVERY row's cap ≥ O, so no qualifying pair
    loses all its rows), then the TIGHT form on the pair's
    minimum-position row — that row is the globally smallest shared
    token, nothing shared precedes it, so its cap drops to
    ``min(|a|-p_a, |b|-p_b)``; the min over rows of ``p_a`` and of
    ``p_b`` belong to that same row because prefix positions are
    monotone in the global token order. The pair aggregation itself
    replaces the candidate ``distinct()`` (same shuffle key, same
    width), so the tight filter costs nothing extra — the r10 watch
    item on the widest relation at floor thresholds.

    ``sets`` must be the checkpointed ``(_id, _set)`` relation.
    Exposed separately so tests can prove the filters engage."""
    exploded = sets.select("_id", F.explode("_set").alias("_t"))
    dfreq = exploded.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    prefixes = (
        exploded.join(dfreq, "_t")
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list(F.struct("_df", "_t"))).alias("_ord"))
        .select(
            "_id",
            F.size("_ord").alias("_n"),
            F.slice(
                F.col("_ord"),
                1,
                F.greatest(
                    F.lit(1),
                    (
                        F.size("_ord")
                        - F.ceil(F.lit(threshold) * F.size("_ord"))
                        + 1
                    ).cast("int"),
                ),
            ).alias("_pref"),
        )
        .select("_id", "_n", F.posexplode("_pref").alias("_pos", "_p"))
        .select("_id", "_n", "_pos", F.col("_p._t").alias("_t"))
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    na, nb = F.col("a._n"), F.col("b._n")
    pa, pb = F.col("a._pos"), F.col("b._pos")
    cond = (F.col("a._t") == F.col("b._t")) & (F.col("a._id") < F.col("b._id"))
    # 1e-9 slack on every float comparison: sizes/positions are exact
    # ints, the true bounds are rationals.
    if length_filter:
        cond = cond & (
            F.least(na, nb).cast("double")
            >= F.lit(threshold) * F.greatest(na, nb) - F.lit(1e-9)
        )
    # overlap needed for J >= t: O >= t/(1+t) * (|a|+|b|)  (int O, so
    # >= the rational bound == >= its ceil)
    alpha = F.lit(threshold / (1.0 + threshold)) * (na + nb) - F.lit(1e-9)
    if positional_filter:
        cond = cond & (
            (F.least(pa, pb) + F.least(na - pa, nb - pb)).cast("double")
            >= alpha
        )
    joined = a.join(b, cond).select(
        F.col("a._id").alias("_ida"),
        F.col("b._id").alias("_idb"),
        pa.alias("_pa"),
        pb.alias("_pb"),
        na.alias("_na"),
        nb.alias("_nb"),
    )
    pairs = joined.groupBy("_ida", "_idb").agg(
        F.min("_pa").alias("_pa"),
        F.min("_pb").alias("_pb"),
        F.first("_na").alias("_na"),
        F.first("_nb").alias("_nb"),
    )
    if positional_filter:
        tight = F.least(
            F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb")
        ).cast("double")
        talpha = (
            F.lit(threshold / (1.0 + threshold))
            * (F.col("_na") + F.col("_nb"))
            - F.lit(1e-9)
        )
        pairs = pairs.filter(tight >= talpha)
    return pairs.select("_ida", "_idb")


def allpairs_jaccard_sets(sets: DataFrame, threshold: float) -> DataFrame:
    """AllPairs prefix-filtered exact Jaccard over PRE-BUILT sets —
    the core of :func:`allpairs_jaccard`, exposed so callers can bring
    their own set construction (e.g. character n-grams for fuzzy
    string/entity matching, :func:`char_ngrams`). ``sets`` must have
    columns ``(_id, _set array<string>)``; the set contents are
    treated as opaque tokens. Same completeness proof, same
    ``(id_a, id_b, jacc)`` contract. Candidates pass both the prefix
    filter and the PPJoin length filter (:func:`_allpairs_candidates`);
    thresholds below :data:`ALLPAIRS_THRESHOLD_FLOOR` stay exact but
    warn — the prefix bound degrades there and the MinHash tier is the
    right tool.

    Representation (r12, measured on the 10× probe where 96-99% of
    candidates are false): every set element is hashed ONCE per doc to
    the module's 60-bit md5-prefix integer before any fan-out, so the
    explode, the document-frequency agg, the candidate equi-join and —
    decisively — the verify join that ships BOTH sets per candidate
    pair all move ``array<long>`` instead of ~20-char strings (~2.5×
    less exchange volume on shingle sets). Set cardinalities — hence
    Jaccard — are preserved exactly unless two distinct elements
    collide in 60 bits (~n²/2^61; the driver gate would then
    hash-mismatch its brute-force STRING oracle, so a collision is
    detected, not silent)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if threshold < ALLPAIRS_THRESHOLD_FLOOR:
        warnings.warn(
            f"allpairs threshold {threshold} is below the documented "
            f"floor {ALLPAIRS_THRESHOLD_FLOOR}: the prefix filter keeps "
            "most of every set and the candidate join trends toward "
            "all-pairs; prefer the MinHash/LSH tier for recall-style "
            "thresholds",
            stacklevel=2,
        )
    sets = (
        sets.select(
            "_id",
            F.array_sort(
                F.transform(
                    F.array_distinct("_set"),
                    lambda x: F.conv(
                        F.substring(F.md5(x), 1, 15), 16, 10
                    ).cast("long"),
                )
            ).alias("_set"),
        )
        .filter(F.size("_set") > 0)
        .localCheckpoint()  # consumed 3×: explode, verify ×2
    )
    cands = _allpairs_candidates(sets, threshold)
    sa = sets.select(F.col("_id").alias("_ida"), F.col("_set").alias("_seta"))
    sb = sets.select(F.col("_id").alias("_idb"), F.col("_set").alias("_setb"))
    return (
        cands.join(sa, "_ida")
        .join(sb, "_idb")
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            jaccard(F.col("_seta"), F.col("_setb")).alias("jacc"),
        )
        .filter(F.col("jacc") >= threshold)
    )


def ngram_novelty(df: DataFrame, k: int = 5) -> DataFrame:
    """Per-document k-gram NOVELTY in document-id order: the fraction
    of a document's distinct k-shingles it is the FIRST document (by
    id) to contain. The dataset-redundancy growth curve — duplicated
    and boilerplate-heavy corpora show novelty collapsing as ids grow
    — and the per-document complement of the corpus-level
    duplicate-passage profile (``curation.duplicate_passage_stats``).

    Returns ``(id, n_grams, novelty_frac)``; documents with no k-gram
    (< k tokens) report 0 grams and fraction 0.

    Plan: distinct (doc, shingle) explode + partial agg; first-owner =
    one more partial agg (``min(id)`` per shingle, shingle
    cardinality); flag join back at (doc, shingle) grain keyed by the
    shingle — per-key fan-out is the shingle's duplication count, the
    same Zipf shape as every gram join here (AQE skew-split; hot/cold
    decomposition is the documented escalation). No windows, no
    all-pairs anything.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pairs = df.select(
        F.col("doc_id"), F.explode(word_shingles(F.lower(F.col("text")), k)).alias("_g")
    )
    first = pairs.groupBy("_g").agg(F.min("doc_id").alias("_first"))
    flagged = pairs.join(first, "_g").select(
        F.col("doc_id"),
        (F.col("doc_id") == F.col("_first")).cast("long").alias("_novel"),
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.round(F.sum("_novel") / F.count(F.lit(1)), 6).alias("novelty_frac"),
    )
    return (
        df.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("novelty_frac", F.lit(0.0)).alias("novelty_frac"),
        )
    )


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct lowercase character ``n``-grams of a string — the set
    representation fuzzy STRING matching compares (names, titles,
    addresses: word shingles are useless on 1-3-word values; character
    grams survive typos and dropped letters). The lowered string is
    bound once (single-evaluation hazard); each gram is one bounded
    ``substr``."""

    def _grams(s: Column) -> Column:
        ln = F.length(s)
        idx = F.when(ln >= n, F.sequence(F.lit(1), ln - n + 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(F.transform(idx, lambda i: s.substr(i, F.lit(n))))

    return _bind(F.lower(col), _grams)


def fuzzy_string_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str,
    string_col: str,
    n: int = 3,
) -> DataFrame:
    """EXACT fuzzy string matching (record linkage / entity
    resolution): all id pairs whose character-``n``-gram Jaccard
    reaches ``threshold`` — :func:`allpairs_jaccard_sets` over
    :func:`char_ngrams`, so the candidate set is provably complete
    (the AllPairs prefix argument), never an all-pairs scan. Cross-
    relation joins: union the two sides with disjoint ids and filter
    pairs to cross-side, as the ``fuzzy_customer_match`` gate does."""
    sets = df.select(
        F.col(id_col).alias("_id"),
        char_ngrams(F.col(string_col), n).alias("_set"),
    )
    return allpairs_jaccard_sets(sets, threshold)


def ed_gram_occurrences(s: DataFrame, q: int) -> DataFrame:
    """All positional ``q``-gram occurrences of a ``(_id, _s, _len)``
    string relation: ``(_id, _len, _g, _p)``, one row per occurrence —
    a per-row expression explode, no shuffle. Shared by
    :func:`edit_distance_pairs` and the streaming edit screen."""

    def _occ(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.length(t) - q + 1, F.lit(0)))
        return F.transform(
            idx, lambda i: F.struct(t.substr(i, F.lit(q)).alias("g"),
                                    i.cast("int").alias("p"))
        )

    return s.select(
        "_id", "_len", F.explode(_bind(F.col("_s"), _occ)).alias("o")
    ).select("_id", "_len", F.col("o.g").alias("_g"), F.col("o.p").alias("_p"))


def ed_gram_prefix(occ: DataFrame, k: int, q: int) -> DataFrame:
    """The Ed-Join PREFIX of every string: its first ``k*q + 1`` gram
    occurrences in (document frequency ASC, gram, pos) order, computed
    over ``occ``'s own gram statistics. Completeness does not depend
    on WHICH ``k*q + 1`` occurrences are kept (at most ``k*q`` of a
    string's occurrences lack a match partner under ed ≤ k, so any
    such subset contains a matched one — the pigeonhole the streaming
    screen relies on when lake prefixes were fixed at insertion time
    under an older df order); rarest-first merely minimizes join
    fan-out."""
    gdf = occ.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    return (
        occ.join(gdf, "_g")
        .groupBy("_id", "_len")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct("_df", "_g", "_p"))
                ),
                1,
                k * q + 1,
            ).alias("_pre")
        )
        .select("_id", "_len", F.explode("_pre").alias("o"))
        .select("_id", "_len", F.col("o._g").alias("_g"),
                F.col("o._p").alias("_p"))
    )


def edit_distance_pairs(
    df: DataFrame,
    k: int,
    id_col: str,
    string_col: str,
    q: int = 3,
) -> DataFrame:
    """EXACT bounded edit-distance self-join: all id pairs whose
    Levenshtein distance is at most ``k`` — the approximate-string-join
    a catalog/title/author table needs where :func:`fuzzy_string_pairs`'
    set-Jaccard semantics are too loose (Jaccard ignores order and
    counts; edit distance is the contract record-linkage rules are
    usually written against).

    Plan (Ed-Join, Xiao/Wang/Lin VLDB 2008; q-gram bound Gravano et al.
    VLDB 2001) — never an all-pairs scan:

    1. positional ``q``-grams per string (per-row expression — ``len``
       bounded substrs, no shuffle);
    2. global gram document frequency (one vocabulary-scale partial-agg
       shuffle) joined back, then each string keeps only the first
       ``k*q + 1`` occurrences in (df ASC, gram, pos) order — the
       PREFIX. Two strings within distance ``k`` share a matched gram
       occurrence inside both prefixes: ed <= k destroys at most ``q``
       grams per edit, so the pair's positional-gram matching has size
       >= t = max(len_a, len_b) - q + 1 - k*q, and a prefix of length
       |G| - t + 1 <= k*q + 1 must carry one matched element (the
       AllPairs prefix theorem, same argument as
       :func:`_allpairs_candidates`).
    3. band equi-join on the prefix gram with the location filter
       |pos_a - pos_b| <= k (an edit shifts positions by at most 1)
       and the length filter |len_a - len_b| <= k;
    4. verify candidates with the banded-DP ``levenshtein(a, b, k)``
       (O(k*len), returns -1 past the threshold) — so candidate slop
       costs time, never correctness.

    The prefix theorem needs t >= 1, i.e. every string at least
    ``q*(k+1)`` chars; shorter strings can sit within ``k`` edits while
    sharing ZERO q-grams. One cheap action probes that precondition
    and raises (pick a smaller ``q`` — at q=1 the floor is k+1 chars)
    instead of silently dropping pairs.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``. 100 TB: the
    shuffles are the gram-df agg, the per-string prefix rebuild, and
    the band join keyed on (gram) — rare-first df ordering keeps
    stopword-gram fan-out out of the prefix, the same reason AllPairs
    orders by frequency; skewed residues are AQE's skew-join case.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    s = df.select(
        F.col(id_col).alias("_id"),
        F.col(string_col).alias("_s"),
        F.length(string_col).cast("int").alias("_len"),
    )
    floor = q * (k + 1)
    short = s.filter(F.col("_len") < floor).limit(1).count()
    if short:
        raise ValueError(
            f"edit_distance_pairs: strings shorter than q*(k+1)="
            f"{floor} chars break the q-gram prefix bound (a pair "
            "can be within k edits sharing no q-gram) — filter "
            "them or lower q."
        )

    occ = ed_gram_occurrences(s, q)
    prefix = ed_gram_prefix(occ, k, q)
    a = prefix.select(F.col("_id").alias("id_a"), F.col("_len").alias("_la"),
                      "_g", F.col("_p").alias("_pa"))
    b = prefix.select(F.col("_id").alias("id_b"), F.col("_len").alias("_lb"),
                      "_g", F.col("_p").alias("_pb"))
    cand = (
        a.join(b, "_g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_pa") - F.col("_pb")) <= k)
            & (F.abs(F.col("_la") - F.col("_lb")) <= k)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = s.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"))
    sb = s.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b",
            F.levenshtein("_sa", "_sb", k).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def edit_screen_pairs(
    new_df: DataFrame,
    lake_df: DataFrame,
    k: int,
    id_col: str,
    string_col: str,
    q: int = 3,
) -> DataFrame:
    """CROSS-side bounded edit-distance screen — "which incoming
    records sit within ``k`` edits of one the corpus already holds?"
    The batch face of ``streaming.pipeline.edit_screen_stream``, with
    the same one-sided prefix plan: the LAKE side keeps only its
    Ed-Join prefix (:func:`ed_gram_prefix` — first ``k*q + 1``
    positional gram occurrences, df-rarest first), the NEW side keeps
    ALL its positional occurrences. Completeness is the pigeonhole in
    ``ed_gram_prefix``'s docstring: under ed ≤ k at most ``k*q`` of a
    lake string's occurrences lack a match partner, so any kept
    ``k*q + 1`` include a matched one — whose partner is in the new
    side's FULL gram list by construction. That one-sidedness is what
    lets a lake prefix be FIXED at insertion time (df drift never
    breaks it), which is the streaming lake-as-state contract; the
    batch operator uses the identical shape so stream ≡ per-shard
    batch screen against the union of its predecessors.

    Within-side pairs are deliberately NOT emitted — in-corpus pairing
    at rest is :func:`edit_distance_pairs`' job. Returns
    ``(new_id, ref_id, dist)``. 100 TB: the lake-side df agg is
    vocabulary-scale, the candidate join is keyed on grams with the
    position/length band filters, and the verify is the banded-DP
    ``levenshtein(new, ref, k)`` — candidate slop costs time, never
    correctness."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")

    def _strings(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.col(string_col).alias("_s"),
            F.length(string_col).cast("int").alias("_len"),
        )

    new_s, lake_s = _strings(new_df), _strings(lake_df)
    floor = q * (k + 1)
    short = (
        new_s.select("_len").unionByName(lake_s.select("_len"))
        .filter(F.col("_len") < floor).limit(1).count()
    )
    if short:
        raise ValueError(
            f"edit_screen_pairs: strings shorter than q*(k+1)="
            f"{floor} chars break the q-gram prefix bound — filter "
            "them or lower q (the streaming twin drops them on "
            "both sides for the same reason)."
        )
    return _edit_screen(
        new_s, ed_gram_prefix(ed_gram_occurrences(lake_s, q), k, q), lake_s, k, q
    )


def _edit_screen(
    new_s: DataFrame,
    ref_prefix: DataFrame,
    ref_strings: DataFrame,
    k: int,
    q: int,
) -> DataFrame:
    """The screen kernel of :func:`edit_screen_pairs`: ALL positional
    grams of the ``(_id, _s, _len)`` new strings join the ref side's
    :func:`ed_gram_prefix` rows on the gram under the position and
    length band filters, and the banded-DP ``levenshtein(new, ref, k)``
    verifies against ``ref_strings``. ``streaming.pipeline.
    edit_screen_stream`` calls it with its lake relations as the ref
    side."""
    ref_pre = ref_prefix.select(
        F.col("_id").alias("ref_id"), F.col("_len").alias("_lr"),
        "_g", F.col("_p").alias("_pr"),
    )
    cand = (
        ed_gram_occurrences(new_s, q)
        .select(
            F.col("_id").alias("new_id"), F.col("_len").alias("_ln"),
            "_g", F.col("_p").alias("_pn"),
        )
        .join(ref_pre, "_g")
        .filter(
            (F.abs(F.col("_pn") - F.col("_pr")) <= k)
            & (F.abs(F.col("_ln") - F.col("_lr")) <= k)
        )
        .select("new_id", "ref_id")
        .distinct()
    )
    sn = new_s.select(F.col("_id").alias("new_id"), F.col("_s").alias("_sn"))
    sr = ref_strings.select(F.col("_id").alias("ref_id"), F.col("_s").alias("_sr"))
    return (
        cand.join(sn, "new_id")
        .join(sr, "ref_id")
        .select(
            "new_id", "ref_id",
            F.levenshtein("_sn", "_sr", k).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def allpairs_cosine_weighted(
    vecs: DataFrame,
    threshold: float,
) -> DataFrame:
    """EXACT all-pairs cosine-similarity join over SPARSE WEIGHTED
    vectors (Bayardo, Ma & Srikant, WWW 2007 "Scaling up all pairs
    similarity search") — the TF-IDF-vector counterpart of
    :func:`allpairs_jaccard_sets`, and the primitive behind
    duplicate-news / plagiarism / product-matching joins where token
    WEIGHTS carry the signal that set Jaccard throws away.

    Input: ``(_id, _vec)`` with ``_vec: array<struct<t, w>>`` — sparse
    (feature, weight) entries, weights > 0, features distinct per row.
    Vectors are L2-normalized internally, so ``cos(x, y) = dot(x̂, ŷ)``
    and the threshold compares against the true cosine.

    Plan — never an all-pairs scan:

    1. one vocabulary-scale aggregation computes each feature's global
       MAX normalized weight and document frequency;
    2. per vector, features sort rarest-first and the PREFIX keeps
       exactly the features ``j`` whose inclusive suffix bound
       ``S_j = Σ_{i>=j} x̂_i·maxw_i`` still reaches the threshold
       (``S_j >= t``). Completeness: for a qualifying pair consider the
       first shared feature ``i*`` in the global order — if ``i*`` is
       outside either side's prefix then EVERY shared feature sits in
       that side's suffix (prefixes are heads of one order), so
       ``dot <= S < t``, a contradiction; hence ``i*`` is in BOTH
       prefixes and the prefix-prefix equi-join finds the pair.
    3. band equi-join on prefix features → distinct candidate pairs →
       exact dot-product verify as a per-row expression (one side as a
       map literal via ``map_from_entries``, folded against the other)
       — candidate slop costs time, never correctness.

    Returns ``(id_a, id_b, cos_sim)`` with ``id_a < id_b`` and
    ``cos_sim`` rounded to 6 BEFORE the threshold compare (the engine-
    parity convention every similarity gate here uses). 100 TB: the
    shuffles are the maxw aggregation, the prefix rebuild and the
    feature-keyed candidate join; rarest-first prefixes keep stopword
    features out of the join exactly as AllPairs orders by frequency.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    norm = F.sqrt(
        F.aggregate(
            "_vec", F.lit(0.0), lambda a, x: a + x["w"] * x["w"]
        )
    )
    unit = vecs.select(
        "_id",
        F.transform(
            "_vec",
            lambda x: F.struct(
                x["t"].alias("t"), (x["w"] / F.nullif(norm, F.lit(0.0))).alias("w")
            ),
        ).alias("_vec"),
    ).filter(F.size("_vec") > 0)
    feat = unit.select(
        "_id", F.explode("_vec").alias("e")
    ).select("_id", F.col("e.t").alias("_t"), F.col("e.w").alias("_w"))
    stats = feat.groupBy("_t").agg(
        F.max("_w").alias("_maxw"), F.count(F.lit(1)).alias("_df")
    )
    w = Window.partitionBy("_id").orderBy(F.col("_df"), F.col("_t"))
    wsuf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    prefix = (
        feat.join(stats, "_t")
        .withColumn("_suf", F.sum(F.col("_w") * F.col("_maxw")).over(wsuf))
        .filter(F.col("_suf") >= threshold)
        .select("_id", "_t")
    )
    cand = (
        prefix.select(F.col("_id").alias("id_a"), "_t")
        .join(prefix.select(F.col("_id").alias("id_b"), "_t"), "_t")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = unit.select(F.col("_id").alias("id_a"), F.col("_vec").alias("_va"))
    vb = unit.select(
        F.col("_id").alias("id_b"),
        F.map_from_entries(
            F.transform("_vec", lambda x: F.struct(x["t"], x["w"]))
        ).alias("_mb"),
    )
    # try_element_at: a missing map key is a 0-contribution feature,
    # and plain element_at THROWS on missing keys under ANSI mode
    dot = F.aggregate(
        "_va",
        F.lit(0.0),
        lambda a, x: a
        + F.coalesce(F.try_element_at(F.col("_mb"), x["t"]), F.lit(0.0))
        * x["w"],
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(dot, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
