"""Unit tests for the dedup, similarity, and multimodal operators on
tiny in-memory frames with hand-computed expectations."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark.operators import dedup as DD
from scraping_etl_spark.operators import multimodal as MM
from scraping_etl_spark.operators import similarity as SIM


def test_word_shingles(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "x x x x")], "id long, text string"
    )
    out = {r.id: r.s for r in df.select("id", DD.word_shingles(F.col("text"), 3).alias("s")).collect()}
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []           # fewer than k tokens
    assert out[3] == ["x x x"]    # distinct collapses repeats


def test_jaccard(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "a array<string>, b array<string>")
    [r] = df.select(DD.jaccard(F.col("a"), F.col("b")).alias("j")).collect()
    assert r.j == 0.5  # |{b,c}| / |{a,b,c,d}|


def test_exact_dup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "same text")],
        "doc_id long, text string",
    )
    [g] = DD.exact_dup_groups(df).collect()
    assert (g.n_docs, g.min_doc_id, g.max_doc_id) == (3, 1, 4)


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),               # near-dup of 1
            (3, "completely different words entirely unrelated to anything else here now"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in DD.minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert all(3 not in p for p in pairs)


def _union_find_components(edges):
    """Pure-Python oracle: min-id component label per node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        # two triangles + an isolated pair
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)],
        # worst-case diameter: a 12-node chain (propagation needs many rounds)
        [(i, i + 1) for i in range(12)],
        # star + bridge merging two clusters through one shared node
        [(100, i) for i in range(1, 6)] + [(5, 200), (200, 201)],
    ],
)
def test_dedup_clusters_matches_union_find(spark, edges):
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r.doc_id: r.cluster_id for r in DD.dedup_clusters(pairs).collect()
    }
    assert got == _union_find_components(edges)


def test_dedup_clusters_randomized(spark):
    import random

    rnd = random.Random(42)
    nodes = list(range(200))
    edges = [tuple(sorted(rnd.sample(nodes, 2))) for _ in range(120)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.doc_id: r.cluster_id for r in DD.dedup_clusters(pairs).collect()}
    assert got == _union_find_components(edges)


def test_simhash_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"), (3, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.s for r in df.select("doc_id", DD.simhash_column(F.col("text")).alias("s")).collect()}
    assert out[1] == out[2]          # bag-of-words: order must not matter
    assert 0 <= out[1] < (1 << 16)
    assert out[1] != out[3]          # different vocab → different hash (16-bit: collisions possible but not for this pair)


def test_simhash_bits_capped_at_hash_width():
    """Element hashes carry 60 bits (15 md5 hex chars), so signature
    positions >= 60 would always vote -1 — dead bits that deflate
    Hamming distances and give banding constant bands (r12 advice).
    Rejected at the vote core."""
    import pytest as _pt

    for bad in (0, 61, 62):
        with _pt.raises(ValueError, match="1..60"):
            DD.simhash_of_hashes(F.array(F.lit(1).cast("long")), bits=bad)
    # 60 is the legal ceiling
    DD.simhash_of_hashes(F.array(F.lit(1).cast("long")), bits=60)


def test_cosine_topk(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    probes = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = SIM.cosine_topk(emb, probes, k=2).collect()
    assert [(r.rank, r.neighbor_id) for r in rows] == [(1, 3), (2, 2)]
    assert rows[0].cos_sim == pytest.approx(0.707107, abs=1e-6)
    assert rows[1].cos_sim == 0.0


def test_hard_negatives_band_and_rank(spark):
    """The band keeps exactly the in-[lo, hi) neighbors, the near-dup
    above the ceiling is excluded, and ranks follow cosine desc."""
    import math

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.141067]),   # cos≈0.990 to anchor 1 -> above hi
        (3, [1.0, 1.0]),         # cos≈0.707 -> in band
        (4, [1.0, 2.0]),         # cos≈0.447 -> in band
        (5, [0.0, 1.0]),         # cos = 0   -> below lo
        (6, [-1.0, 0.1]),        # cos < 0   -> below lo
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    anchors = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
    )
    got = SIM.hard_negatives(emb, anchors, k=5, lo=0.1, hi=0.9).collect()
    assert [(r.rank, r.neighbor_id) for r in got] == [(1, 3), (2, 4)]
    assert got[0].cos_sim == pytest.approx(1 / math.sqrt(2), abs=1e-6)
    assert got[1].cos_sim == pytest.approx(1 / math.sqrt(5), abs=1e-6)


def test_hard_negatives_matches_loop_oracle(spark):
    """Banded top-k equals the brute-force loop on a dense corpus."""
    import math

    vecs = [
        (i, [math.cos(0.17 * i + 0.3 * j) for j in range(6)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    anchors = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
    )
    lo, hi, k = 0.2, 0.95, 3

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na * nb > 0 else 0.0

    expected = {}
    by_id = dict(vecs)
    for a in range(4):
        cands = sorted(
            (
                (-cos(by_id[a], v), i)
                for i, v in vecs
                if i != a and lo <= cos(by_id[a], v) < hi
            ),
        )[:k]
        expected[a] = [i for _, i in cands]
    got = {}
    for r in SIM.hard_negatives(emb, anchors, k=k, lo=lo, hi=hi).collect():
        got.setdefault(r.anchor_id, []).append((r.rank, r.neighbor_id))
    got = {a: [i for _, i in sorted(rs)] for a, rs in got.items()}
    assert got == expected


def test_hard_negatives_validates_band(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    a = emb.select(F.col("vec_id").alias("anchor_id"),
                   F.col("embedding").alias("anchor_vec"))
    with pytest.raises(ValueError, match="lo < hi"):
        SIM.hard_negatives(emb, a, lo=0.9, hi=0.5)
    with pytest.raises(ValueError, match="k must be"):
        SIM.hard_negatives(emb, a, k=0)


def test_ann_same_vector_same_bucket(spark):
    emb = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 5), 1.0, -2.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = SIM.ann_hyperplane_topk(emb, probes, dim=4, k=3, planes=4, multiprobe=0)
    rows = out.collect()
    # identical vectors (i and i+35 share (i%7,i%5) period-35 pattern)
    # hash to the same bucket, so every probe finds its exact twin first;
    # multiprobe=0 keeps all candidates in the query's own bucket
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert rs[0].cos_sim == 1.0  # the identical twin is rank 1
        assert all(r.bucket == rs[0].bucket for r in rs)


def test_media_features_match_hashlib(spark):
    df = spark.createDataFrame([(1, "hello world"), (2, "héllo")], "doc_id long, text string")
    out = {r.doc_id: r for r in MM.media_features(MM.attach_payload(df)).collect()}
    for doc_id, text in [(1, "hello world"), (2, "héllo")]:
        raw = text.encode("utf-8")
        assert out[doc_id].n_bytes == len(raw)
        assert out[doc_id].payload_md5 == hashlib.md5(raw).hexdigest()


def test_decode_media_stub():
    assert MM.decode_media(b"abc", "raw") == b"abc"
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"abc", "image/png")


def test_type_profile(spark):
    # SURVEY A4: distributed twin of the reference's pandas
    # apply(type).value_counts() profiling (ETL cell 8)
    from scraping_etl_spark.operators.textstats import type_profile

    df = spark.createDataFrame([(1, "a"), (2, None)], "id long, v string")
    rows = {(r.column, r.sql_type, r.is_null): r.n for r in type_profile(df).collect()}
    assert rows[("id", "bigint", False)] == 2
    assert rows[("v", "string", True)] == 1
    assert rows[("v", "string", False)] == 1


def test_type_profile_single_scan(spark, tmp_path):
    """The profile must read the table exactly once however wide it is
    (the union-of-per-column-scans shape costs C scans at 100 TB)."""
    from scraping_etl_spark.operators.textstats import type_profile

    path = str(tmp_path / "wide")
    spark.range(100).selectExpr(
        "id", "cast(id as string) a", "id * 2 b", "cast(null as string) c"
    ).write.parquet(path)
    plan = type_profile(spark.read.parquet(path))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_dedup_clusters_rejects_non_numeric_ids(spark):
    """Id contract (ADVICE r3): string keys that cast('long') would
    silently NULL — dropping their nodes from the component computation
    — must raise instead."""
    from scraping_etl_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([("a1x", "b2y")], ["id_a", "id_b"])
    with pytest.raises(Exception, match="non-numeric"):
        dedup_clusters(pairs).collect()


def test_dedup_clusters_numeric_string_ids_ok(spark):
    from scraping_etl_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([("1", "2"), ("2", "3")], ["id_a", "id_b"])
    got = {(r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_minhash_production_preset_runs(spark):
    """The 128x16 production geometry is mechanically valid end-to-end:
    near-identical docs pair up, unrelated docs don't."""
    from scraping_etl_spark.operators.dedup import minhash_lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    rows = [
        (1, base),
        (2, base + " tonight"),  # near-dup of 1
        (3, "completely different content about distributed query engines at scale"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, threshold=0.5, num_hashes=128, bands=16
        ).collect()
    }
    assert got == {(1, 2)}


def test_quantize_embedding_bounds_and_recall(spark):
    """int8 quantization: values land in [-127, 127] with the max-|x|
    element hitting ±127 exactly; top-3 neighbors over the quantized
    corpus agree with the float ranking for most probes (scale cancels
    in cosine; only rounding error remains)."""
    from scraping_etl_spark.operators.similarity import (
        cosine_topk,
        quantize_embedding,
    )
    from scraping_etl_spark.sources.readers import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.select("vec_id", quantize_embedding(F.col("embedding")).alias("qv"))
    row = q.select(
        F.array_max("qv").alias("mx"),
        F.array_min("qv").alias("mn"),
        F.greatest(F.array_max("qv"), -F.array_min("qv")).alias("absmax"),
    ).agg(
        F.max("mx").alias("gmax"), F.min("mn").alias("gmin"),
        F.min("absmax").alias("min_absmax"),
    ).collect()[0]
    assert row.gmax <= 127 and row.gmin >= -127
    assert row.min_absmax == 127  # every nonzero vector saturates its max

    probes_f = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top_f = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(e, probes_f, k=3).collect()
    }
    qe = q.select("vec_id", F.col("qv").alias("embedding"))
    probes_q = qe.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top_q = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(qe, probes_q, k=3).collect()
    }
    agree = sum(1 for k in top_f if top_q.get(k) == top_f[k])
    assert agree / len(top_f) >= 0.8  # rounding may flip near-ties only


def test_cross_corpus_neardup_pairs_finds_only_cross_matches(spark):
    """Incoming batch vs reference corpus: a near-dup of a ref doc is
    caught, an unrelated doc is not, and pairs are strictly cross-side
    (new ids never appear as ref_id and vice versa) even when the NEW
    batch contains near-dups of itself."""
    from scraping_etl_spark.operators.dedup import cross_corpus_neardup_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, base + " tail"),          # near-dup of ref 1
            (102, base + " tail marker"),   # near-dup of ref 1 AND of 101
            (103, "totally different words in this incoming doc here now"),
        ],
        "doc_id long, text string",
    )
    out = cross_corpus_neardup_pairs(new, ref, threshold=0.5)
    rows = out.collect()
    got = {(r.new_id, r.ref_id) for r in rows}
    assert (101, 1) in got and (102, 1) in got
    assert all(r.new_id in (101, 102, 103) and r.ref_id in (1, 2) for r in rows)
    assert not any(r.new_id == 103 for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cross_corpus_prepared_ref_matches_inline(spark):
    """prepare_neardup_ref + ref_prepared= must find the same pairs as
    the self-contained path (the streaming screen's band-once reuse);
    the materialized plan scans the checkpointed RDD instead of
    re-banding the lake. Passing both or neither ref forms raises."""
    import pytest as _pytest

    from scraping_etl_spark.operators.dedup import (
        cross_corpus_neardup_pairs,
        prepare_neardup_ref,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(101, base + " tail"), (102, "unrelated incoming words only here")],
        "doc_id long, text string",
    )
    inline = {(r.new_id, r.ref_id, r.jaccard)
              for r in cross_corpus_neardup_pairs(new, ref, threshold=0.5).collect()}
    prepared = prepare_neardup_ref(ref)
    out = cross_corpus_neardup_pairs(new, ref_prepared=prepared, threshold=0.5)
    assert {(r.new_id, r.ref_id, r.jaccard) for r in out.collect()} == inline
    assert "ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()
    with _pytest.raises(ValueError, match="exactly one"):
        cross_corpus_neardup_pairs(new, ref, ref_prepared=prepared)
    with _pytest.raises(ValueError, match="exactly one"):
        cross_corpus_neardup_pairs(new)


def test_cluster_assign_picks_nearest_centroid(spark):
    """Hand-checkable assignment: vectors near [0,0] vs [10,10] land in
    their own clusters with the exact squared distance; ties break to
    the lower centroid id ((d, cid) lexicographic)."""
    from scraping_etl_spark.operators.similarity import cluster_assign

    rows = [
        (1, [0.0, 1.0]),    # -> c0, d = 1
        (2, [9.0, 10.0]),   # -> c1, d = 1
        (3, [5.0, 5.0]),    # equidistant (50 vs 50) -> c0 by id
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cluster, r.sq_dist)
        for r in cluster_assign(df, [[0.0, 0.0], [10.0, 10.0]]).collect()
    }
    assert got == {1: (0, 1.0), 2: (1, 1.0), 3: (0, 50.0)}


def test_cluster_assign_plan_is_map_side(spark):
    from scraping_etl_spark.operators.similarity import cluster_assign

    df = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    plan = (
        cluster_assign(df, [[0.0, 0.0], [1.0, 1.0]])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan


# ---------------------------------------------------------------------------
# Embedding-space decontamination
# ---------------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_emb_decontaminate_flags_only_above_threshold(spark):
    bench = _vecs(spark, [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])])
    corpus = _vecs(spark, [
        (1, [1.0, 0.0, 0.0]),     # exact copy of bench 100
        (2, [0.9, 0.1, 0.0]),     # close to bench 100
        (3, [0.0, 0.0, 1.0]),     # orthogonal to both
    ])
    out = {r.vec_id: r for r in
           SIM.embedding_decontaminate(corpus, bench, threshold=0.9).collect()}
    assert set(out) == {1, 2}
    assert out[1].bench_id == 100 and out[1].cos_sim == 1.0
    assert out[2].bench_id == 100
    assert out[1].n_bench_hits == 1


def test_emb_decontaminate_picks_closest_bench_and_counts_hits(spark):
    bench = _vecs(spark, [(200, [1.0, 0.0]), (201, [0.8, 0.6])])
    corpus = _vecs(spark, [(1, [0.95, 0.3])])
    out = SIM.embedding_decontaminate(corpus, bench, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_bench_hits == 2       # both bench vecs above 0.5
    # argmax: cos(v,200)=0.95/|v| ~ .953; cos(v,201)=(.76+.18)/|v| = .94/.996 ~ .944
    assert r.bench_id == 200


def test_emb_decontaminate_tie_breaks_on_smaller_bench_id(spark):
    bench = _vecs(spark, [(301, [1.0, 0.0]), (300, [2.0, 0.0])])  # same direction
    corpus = _vecs(spark, [(1, [1.0, 0.0])])
    out = SIM.embedding_decontaminate(corpus, bench, threshold=0.9).collect()
    assert out[0].bench_id == 300 and out[0].n_bench_hits == 2


def test_emb_decontaminate_exclude_same_id_toggle(spark):
    """Default drops id-coincident pairs (bench carved from corpus);
    exclude_same_id=False screens them too — the streaming ingest
    setting, where lake and batch are distinct relations (r14
    ADVICE)."""
    bench = _vecs(spark, [(1, [1.0, 0.0]), (9, [0.0, 1.0])])
    corpus = _vecs(spark, [(1, [1.0, 0.0])])
    dflt = SIM.embedding_decontaminate(corpus, bench, threshold=0.9).collect()
    assert dflt == []  # only candidate pair shares the id -> excluded
    incl = SIM.embedding_decontaminate(
        corpus, bench, threshold=0.9, exclude_same_id=False
    ).collect()
    assert len(incl) == 1
    assert incl[0].bench_id == 1 and incl[0].cos_sim == 1.0


@pytest.mark.slow
def test_emb_decontaminate_ivf_full_probe_equals_expression_tier(spark):
    """At n_probe = n_clusters every (corpus, bench) pair is compared,
    so the IVF tier must EQUAL the expression tier exactly — same
    rounded cosines, same argmax ties, same hit counts (both
    exclude_same_id settings)."""
    import math

    vecs = [
        (i, [math.cos(0.31 * i + 0.27 * j) for j in range(6)])
        for i in range(50)
    ]
    corpus = _vecs(spark, vecs[:30])
    bench = _vecs(spark, [(i + 20, v) for i, v in vecs[30:]])  # ids overlap
    cents = SIM.kmeans_train_fx(
        corpus.unionByName(bench), n_clusters=4, iters=SIM.INDEX_ITERS
    )
    for excl in (True, False):
        brute = sorted(map(tuple, SIM.embedding_decontaminate(
            corpus, bench, threshold=0.8, exclude_same_id=excl
        ).collect()))
        ivf = sorted(map(tuple, SIM.embedding_decontaminate_ivf(
            corpus, bench, cents, threshold=0.8, n_probe=4,
            exclude_same_id=excl,
        ).collect()))
        assert ivf == brute, excl
    assert brute  # the corpus genuinely flags rows at this threshold


def test_emb_decontaminate_ivf_catches_exact_dups_at_one_probe(spark):
    """An exact copy assigns to the SAME nearest cell as its source
    and the probe list starts with the vector's own cell, so exact
    duplicates are refused at n_probe=1 — the property that makes the
    IVF tier safe as the streaming screen's scale path."""
    import math

    base = [
        (i, [math.sin(0.47 * i + 0.11 * j) for j in range(6)])
        for i in range(40)
    ]
    bench = _vecs(spark, base)
    corpus = _vecs(spark, [(i + 1000, v) for i, v in base])  # exact copies
    cents = SIM.kmeans_train_fx(bench, n_clusters=8, iters=SIM.INDEX_ITERS)
    out = {r.vec_id: r for r in SIM.embedding_decontaminate_ivf(
        corpus, bench, cents, threshold=0.95, n_probe=1
    ).collect()}
    assert set(out) == {i + 1000 for i, _ in base}
    assert all(r.cos_sim == 1.0 and r.bench_id == v - 1000
               for v, r in out.items())


def test_emb_decontaminate_ivf_plan_is_cell_equijoin(spark):
    """The IVF tier exists precisely because the lake outgrows the
    broadcast cap — its candidate join must be a hash equi-join on
    cell id, never a BroadcastNestedLoopJoin or cartesian."""
    corpus = _vecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    bench = _vecs(spark, [(10 + i, [float(i), 1.0]) for i in range(6)])
    plan = (
        SIM.embedding_decontaminate_ivf(
            corpus, bench, [[1.0, 0.0], [0.0, 1.0]], n_probe=1
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emb_decontaminate_ivf_validation(spark):
    corpus = _vecs(spark, [(1, [1.0, 0.0])])
    with pytest.raises(ValueError, match="centroids"):
        SIM.embedding_decontaminate_ivf(corpus, corpus, [])
    with pytest.raises(ValueError, match="n_probe"):
        SIM.embedding_decontaminate_ivf(
            corpus, corpus, [[1.0, 0.0]], n_probe=0
        )


@pytest.mark.slow
def test_emb_decontaminate_broadcast_guard_falls_back(spark, monkeypatch):
    """Above the measured cap the broadcast hint is dropped — the plan
    still returns identical rows (correctness never depends on the
    join strategy)."""
    bench = _vecs(spark, [(100 + i, [1.0, float(i)]) for i in range(10)])
    corpus = _vecs(spark, [(1, [1.0, 0.0]), (2, [0.0, 1.0])])
    fast = SIM.embedding_decontaminate(corpus, bench, threshold=0.9)
    monkeypatch.setattr(SIM, "MAX_BROADCAST_BENCH_VECS", 3)
    slow = SIM.embedding_decontaminate(corpus, bench, threshold=0.9)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


# ---------------------------------------------------------------------------
# byte-level payload near-dup tier
# ---------------------------------------------------------------------------

def test_payload_simhash_exact_copies_at_hamming_zero(spark):
    """Identical payloads sign identically; the banded lookup finds
    the pair at Hamming 0; an unrelated payload pairs with neither."""
    text = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "entirely unrelated byte content here")],
        "doc_id long, text string",
    )
    p = MM.attach_payload(docs)
    pairs = {(r.id_a, r.id_b, r.hamming)
             for r in MM.payload_neardup_pairs(p).collect()}
    assert (1, 2, 0) in pairs
    assert all(3 not in (a, b) for a, b, _ in pairs)


def test_payload_simhash_small_edit_small_hamming(spark):
    """A one-byte tail edit on a many-chunk payload flips few
    signature bits (the SimHash robustness property); a fully
    different payload lands far away."""
    from pyspark.sql import functions as F

    base = " ".join(f"tok{i * 13 % 97}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, base), (2, base + "~"), (3, "x " * 200)],
        "doc_id long, text string",
    )
    sigs = {
        r.doc_id: r.s
        for r in MM.attach_payload(docs)
        .select("doc_id", MM.payload_simhash(bits=60).alias("s"))
        .collect()
    }
    ham_edit = bin(sigs[1] ^ sigs[2]).count("1")
    ham_far = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham_edit <= 6, ham_edit
    assert ham_far > 15, ham_far


def test_payload_neardup_pairs_validates_geometry(spark):
    import pytest as _pt

    p = MM.attach_payload(
        spark.createDataFrame([(1, "x")], "doc_id long, text string")
    )
    with _pt.raises(ValueError, match="pigeonhole"):
        MM.payload_neardup_pairs(p, bands=4, max_hamming=4)
    with _pt.raises(ValueError, match="divide"):
        MM.payload_neardup_pairs(p, bits=50, bands=4, max_hamming=2)


def test_payload_simhash_empty_payload_signs_zero(spark):
    docs = spark.createDataFrame([(1, "")], "doc_id long, text string")
    got = (
        MM.attach_payload(docs)
        .select(MM.payload_simhash(bits=60).alias("s"))
        .first()[0]
    )
    assert got == 0


# ---------------------------------------------------------------------------
# product quantization (round 9)
# ---------------------------------------------------------------------------

def _pq_vecs(spark, n=120, dim=16, seed=3):
    import random

    rnd = random.Random(seed)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_encode_codes_in_range_and_deterministic(spark):
    from scraping_etl_spark.operators import similarity as SIM

    e = _pq_vecs(spark).localCheckpoint()
    books = SIM.pq_train(e, m=4, k=8)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    a = {r.vec_id: list(r.pq_code) for r in SIM.pq_encode(e, books).collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in a.values())
    b = {r.vec_id: list(r.pq_code)
         for r in SIM.pq_encode(e.repartition(7), books).collect()}
    assert a == b


@pytest.mark.slow
def test_pq_topk_recall_against_exact(spark):
    """ADC top-10 must capture most of the exact L2 top-10 — the
    paper's accuracy claim at this (tiny) scale. Deterministic corpus
    and seeds, so the measured recall is stable."""
    from scraping_etl_spark.operators import similarity as SIM

    e = _pq_vecs(spark, n=200, dim=16).localCheckpoint()
    books = SIM.pq_train(e, m=8, k=32)
    enc = SIM.pq_encode(e, books).localCheckpoint()
    probes = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in e.filter("vec_id < 5").collect()
    ]
    got = SIM.pq_topk(enc, books, probes, k=10).collect()
    approx = {}
    for r in got:
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)

    rows = e.collect()
    vec = {r.vec_id: r.embedding for r in rows}
    recall_total = 0
    for qid, q in probes:
        d = sorted(
            (sum((float(a) - float(b)) ** 2 for a, b in zip(q, v)), i)
            for i, v in vec.items()
        )
        exact10 = {i for _, i in d[:10]}
        recall_total += len(exact10 & approx[qid])
    assert recall_total / (10 * len(probes)) >= 0.6


def test_pq_adc_tables_match_definition():
    from scraping_etl_spark.operators.similarity import pq_adc_tables

    books = [[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [0.0, 1.0]]]
    q = [1.0, 1.0, 2.0, 2.0]
    t = pq_adc_tables(books, q)
    assert t[0] == [2.0, 0.0]
    assert t[1] == [0.0, 5.0]


def test_pq_validates(spark):
    import pytest as _pt

    from scraping_etl_spark.operators import similarity as SIM

    e = _pq_vecs(spark, n=10, dim=6)
    with _pt.raises(ValueError):
        SIM.pq_train(e, m=4, k=8)  # 4 does not divide 6
    with _pt.raises(ValueError):
        SIM.pq_train(e, m=2, k=1)
    books = SIM.pq_train(e, m=2, k=4)
    ragged = [books[0], [books[1][0][:-1]] + books[1][1:]]
    for bad in ([], [[]], books[:1] + [books[1][:-1]], ragged):
        with _pt.raises(ValueError):
            SIM.pq_encode(e, bad)
    enc = SIM.pq_encode(e, books)
    with _pt.raises(ValueError):
        SIM.pq_topk(enc, books, [], k=3)
    with _pt.raises(ValueError):
        SIM.pq_topk(enc, books, [(0, [0.0] * 6)], k=0)
    # malformed codebooks and probes whose length is not m * sub
    for bad_books, probe in (
        ([], [0.0] * 6),
        ([[]], [0.0] * 6),
        (ragged, [0.0] * 6),
        (books, [0.0] * 5),
        (books, [0.0] * 7),
    ):
        with _pt.raises(ValueError):
            SIM.pq_topk(enc, bad_books, [(0, probe)], k=3)


def test_pq_topk_scans_only_code_column(spark):
    """The ADC scan must read the m-int code column, not the vectors —
    PQ's bandwidth contract (column pruning visible in the plan)."""
    from scraping_etl_spark.operators import similarity as SIM

    e = _pq_vecs(spark, n=50, dim=8)
    books = SIM.pq_train(e, m=2, k=4)
    enc = SIM.pq_encode(e, books)
    q = [0.0] * 8
    phys = (
        SIM.pq_topk(enc, books, [(0, q)], k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in phys
    # the scored projection carries pq_code, never the embedding column
    assert "embedding" not in phys.split("TakeOrderedAndProject")[1][:400]


# ---------------------------------------------------------------------------
# allpairs_jaccard (exact prefix-filtered similarity join)
# ---------------------------------------------------------------------------

def _ap_corpus(spark, seed=11, n=40, vocab=12, doclen=10):
    """Small-vocabulary random corpus + planted near-identical pairs —
    adversarial for prefix filtering (sets overlap heavily)."""
    import random

    rnd = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    rows = []
    for i in range(n):
        rows.append((i, " ".join(rnd.choice(words) for _ in range(doclen))))
    # planted: 100..102 near-copies of doc 0 (one word changed)
    base = rows[0][1].split()
    for j in range(3):
        c = list(base)
        c[-1 - j] = "uniq"
        rows.append((100 + j, " ".join(c)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_jaccard(rows, k, t):
    def sh(text):
        toks = text.split()
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    sets = {r.doc_id: sh(r.text) for r in rows if len(r.text.split()) >= k}
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            u = sets[a] | sets[b]
            j = round(len(sets[a] & sets[b]) / max(len(u), 1), 6)
            if j >= t:
                out.add((a, b, j))
    return out


def test_allpairs_complete_vs_brute_force(spark):
    from scraping_etl_spark.operators.dedup import allpairs_jaccard

    df = _ap_corpus(spark)
    rows = df.collect()
    for t in (0.3, 0.6, 0.9):
        got = {(r.id_a, r.id_b, r.jacc)
               for r in allpairs_jaccard(df, t).collect()}
        assert got == _brute_jaccard(rows, 3, t), t


def test_allpairs_unigram_sets_complete(spark):
    from scraping_etl_spark.operators.dedup import allpairs_jaccard

    df = _ap_corpus(spark, vocab=30)
    got = {(r.id_a, r.id_b, r.jacc)
           for r in allpairs_jaccard(df, 0.5, k=1).collect()}
    assert got == _brute_jaccard(df.collect(), 1, 0.5)


def test_allpairs_threshold_validation_and_determinism(spark):
    import pytest as _pt
    from scraping_etl_spark.operators.dedup import allpairs_jaccard

    df = _ap_corpus(spark)
    with _pt.raises(ValueError):
        allpairs_jaccard(df, 0.0)
    a = {(r.id_a, r.id_b) for r in allpairs_jaccard(df, 0.6).collect()}
    b = {(r.id_a, r.id_b)
         for r in allpairs_jaccard(df.repartition(17), 0.6).collect()}
    assert a == b and a  # non-empty: the planted pairs


def test_allpairs_length_filter_engages_and_lossless(spark):
    """PPJoin length filter (Xiao et al., WWW 2008): on a size-skewed
    corpus it must strictly shrink the candidate set at a low
    threshold (engagement), while the verified result stays exactly
    the brute force (losslessness: J <= min/max, so size-incompatible
    pairs can never verify)."""
    from pyspark.sql import functions as F
    from scraping_etl_spark.operators.dedup import (
        _allpairs_candidates,
        allpairs_jaccard,
    )

    # Each tiny doc is a single rare token that is also the RAREST
    # token of one long doc (df=2, so it heads the long doc's prefix
    # under the rarest-first order while the df=10 filler does not):
    # the prefix join must emit the (tiny, long) candidate, but a
    # 1-token set can never reach J >= 0.4 against a 41-token set, so
    # the length filter prunes it and brute force never contains it.
    filler = " ".join(f"f{j}" for j in range(40))
    rows = [(i, f"rare{i} {filler}") for i in range(10)]   # 41 tokens
    rows += [(100 + i, f"rare{i}") for i in range(10)]     # 1 token
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.4
    sets = df.select(
        F.col("doc_id").alias("_id"),
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("_set"),
    ).localCheckpoint()
    # positional filter off on both sides: it would prune this
    # scenario too (a 1-token set's positional cap is 1), masking
    # whether the LENGTH predicate itself engages
    n_with = _allpairs_candidates(
        sets, t, length_filter=True, positional_filter=False
    ).count()
    n_without = _allpairs_candidates(
        sets, t, length_filter=False, positional_filter=False
    ).count()
    assert n_with < n_without, (n_with, n_without)
    got = {(r.id_a, r.id_b, r.jacc)
           for r in allpairs_jaccard(df, t, k=1).collect()}
    assert got == _brute_jaccard(df.collect(), 1, t)


def test_allpairs_positional_filter_engages_and_lossless(spark):
    """PPJoin positional filter: docs A and B share token S at
    position 5 of both prefixes (5 rarer unique tokens head each
    prefix) plus 4 post-prefix high-df tokens — equal sizes, so the
    LENGTH filter can't prune, but the tight positional cap
    ``min(|a|-p_a, |b|-p_b)`` = 5 is below the ``ceil(t/(1+t)·20)``
    = 7 overlap a J >= 0.5 pair needs, so the positional filter
    must; and the verified result must stay exactly brute force."""
    from pyspark.sql import functions as F
    from scraping_etl_spark.operators.dedup import (
        _allpairs_candidates,
        allpairs_jaccard,
    )

    common = "c1 c2 c3 c4"
    rows = [
        (0, "u1 u2 u3 u4 u5 s " + common),
        (1, "v1 v2 v3 v4 v5 s " + common),
    ]
    # filler docs push the c-tokens' df high so they sort AFTER the
    # unique tokens and S (rarest-first order)
    rows += [
        (10 + i, f"j{i}a j{i}b j{i}c j{i}d " + common) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.5
    sets = df.select(
        F.col("doc_id").alias("_id"),
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("_set"),
    ).localCheckpoint()
    n_pos = _allpairs_candidates(sets, t, positional_filter=True).count()
    n_nopos = _allpairs_candidates(sets, t, positional_filter=False).count()
    assert n_pos < n_nopos, (n_pos, n_nopos)
    got = {(r.id_a, r.id_b, r.jacc)
           for r in allpairs_jaccard(df, t, k=1).collect()}
    assert got == _brute_jaccard(df.collect(), 1, t)


def test_allpairs_low_threshold_warns(spark):
    import warnings as _w

    from scraping_etl_spark.operators.dedup import allpairs_jaccard

    df = _ap_corpus(spark, n=8)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        allpairs_jaccard(df, 0.2)  # plan construction is enough
        assert any("floor" in str(c.message) for c in caught)


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC)
# ---------------------------------------------------------------------------

def _clustered_vecs(spark, n_per=40, dim=8, seed=5):
    """Three well-separated gaussian blobs — coarse assignment is
    unambiguous, so recall claims are stable."""
    import random

    rnd = random.Random(seed)
    centers = [[10.0 * (c == j) for j in range(dim)] for c in range(3)]
    rows = []
    i = 0
    for c, ctr in enumerate(centers):
        for _ in range(n_per):
            rows.append((i, [ctr[j] + rnd.gauss(0, 0.5) for j in range(dim)]))
            i += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivfpq_residual_reconstructs_vector(spark):
    from scraping_etl_spark.operators import similarity as SIM

    e = _clustered_vecs(spark).localCheckpoint()
    cents = SIM.kmeans_train_fx(e, n_clusters=3, iters=SIM.INDEX_ITERS)
    res = SIM.with_residual(e, cents).collect()
    vecs = {r.vec_id: list(r.embedding) for r in e.collect()}
    for r in res:
        rebuilt = [a + b for a, b in zip(r.residual, cents[r.cluster])]
        assert all(
            abs(x - y) < 1e-5 for x, y in zip(rebuilt, vecs[r.vec_id])
        ), r.vec_id


def test_ivfpq_encode_deterministic_and_in_range(spark):
    from scraping_etl_spark.operators import similarity as SIM

    e = _clustered_vecs(spark).localCheckpoint()
    cents, books = SIM.ivfpq_train(e, n_clusters=3, m=4, k=8)
    a = {r.vec_id: (r.cluster, list(r.pq_code))
         for r in SIM.ivfpq_encode(e, cents, books).collect()}
    b = {r.vec_id: (r.cluster, list(r.pq_code))
         for r in SIM.ivfpq_encode(e.repartition(7), cents, books).collect()}
    assert a == b
    assert all(
        0 <= cl < 3 and len(code) == 4 and all(0 <= x < 8 for x in code)
        for cl, code in a.values()
    )


def test_ivfpq_topk_recall_on_blobs(spark):
    """With unambiguous blobs and n_probe=1, IVFADC top-5 must capture
    most of the exact L2 top-5 (the paper's accuracy claim at toy
    scale)."""
    from scraping_etl_spark.operators import similarity as SIM

    e = _clustered_vecs(spark).localCheckpoint()
    cents, books = SIM.ivfpq_train(e, n_clusters=3, m=4, k=16)
    enc = SIM.ivfpq_encode(e, cents, books).localCheckpoint()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in e.collect()}
    probes = [(i, vecs[i]) for i in (0, 45, 90)]
    got = SIM.ivfpq_topk(enc, cents, books, probes, k=5, n_probe=1)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    hits = total = 0
    for qid, qv in probes:
        exact = sorted(
            vecs, key=lambda v: (sum((a - b) ** 2 for a, b in zip(vecs[v], qv)), v)
        )[:5]
        hits += len(set(exact) & set(by_q[qid]))
        total += 5
    assert hits / total >= 0.8, (hits, total)


def test_ivfpq_topk_validates(spark):
    import pytest as _pt
    from scraping_etl_spark.operators import similarity as SIM

    e = _clustered_vecs(spark, n_per=5).localCheckpoint()
    cents, books = SIM.ivfpq_train(e, n_clusters=3, m=4, k=4)
    ragged = [list(b) for b in books]
    ragged[2] = [ragged[2][0] + [0.0]] + ragged[2][1:]
    for bad in ([], [[]], ragged):
        with _pt.raises(ValueError):
            SIM.ivfpq_encode(e, cents, bad)
    enc = SIM.ivfpq_encode(e, cents, books)
    with _pt.raises(ValueError):
        SIM.ivfpq_topk(enc, cents, books, [(0, [0.0] * 8)], n_probe=9)
    with _pt.raises(ValueError):
        SIM.ivfpq_topk(enc, cents, books, [], k=3)
    # malformed codebooks, probes whose length is not m * sub, and
    # centroids of the wrong dimension
    short = [c[:-1] for c in cents]
    for bad_cents, bad_books, probe in (
        (cents, [], [0.0] * 8),
        (cents, [[]], [0.0] * 8),
        (cents, ragged, [0.0] * 8),
        (cents, books, [0.0] * 7),
        (cents, books, [0.0] * 9),
        (short, books, [0.0] * 8),
    ):
        with _pt.raises(ValueError):
            SIM.ivfpq_topk(enc, bad_cents, bad_books, [(0, probe)], k=3)


# ---------------------------------------------------------------------------
# Distributed fixed-point k-means
# ---------------------------------------------------------------------------

def _km_corpus(spark, n=40, d=4):
    import random

    rnd = random.Random(11)
    rows = [
        (i, [rnd.uniform(-1, 1) + (2.0 if i % 2 else -2.0) for _ in range(d)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def test_kmeans_fx_bit_identical_under_repartition(spark, monkeypatch):
    """Every fixed-point trainer sums on an integer lattice, so each
    artifact is the same bits in either exact_sums tier and under any
    partitioning: plain k-means, PQ codebooks, IVF-PQ centroids +
    residual codebooks, SemDeDup's k-means over unit vectors and the
    logistic-regression weights. No trainer touches the session's AQE
    setting."""
    from scraping_etl_spark.operators import classifier as CLF
    from scraping_etl_spark.operators import fixpoint as FP

    def unit(df):
        return df.select(
            "vec_id",
            SIM.normalize_embedding(F.col("embedding")).alias("embedding"),
        )

    def labeled(df):
        return df.select(
            F.concat(F.array(F.lit(1.0)), "embedding").alias("features"),
            (F.col("vec_id") % 2).alias("label"),
        )

    trainers = {
        "kmeans": lambda df: SIM.kmeans_train_fx(df, n_clusters=3, iters=3),
        "pq": lambda df: SIM.pq_train(df, m=2, k=4),
        "ivfpq": lambda df: SIM.ivfpq_train(df, n_clusters=3, m=2, k=4),
        "semdedup": lambda df: SIM.kmeans_train_fx(
            unit(df), n_clusters=3, iters=SIM.INDEX_ITERS
        ),
        "logreg": lambda df: CLF.train_logreg(labeled(df), dim=5, iters=3),
    }
    c = _km_corpus(spark)
    parts = {n: c.repartition(n).localCheckpoint() for n in (1, 4, 13)}
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    want = {name: train(c) for name, train in trainers.items()}
    # driver tier, then forced past the cap with one trainer per kernel
    # (pq runs the k-means kernel over two subspaces at once)
    for cap, names in (
        (FP.FIT_DRIVER_ROWS, list(trainers)),
        (0, ["pq", "logreg"]),
    ):
        monkeypatch.setattr(FP, "FIT_DRIVER_ROWS", cap)
        for name in names:
            for n, df in parts.items():
                # integer-lattice updates: exact, order-free
                assert trainers[name](df) == want[name], (name, cap, n)
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe


def test_fixed_point_trainers_job_counts(spark):
    """Under the driver cap every trainer collects its input once: the
    logistic-regression and EM fits are one job each, k-means adds only
    its md5 seed query. The same bounds hold in a
    plain session (Arrow off, the driver contract's session) over 13
    partitions, where a ``toPandas`` probe would fall back to
    ``collect`` and launch a job per partition batch it tries."""
    from scraping_etl_spark.operators import classifier as CLF
    from scraping_etl_spark.operators import linkage as LK
    from tests.conftest import jobs_launched

    plain = spark.newSession()
    plain.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    for sess, parts in ((spark, 4), (plain, 13)):
        c = _km_corpus(sess).repartition(parts).localCheckpoint()
        lab = c.select(
            F.concat(F.array(F.lit(1.0)), "embedding").alias("features"),
            (F.col("vec_id") % 2).alias("label"),
        )
        flags = c.select(
            (F.col("vec_id") % 2 == 0).alias("f1"),
            (F.col("vec_id") % 3 == 0).alias("f2"),
        )
        for fit, bound in (
            (lambda: CLF.train_logreg(lab, dim=5, iters=40), 1),
            (lambda: LK.fs_em_weights(flags, ["f1", "f2"], n_iters=20), 1),
            (lambda: SIM.kmeans_train_fx(c, n_clusters=3, iters=5), 2),
        ):
            j0 = jobs_launched(spark)
            fit()
            assert jobs_launched(spark) - j0 <= bound, (parts, bound)


def test_pq_train_equals_kmeans_per_subspace(spark):
    """PQ trains its m subspaces in one loop; each codebook is exactly
    kmeans_train_fx over that subspace's slice (same md5 seed rows)."""
    e = _pq_vecs(spark).localCheckpoint()
    books = SIM.pq_train(e, m=4, k=8)
    for j in range(4):
        sliced = e.select(
            "vec_id", F.slice("embedding", 4 * j + 1, 4).alias("embedding")
        )
        assert books[j] == SIM.kmeans_train_fx(
            sliced, n_clusters=8, iters=SIM.INDEX_ITERS
        ), j


def test_one_kmeans_no_mllib_no_thread_pool():
    """Every index trains through kmeans_train_fx: no MLlib import and no
    second k-means entry point in the package, tools or tests; no thread
    pool in similarity.py; and no package module toggles AQE on the
    shared session."""
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mllib = re.compile(r"^\s*(?:from|import)\s+pyspark\.ml\b", re.M)
    retired = "ivf" + "_train"  # split so this file does not match itself
    toggle = 'conf.set("spark.sql.adaptive.enabled"'
    toggling = set()
    for top in ("scraping_etl_spark", "tools", "tests"):
        for dirpath, _, files in os.walk(os.path.join(root, top)):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                with open(os.path.join(dirpath, fname), encoding="utf-8") as fh:
                    src = fh.read()
                assert not mllib.search(src), fname
                assert retired not in src, fname
                if top == "scraping_etl_spark" and toggle in src:
                    toggling.add(fname)
    with open(SIM.__file__, encoding="utf-8") as fh:
        assert "ThreadPoolExecutor" not in fh.read()
    assert toggling == set()


def test_kmeans_fx_separates_two_blobs(spark):
    from scraping_etl_spark.operators.similarity import (
        cluster_assign,
        kmeans_train_fx,
    )

    c = _km_corpus(spark)
    cents = kmeans_train_fx(c, n_clusters=2, iters=4)
    got = cluster_assign(c, cents).collect()
    by_parity = {}
    for r in got:
        by_parity.setdefault(r.vec_id % 2, set()).add(r.cluster)
    # each blob lands wholly in one cluster, and they differ
    assert all(len(v) == 1 for v in by_parity.values())
    assert by_parity[0] != by_parity[1]


def test_kmeans_fx_empty_cluster_keeps_previous_centroid(spark):
    from scraping_etl_spark.operators.similarity import kmeans_train_fx

    # two identical points far from a third: with k=3 seeded on three
    # rows, some cluster may end up empty after reassignment; the
    # training must not NaN out — every centroid stays finite
    rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [9.0, 9.0])]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cents = kmeans_train_fx(df, n_clusters=3, iters=3)
    assert all(all(x == x for x in c) for c in cents)  # no NaN


def test_kmeans_fx_validates(spark):
    import pytest as _pt

    from scraping_etl_spark.operators.similarity import kmeans_train_fx

    df = spark.createDataFrame([(1, [0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>")
    with _pt.raises(ValueError):
        kmeans_train_fx(df, n_clusters=0)
    with _pt.raises(ValueError):
        kmeans_train_fx(df, n_clusters=5)  # corpus smaller than k


def test_ngram_novelty_first_owner_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # grams: abcde, bcdef — all novel
            (2, "a b c d e f"),          # exact dup -> novelty 0
            (3, "x y z w v a b c d e"),  # 6 grams, 1 shared with doc 1
            (4, "too short"),            # no 5-gram
        ],
        "doc_id LONG, text STRING",
    )
    from scraping_etl_spark.operators.dedup import ngram_novelty

    out = {r.doc_id: r for r in ngram_novelty(df, k=5).collect()}
    assert out[1].n_grams == 2 and out[1].novelty_frac == 1.0
    assert out[2].n_grams == 2 and out[2].novelty_frac == 0.0
    assert out[3].n_grams == 6 and out[3].novelty_frac == round(5 / 6, 6)
    assert out[4].n_grams == 0 and out[4].novelty_frac == 0.0


# ---------------------------------------------------------------------------
# JL projection
# ---------------------------------------------------------------------------

def test_jl_project_preserves_distances_on_average(spark):
    import math
    import random

    from scraping_etl_spark.operators.similarity import jl_project

    rnd = random.Random(3)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(64)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    proj = {r.vec_id: r.proj for r in jl_project(df, out_dim=16, dim=64).collect()}
    vecs = dict(rows)

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ratios = [
        dist(proj[i], proj[i + 1]) / dist(vecs[i], vecs[i + 1])
        for i in range(0, 59)
    ]
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15           # unbiased on average
    assert all(0.3 < r < 2.5 for r in ratios)  # no catastrophic distortion
    # deterministic under repartition
    again = {r.vec_id: r.proj
             for r in jl_project(df.repartition(7), out_dim=16, dim=64).collect()}
    assert again == proj
    import pytest as _pt

    with _pt.raises(ValueError):
        jl_project(df, out_dim=0)


# ---------------------------------------------------------------------------
# Fuzzy string matching (record linkage)
# ---------------------------------------------------------------------------

def test_fuzzy_string_pairs_links_typos_not_strangers(spark):
    from scraping_etl_spark.operators.dedup import fuzzy_string_pairs

    rows = [
        (1, "international conference on databases"),
        (2, "internatonal conference on databases"),   # typo of 1
        (3, "journal of marine biology research"),
        (4, "journal of marine biology researh"),      # typo of 3
        (5, "completely different string here"),
    ]
    df = spark.createDataFrame(rows, "rid LONG, name STRING")
    got = {
        (r.id_a, r.id_b): r.jacc
        for r in fuzzy_string_pairs(df, 0.6, "rid", "name").collect()
    }
    assert set(got) == {(1, 2), (3, 4)}
    assert all(v >= 0.6 for v in got.values())


def test_char_ngrams_distinct_lowercase_and_short_strings(spark):
    from scraping_etl_spark.operators.dedup import char_ngrams

    df = spark.createDataFrame([(1, "AbAb"), (2, "ab")], "i LONG, s STRING")
    out = {r.i: r.g for r in df.select("i", char_ngrams(F.col("s")).alias("g")).collect()}
    assert sorted(out[1]) == ["aba", "bab"]  # lowered + distinct
    assert out[2] == []                      # below n -> empty


# ---------------------------------------------------------------------------
# edit_distance_pairs (Ed-Join: positional q-gram prefix filter + verify)
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _brute_pairs(rows, k):
    out = {}
    for i, a in rows:
        for j, b in rows:
            if i < j and abs(len(a) - len(b)) <= k:
                d = _lev(a, b)
                if d <= k:
                    out[(i, j)] = d
    return out


def test_edit_distance_pairs_matches_brute_force(spark):
    rows = [
        (1, "journal of marine biology"),
        (2, "journal of marine biologyy"),    # 1 insert
        (3, "journal of marinE biolog"),      # vs 1: 1 sub + 1 del = 2
        (4, "journal of martime biolog"),     # near 3
        (5, "proceedings of the royal soc"),
        (6, "proceedings of the royal soc"),  # exact dup of 5 -> dist 0
        (7, "acta mathematica sinica eng"),
    ]
    df = spark.createDataFrame(rows, "rid LONG, s STRING")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in DD.edit_distance_pairs(df, 2, "rid", "s").collect()
    }
    assert got == _brute_pairs(rows, 2)


def test_edit_distance_pairs_fuzz_vs_loop_oracle(spark):
    """Candidate completeness is the proof obligation (verify fixes
    precision): fuzz dense near-dup families over a tiny alphabet so
    frequent grams, repeated grams and multi-edit chains all occur."""
    import random as _r

    rng = _r.Random(13)
    base = ["abcabcabcabc", "aabbccddeeff", "abcdefghijkl", "aaaaaabbbbbb"]
    rows, rid = [], 0
    for b in base:
        for _ in range(4):
            s = list(b)
            for _ in range(rng.randrange(0, 3)):
                op = rng.choice("sid")
                p = rng.randrange(len(s))
                if op == "s":
                    s[p] = rng.choice("abcdef")
                elif op == "i" and len(s) < 16:
                    s.insert(p, rng.choice("abcdef"))
                elif op == "d" and len(s) > 9:
                    del s[p]
            rows.append((rid, "".join(s)))
            rid += 1
    df = spark.createDataFrame(rows, "rid LONG, s STRING")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in DD.edit_distance_pairs(df, 2, "rid", "s").collect()
    }
    assert got == _brute_pairs(rows, 2)


def _brute_cross_pairs(new_rows, lake_rows, k):
    out = {}
    for i, a in new_rows:
        for j, b in lake_rows:
            if abs(len(a) - len(b)) <= k:
                d = _lev(a, b)
                if d <= k:
                    out[(i, j)] = d
    return out


def test_edit_screen_pairs_matches_brute_force_cross_only(spark):
    """The cross-side screen finds every (new, lake) pair within k
    edits and NO within-side pair — the streaming lake-as-state
    contract's batch face."""
    lake = [
        (100, "journal of marine biology"),
        (101, "proceedings of the royal soc"),
        (102, "acta mathematica sinica eng"),
    ]
    new = [
        (1, "journal of marine biologyy"),    # 1 edit from 100
        (2, "journal of marinE biolog"),      # 2 edits from 100
        (3, "proceedings of the royal soc"),  # exact dup of 101
        (4, "nordic journal of botany xx"),   # no lake match
        (5, "journal of marine biologyz"),    # 1 edit from 100, 2 from 1
    ]
    new_df = spark.createDataFrame(new, "rid LONG, s STRING")
    lake_df = spark.createDataFrame(lake, "rid LONG, s STRING")
    got = {
        (r.new_id, r.ref_id): r.dist
        for r in DD.edit_screen_pairs(new_df, lake_df, 2, "rid", "s").collect()
    }
    assert got == _brute_cross_pairs(new, lake, 2)
    # the within-new (1, 5) pair is within 2 edits but must NOT appear
    assert all(nid < 100 <= rid for nid, rid in got)


def test_edit_screen_pairs_fuzz_vs_loop_oracle(spark):
    """One-sided prefixing (full grams on the new side, k*q+1 prefix
    on the lake side) must stay COMPLETE under dense near-dup families
    — the pigeonhole that lets streaming lake prefixes be fixed at
    insertion time."""
    import random as _r

    rng = _r.Random(29)
    base = ["abcabcabcabc", "aabbccddeeff", "abcdefghijkl", "aaaaaabbbbbb"]
    lake_rows, new_rows, rid = [], [], 0
    for b in base:
        for v in range(4):
            s = list(b)
            for _ in range(rng.randrange(0, 3)):
                op = rng.choice("sid")
                p = rng.randrange(len(s))
                if op == "s":
                    s[p] = rng.choice("abcdef")
                elif op == "i" and len(s) < 16:
                    s.insert(p, rng.choice("abcdef"))
                elif op == "d" and len(s) > 9:
                    del s[p]
            (lake_rows if v % 2 else new_rows).append((rid, "".join(s)))
            rid += 1
    new_df = spark.createDataFrame(new_rows, "rid LONG, s STRING")
    lake_df = spark.createDataFrame(lake_rows, "rid LONG, s STRING")
    got = {
        (r.new_id, r.ref_id): r.dist
        for r in DD.edit_screen_pairs(new_df, lake_df, 2, "rid", "s").collect()
    }
    assert got == _brute_cross_pairs(new_rows, lake_rows, 2)


def test_edit_screen_pairs_short_string_guard(spark):
    new_df = spark.createDataFrame([(1, "abcdefghi")], "rid LONG, s STRING")
    lake_df = spark.createDataFrame([(2, "ab")], "rid LONG, s STRING")
    # the guard probes BOTH sides — a short lake string also raises
    with pytest.raises(ValueError, match="q\\*\\(k\\+1\\)"):
        DD.edit_screen_pairs(new_df, lake_df, 2, "rid", "s")


def test_edit_distance_pairs_short_string_guard(spark):
    df = spark.createDataFrame([(1, "abcdefghi"), (2, "ab")], "rid LONG, s STRING")
    with pytest.raises(ValueError, match="q\\*\\(k\\+1\\)"):
        DD.edit_distance_pairs(df, 2, "rid", "s")
    # q=1 lowers the floor to k+1 chars -> no raise, exact result
    got = DD.edit_distance_pairs(df.filter("rid = 1"), 2, "rid", "s", q=1)
    assert got.count() == 0


# ---------------------------------------------------------------------------
# allpairs_cosine_weighted (Bayardo 2007 weighted prefix filter + verify)
# ---------------------------------------------------------------------------

def _brute_cosine_pairs(rows, t):
    import math

    out = {}
    units = {}
    for i, vec in rows:
        n = math.sqrt(sum(w * w for _, w in vec))
        units[i] = {f: w / n for f, w in vec} if n else {}
    ids = sorted(units)
    for x in ids:
        for y in ids:
            if x < y:
                d = round(sum(w * units[y].get(f, 0.0)
                              for f, w in units[x].items()), 6)
                if d >= t:
                    out[(x, y)] = d
    return out


def _vec_df(spark, rows):
    return spark.createDataFrame(
        [(i, [(f, float(w)) for f, w in vec]) for i, vec in rows],
        "_id LONG, _vec ARRAY<STRUCT<t: LONG, w: DOUBLE>>",
    )


def test_allpairs_cosine_weighted_matches_brute_force(spark):
    rows = [
        (1, [(10, 3.0), (11, 1.0), (12, 0.5)]),
        (2, [(10, 3.0), (11, 1.0)]),              # close to 1
        (3, [(10, 0.1), (20, 5.0)]),               # weight, not set, decides
        (4, [(10, 0.1), (20, 4.5), (21, 0.2)]),    # close to 3
        (5, [(30, 1.0)]),                          # orphan feature
        (6, [(10, 1.0), (11, 1.0), (12, 1.0)]),    # same SET as 1, other weights
    ]
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in DD.allpairs_cosine_weighted(_vec_df(spark, rows), 0.8).collect()
    }
    assert got == _brute_cosine_pairs(rows, 0.8)
    assert (1, 2) in got and (3, 4) in got


def test_allpairs_cosine_weighted_fuzz_vs_loop_oracle(spark):
    """Completeness of the weighted prefix filter is the proof
    obligation: fuzz dense families over FEW features so shared
    prefixes, stopword-like features and sub-threshold near-misses all
    occur."""
    import random as _r

    rng = _r.Random(7)
    rows = []
    for i in range(40):
        nnz = rng.randrange(2, 6)
        feats = rng.sample(range(8), nnz)
        rows.append((i, [(f, rng.uniform(0.1, 3.0)) for f in feats]))
    for t in (0.6, 0.9):
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in DD.allpairs_cosine_weighted(
                _vec_df(spark, rows), t
            ).collect()
        }
        assert got == _brute_cosine_pairs(rows, t), f"t={t}"


def test_allpairs_cosine_weighted_threshold_validation(spark):
    with pytest.raises(ValueError):
        DD.allpairs_cosine_weighted(_vec_df(spark, [(1, [(0, 1.0)])]), 0.0)


def test_weighted_cosine_gate_matches_oracle(spark):
    """The doc_weighted_cosine gate (seated r14) hashes against its
    DuckDB oracle end-to-end, and the planted boosted-weight copies
    (same shingle SET, shifted weights) are found — the separation
    set-Jaccard cannot make."""
    import duckdb

    from scraping_etl_spark.plans import ml_ops as M

    sf = "/root/testdata/sf0.001"
    got = {
        (r.id_a, r.id_b): (r.cos_sim, r.same_doc)
        for r in M.q_doc_weighted_cosine(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(M.ORACLE_DOC_WEIGHTED_COSINE).fetchall()
    }
    assert got == want
    assert any(same for (_, same) in got.values())


# ---------------------------------------------------------------------------
# payload_containment_pairs (asset subset-dup without decoding)
# ---------------------------------------------------------------------------

def _payload_df(spark, rows):
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    return MM.attach_payload(df)


def test_payload_containment_finds_prefix_and_concat(spark):
    """A shard that concatenates two assets at chunk-aligned offsets
    contains both (c ~ 1); unrelated assets score 0; resemblance-style
    pairs stay below a high tau. ASCII texts so chars == bytes and the
    8-byte alignment is by construction."""
    a = "abcdefgh" * 6              # 48 bytes = 6 chunks
    b = "01234567" * 4              # 32 bytes = 4 chunks
    rows = [
        (1, a),
        (2, b),
        (3, a + b),                 # aligned concat container
        (4, "zzzzzzzz" * 5),        # unrelated
        (5, a[:16]),                # 2-chunk prefix of a
    ]
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.containment)
        for r in MM.payload_containment_pairs(
            _payload_df(spark, rows), tau=0.9
        ).collect()
    }
    # chunk sets: a -> {abcdefgh} (1 distinct!), so use n_shared from
    # DISTINCT sets: a has 1 distinct chunk, b 1, container 2
    assert (1, 3) in got and got[(1, 3)][1] == 1.0
    assert (2, 3) in got and got[(2, 3)][1] == 1.0
    assert (1, 5) in got and got[(1, 5)][1] == 1.0
    assert not any(4 in k for k in got)


def test_payload_containment_loop_oracle_fuzz(spark):
    import hashlib
    import random as _r

    rng = _r.Random(3)
    alphabet = ["aaaaaaaa", "bbbbbbbb", "cccccccc", "dddddddd", "eeeeeeee"]
    rows = []
    for i in range(24):
        rows.append((i, "".join(rng.choice(alphabet)
                                for _ in range(rng.randrange(1, 7)))))

    def chunks(t):
        bs = t.encode()
        hx = bs.hex().upper()
        out = set()
        for j in range(0, len(hx), 16):
            c = hx[j:j + 16]
            out.add(int(hashlib.md5(c.encode()).hexdigest()[:15], 16))
        return out

    want = {}
    sets = {i: chunks(t) for i, t in rows}
    for x in sets:
        for y in sets:
            if x < y and sets[x] and sets[y]:
                c = round(len(sets[x] & sets[y]) / min(len(sets[x]), len(sets[y])), 6)
                if c >= 0.5:
                    want[(x, y)] = c
    got = {
        (r.id_a, r.id_b): r.containment
        for r in MM.payload_containment_pairs(
            _payload_df(spark, rows), tau=0.5
        ).collect()
    }
    assert got == want


def test_payload_containment_gate_matches_oracle_staged_for_r14(spark):
    """The registered doc_payload_containment gate hashes against its
    DuckDB oracle end-to-end (hex/md5/set/skew-filter mirror), and the
    planted chunk-aligned containers are found."""
    import duckdb

    from scraping_etl_spark.plans import ml_ops as M

    sf = "/root/testdata/sf0.001"
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.n_a, r.n_b, r.containment)
        for r in M.q_doc_payload_containment(spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        (r[0], r[1]): (r[2], r[3], r[4], r[5])
        for r in con.execute(M.ORACLE_DOC_PAYLOAD_CONTAINMENT).fetchall()
    }
    assert got == want
    assert any(b >= 3_000_000 for (_, b) in got)


def test_hard_negatives_gate_matches_oracle_staged_for_r15(spark):
    """The registered emb_hard_negatives gate hashes against its DuckDB
    oracle end-to-end; the planted near-dup copies (each anchor's
    exact vector re-keyed +1e6, cosine 1 >= hi) never reach the
    output — the ceiling that keeps false negatives out of a
    contrastive batch."""
    import duckdb

    from scraping_etl_spark.plans import ml_ops as M

    sf = "/root/testdata/sf0.001"
    out = M.q_emb_hard_negatives(spark, sf)
    assert out.filter(
        F.col("neighbor_id") == F.col("anchor_id") + 1_000_000
    ).count() == 0
    got = {
        (r.anchor_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in out.collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(M.ORACLE_EMB_HARD_NEGATIVES).fetchall()
    }
    assert got == want and got


def test_fs_scores_gate_matches_oracle_staged_for_r15(spark):
    """The registered er_fs_scores gate hashes against its DuckDB oracle
    end-to-end, and the trained log-LR weights separate: every true
    match outscores every planted non-match (including the
    prefix-collision non-matches whose agr_pre8 agrees)."""
    import duckdb

    from scraping_etl_spark.plans import ml_ops as M

    sf = "/root/testdata/sf0.001"
    rows = M.q_er_fs_scores(spark, sf).collect()
    got = {(r.id_a, r.id_b): (r.is_match, r.fs_score) for r in rows}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(M.ORACLE_ER_FS_SCORES).fetchall()
    }
    assert got == want
    match_scores = [s for (m, s) in got.values() if m]
    non_scores = [s for (m, s) in got.values() if not m]
    assert match_scores and non_scores
    assert min(match_scores) > max(non_scores)


def test_emb_ingest_screen_gate_matches_oracle_staged(spark):
    """The registered emb_ingest_screen gate (batch face of the streaming
    semantic ingest screen) hashes against its brute-force cross-join
    oracle, and the planted semantics hold: fresh rows survive, +1e6
    mirrors refuse against their source, and rows RE-DELIVERED under
    their original id refuse against their OWN lake copy (the
    exclude_same_id=False contract)."""
    import duckdb

    from scraping_etl_spark.plans import ml_ops as M

    sf = "/root/testdata/sf0.001"
    rows = M.q_emb_ingest_screen(spark, sf).collect()
    got = {
        r.vec_id: (r.refused, r.lake_id, r.cos_sim, r.n_lake_hits)
        for r in rows
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(M.ORACLE_EMB_INGEST_SCREEN).fetchall()
    }
    assert got == want
    # planted semantics
    mirrors = redeliv = 0
    for vid, (refused, lake_id, cos, _nh) in got.items():
        if vid >= 1_000_000:  # mirror: refused against its source
            assert refused and lake_id == vid - 1_000_000 and cos == 1.0
            mirrors += 1
        elif vid % 3 == 0:  # re-delivery (even only): own lake copy
            assert vid % 2 == 0
            assert refused and lake_id == vid and cos == 1.0
            redeliv += 1
    assert mirrors and redeliv
    fresh = [v for v in got if v < 1_000_000 and v % 3 == 1]
    assert fresh and all(not got[v][0] for v in fresh)


def test_fs_em_gate_matches_unrolled_oracle_staged(spark):
    """The registered er_fs_em_scores gate (UNSUPERVISED weights) hashes
    against its k-times-unrolled MATERIALIZED-CTE oracle, and EM
    recovers the separation without ever seeing a label: every true
    match outscores every planted non-match."""
    import duckdb

    from scraping_etl_spark.plans import ml_ops as M

    sf = "/root/testdata/sf0.001"
    rows = M.q_er_fs_em_scores(spark, sf).collect()
    got = {(r.id_a, r.id_b): (r.is_match, r.fs_score) for r in rows}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(M.ORACLE_ER_FS_EM_SCORES).fetchall()
    }
    assert got == want
    match_scores = [s for (m, s) in got.values() if m]
    non_scores = [s for (m, s) in got.values() if not m]
    assert min(match_scores) > max(non_scores)


def test_emb_decontaminate_ivf_gate_matches_oracle_staged_for_r17(spark):
    """The unregistered emb_decontaminate_ivf face (IVF-tier face of
    the semantic decontamination screen, the only DuckDB check of the
    tier ``streaming.emb_screen_stream`` runs) runs at its
    PRODUCTION setting — 4 of 16 cells probed — and still hashes
    exactly, because the lazy oracle replays the whole index: centroid
    literals, (d, cid) cell assignment, the probe fan-out, then the
    expression tier's threshold/argmax/hit-count arithmetic restricted
    to probed cells. Honesty pins: partial-probe flags are a subset of
    the exact expression-tier gate's, per-row hit counts never exceed
    the exact counts, and the plan stays the cell equi-join (no BNLJ,
    no cartesian: the reason the tier exists)."""
    from scraping_etl_spark.plans import ml_ops as M
    from tests.oracle import assert_matches_oracle

    sf = "/root/testdata/sf0.001"
    df = M.q_emb_decontaminate_ivf(spark, sf)
    assert_matches_oracle(df, M.oracle_emb_decontaminate_ivf(sf), sf)
    got = {
        r.vec_id: (r.bench_id, r.cos_sim, r.n_bench_hits)
        for r in df.collect()
    }
    assert got
    exact = {
        r.vec_id: (r.bench_id, r.cos_sim, r.n_bench_hits)
        for r in M.q_emb_decontaminate(spark, sf).collect()
    }
    assert set(got) <= set(exact)
    assert all(got[v][2] <= exact[v][2] for v in got)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
