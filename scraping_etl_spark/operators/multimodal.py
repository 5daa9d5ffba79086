"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

A 100 TB training-data pipeline carries images/audio/video as binary
columns with typed metadata and processes them in Arrow batches. The
image/audio codec libraries are not in this container, so the *decode*
step is stubbed (clearly marked), while everything Spark-side — schema,
``mapInPandas`` batch shape, Arrow binary transfer, partitioning — is
real and tested.

- :func:`attach_payload` — derive a deterministic binary payload column
  (UTF-8 bytes of a text column) so the plumbing is exercisable on the
  driver's ``documents`` table without real media files.
- :func:`media_features` — ``mapInPandas`` over the binary column:
  per-payload byte length + md5 digest (deterministic, oracle-able) —
  the stand-in for real feature extraction.
- :func:`decode_media` — the codec boundary: dispatches on media_type
  and raises ``NotImplementedError`` for real codecs; the ``"raw"``
  type passes bytes through, which is what the tests pin down.
- :func:`payload_neardup_pairs` — byte-level near-dup pairs without
  decoding: banded Hamming lookup over the byte-chunk
  :func:`payload_simhash`.
- :func:`payload_containment_pairs` — byte-level containment pairs
  over the :func:`payload_chunk_hashes` sets (the text tier's
  ``dedup.containment_pairs`` scoring).

Scale notes: ``mapInPandas`` streams Arrow record batches — memory is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``, not
partition size; for multi-MB payloads, lower that conf and size
``maxPartitionBytes`` so one task's batches fit the executor. Binary
payloads should live in their own parquet column chunk (they do, by
virtue of being a separate column) so metadata-only queries never read
the bytes — column pruning is the whole game at 100 TB.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Metadata struct carried next to every payload.
MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("encoding", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
    ]
)


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic binary payload + metadata from a text column —
    the test stand-in for reading real media bytes (JVM-side encode,
    no UDF)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("raw").alias("media_type"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.lit("utf-8").alias("encoding"),
        ),
    )


def decode_media(payload: bytes, media_type: str) -> bytes:
    """Codec boundary — STUB. Real deployments plug PIL/ffmpeg/soundfile
    in here; this container has none of them, so everything except the
    pass-through ``"raw"`` type raises."""
    if media_type == "raw":
        return payload
    raise NotImplementedError(
        f"decode_media({media_type!r}): codec libraries are not available "
        "in this environment — plug in PIL/ffmpeg/soundfile here."
    )


def media_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    Deterministic features (byte length, md5 hex) stand in for real
    image/audio features; the ``mapInPandas`` batch shape, binary Arrow
    transfer, and schema contract are the production-shaped parts.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                decode_media(p, m) for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in decoded],
                    "payload_md5": [hashlib.md5(p).hexdigest() for p in decoded],
                }
            )

    cols = df.select(
        F.col("doc_id"), F.col("payload"), F.col("media_meta.media_type").alias("media_type")
    )
    return cols.mapInPandas(extract, schema=FEATURE_SCHEMA)


def payload_simhash(chunk_bytes: int = 32, bits: int = 16) -> Column:
    """Byte-level SimHash over the binary payload — near-dup signature
    for media assets WITHOUT decoding (the asset tier of the text
    SimHash: an image served with touched-up EXIF bytes or a re-muxed
    clip shares most byte chunks, so its signature lands at small
    Hamming distance; Charikar 2002 applied to fixed-stride byte
    chunks, the Dropbox/backup-dedup convention).

    The payload is carried through its HEX encoding (2 chars/byte) so
    the chunk hashing is plain string md5 — bit-for-bit mirrorable in
    DuckDB (``hex(encode(...))`` parity is pinned by the gate); chunks
    are ``chunk_bytes``-byte (=2·chunk_bytes hex chars) fixed strides,
    tail kept. Pure per-row array expressions over the shared
    :func:`~scraping_etl_spark.operators.dedup.simhash_of_hashes` vote
    core — zero shuffle to sign a corpus."""
    from scraping_etl_spark.operators.dedup import _bind, simhash_of_hashes

    return _bind(
        _chunk_hashes(chunk_bytes),
        lambda hashed: simhash_of_hashes(hashed, bits),
    )


def _chunk_hashes(chunk_bytes: int) -> Column:
    """60-bit md5-prefix hashes of the payload's fixed-stride
    ``chunk_bytes``-byte chunks (``2·chunk_bytes`` chars of its hex
    encoding, tail kept), in payload order; empty for an empty
    payload. The chunker of :func:`payload_simhash` and
    :func:`payload_chunk_hashes`."""
    from scraping_etl_spark.operators.dedup import _bind

    col = F.col("payload")
    step = 2 * chunk_bytes

    def _chunks(hx: Column) -> Column:
        n = F.length(hx)
        starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(step))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            starts,
            lambda i: F.conv(
                F.substring(F.md5(hx.substr(i, F.lit(step))), 1, 15), 16, 10
            ).cast("long"),
        )

    return _bind(F.hex(col), _chunks)


def payload_neardup_pairs(
    df: DataFrame,
    chunk_bytes: int = 8,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate binary-asset pairs at Hamming distance ≤
    ``max_hamming`` on the byte-chunk SimHash, found by signature
    BANDING instead of an all-pairs scan: split the ``bits``-bit
    signature into ``bands`` equal slices; by pigeonhole any pair
    within ``max_hamming < bands`` differing bits agrees on at least
    one whole band, so the per-band equi-join is a COMPLETE candidate
    generator (the Manku/Jarvelin-style multi-table SimHash lookup as
    one self-join). Verify re-attaches both signatures and keeps
    ``bit_count(a XOR b) <= max_hamming``.

    Plan: per-row signature (zero shuffle) → explode to ``bands`` rows
    → band-keyed equi-join → pair agg (dedup of multi-band collisions,
    same key as the join) → id-keyed verify carrying two LONGs (not
    payloads). Returns ``(id_a, id_b, hamming)``.

    Sizing: band width = bits/bands is the collision exponent — random
    signatures collide per band at ~n²/2^width, so the default 60/4
    (15-bit bands, 32k buckets) keeps the candidate join linear-ish up
    to ~10⁵-10⁶ assets per band bucket-space; at larger corpora raise
    ``bits``/``bands`` together (64-bit signatures with 16-bit bands is
    the classic Manku web-dedup geometry — bits ≤ 62 here, the vote
    combiner packs into one signed long). ``chunk_bytes`` trades edit
    robustness (smaller = an edit touches fewer chunks = fewer flipped
    bits) against signature cost (more chunks per payload)."""
    if not 0 < max_hamming < bands:
        raise ValueError(
            f"need 0 < max_hamming < bands for the pigeonhole guarantee, "
            f"got max_hamming={max_hamming}, bands={bands}"
        )
    if bits % bands != 0:
        raise ValueError(f"bands must divide bits, got {bits}/{bands}")
    width = bits // bands
    mask = (1 << width) - 1
    sigs = df.select(
        F.col("doc_id").alias("_id"),
        payload_simhash(chunk_bytes, bits).alias("_sig"),
    ).localCheckpoint()  # consumed by the band explode AND verify ×2
    banded = sigs.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("_band"),
                    F.shiftright("_sig", b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("_val"),
                )
                for b in range(bands)
            ])
        ).alias("_e"),
    ).select("_id", "_e._band", "_e._val")
    a, b2 = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._val") == F.col("b._val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("_nb"))
        .drop("_nb")
    )
    va = sigs.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sa"))
    vb = sigs.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def payload_chunk_hashes(chunk_bytes: int = 8) -> Column:
    """DISTINCT 60-bit md5 hashes of the payload's fixed-stride byte
    chunks — the set representation :func:`payload_containment_pairs`
    compares (the hex-encoding trick of :func:`payload_simhash`, but
    keeping the chunk SET instead of folding it into one signature).
    LONGs, not strings, so every downstream exchange is ~2.5x smaller
    (the ``doc_allpairs`` lesson); collisions (~n²/2^61) would show as
    an oracle hash mismatch, detected not silent."""
    return F.array_distinct(_chunk_hashes(chunk_bytes))


def payload_containment_pairs(
    df: DataFrame,
    chunk_bytes: int = 8,
    tau: float = 0.6,
    max_docs_per_chunk: int = 64,
) -> DataFrame:
    """One-sided CONTAINMENT pairs over binary assets WITHOUT decoding
    (Broder 1997 containment on byte-chunk sets): catches the
    asymmetric asset dups the SimHash tier structurally misses — a
    small file archived whole inside a concatenated shard or a
    prefix-extended container has tiny resemblance (the big side
    dominates the union) but containment ≈ 1.

    ``c(A, B) = |C_A ∩ C_B| / min(|C_A|, |C_B|)`` over distinct
    fixed-stride chunk-hash sets; pairs with ``c >= tau`` survive.
    ALIGNMENT CAVEAT (honest domain boundary): fixed strides detect
    the contained file only at stride-aligned offsets — prefix
    containment and shard concatenation at chunk-multiple boundaries,
    which is how shard writers lay files out; an arbitrary-offset
    embedding needs a content-defined chunker to re-sync (the
    ``corpus_prep.cdc_chunks`` tier, byte-level variant future work).

    Plan: the distinct (id, chunk-long) relation goes through the
    scoring kernel of :func:`dedup.containment_pairs`
    (``dedup._containment``): the too-common-chunk filter that is
    simultaneously the skew guard (every join key's fan-out bounded by
    ``max_docs_per_chunk`` — zero-runs and shared headers are the
    binary boilerplate), one ``localCheckpoint`` feeding both join
    sides, equi-join + partial-agg count, min()-denominator from the
    UNFILTERED set sizes. Unlike the text tier, the chunk relation is
    not materialized upstream. Returns ``(id_a, id_b, n_shared, n_a,
    n_b, containment)`` with ``id_a < id_b``, containment rounded to 6.
    """
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    from scraping_etl_spark.operators.dedup import _containment

    chunks = df.select(
        F.col("doc_id").alias("_id"),
        F.explode(payload_chunk_hashes(chunk_bytes)).alias("_c"),
    )
    return _containment(chunks, "_c", max_docs_per_chunk, tau)
