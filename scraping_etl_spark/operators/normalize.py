"""Canonical text normalization for dedup keying.

Exact-hash dedup (``dedup.exact_dup_groups``) misses trivially-variant
copies — case changes, accented re-encodings, punctuation/whitespace
drift — that near-dup LSH then has to pay full signature cost to
catch. The standard curation fix (CCNet/RefinedWeb both normalize
before hashing) is a CANONICAL FORM: casefold, accent-fold,
punctuation → space, whitespace collapse, then hash the result. Docs
identical up to those transforms land in the same family.

Everything is a JVM expression chain (``lower`` → ``translate`` →
two ``regexp_replace`` → ``trim``), zero shuffle, whole-stage
codegen; the accent map is an explicit literal table (the
``COUNTRY_ALIASES`` data-not-code convention, operators/cleaning.py)
so the DuckDB oracle reproduces it verbatim with its own
``translate`` — no locale/ICU dependence on either engine.

Reference anchor: the reference scrubs strings (ETL cell 25) but
never canonicalizes for dedup — this is beyond-reference
LLM-pipeline surface (the dedup family's keying front end).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Latin-1 accent fold as an explicit 1:1 character map — data, not
#: locale behavior; both engines' ``translate`` apply it identically.
ACCENT_FROM = "àáâãäåèéêëìíîïòóôõöùúûüýÿçñÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÝÇÑ"
ACCENT_TO = "aaaaaaeeeeiiiiooooouuuuyycnAAAAAAEEEEIIIIOOOOOUUUUYCN"


def normalize_text(text: Column | str) -> Column:
    """The canonical form: casefold → accent-fold → every non-[a-z0-9]
    run → single space → trim. Deterministic, expression-only."""
    c = F.col(text) if isinstance(text, str) else text
    folded = F.lower(F.translate(c, ACCENT_FROM, ACCENT_TO))
    spaced = F.regexp_replace(folded, "[^a-z0-9]+", " ")
    return F.trim(spaced)


def normalized_dup_families(df: DataFrame) -> DataFrame:
    """Per-document family view under the canonical form: each row
    gains ``norm_md5``, the family size ``n_family`` and
    ``is_canonical`` (the min-id survivor — the deterministic keeper
    the exact-dedup rollups use). One partial-agg groupBy on the hash;
    the family table joins back un-hinted (family count is
    distinct-hash-scale — corpus-sized in the worst case, never
    forced broadcast)."""
    keyed = df.select(
        F.col("doc_id"), F.md5(normalize_text("text")).alias("norm_md5")
    )
    fams = keyed.groupBy("norm_md5").agg(
        F.count(F.lit(1)).cast("long").alias("n_family"),
        F.min("doc_id").alias("_min_id"),
    )
    return (
        keyed.join(fams, "norm_md5")
        .select(
            "doc_id",
            "norm_md5",
            "n_family",
            (F.col("doc_id") == F.col("_min_id")).alias("is_canonical"),
        )
    )
