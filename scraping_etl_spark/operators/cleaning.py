"""Document-cleaning operators (SURVEY §2.2 filters, §2.7 scalar repairs).

Re-expresses the reference ETL's cleaning pass — ``DB/ETL.ipynb`` cells
13-26 (raw 382-911) — as composable ``DataFrame -> DataFrame`` library
functions. Everything is built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) except :func:`repair_mojibake`, which is the one
operation genuinely inexpressible in SQL (a binary re-decode) and is an
Arrow-vectorized ``pandas_udf`` per SURVEY §2.7 F6.

Quirk policy (SURVEY §2.9): each function's default FIXES the catalogued
reference bug; a ``parity=True`` flag reproduces the reference behavior
where it is reproducible. The fixes:

- Q5 (dead email filter): :func:`filter_email_countries` defaults to the
  working higher-order ``exists``+``rlike`` form (SURVEY P8).
- null-safety: negated sentinel filters coalesce NULL comparisons to
  False, so NULL-bearing rows are not silently dropped by three-valued
  logic (the reference's ``subtract`` form keeps them; a naive ``~cond``
  filter would not).

Scale notes: every filter here is a plain predicate the parquet scan can
push down; the scrub loop is a per-column ``regexp_replace`` (no UDF, no
shuffle); country canonicalization embeds the alias dimension as a
literal map in the plan — the broadcast-equivalent for a bounded alias
list — so it costs zero shuffles at any scale.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Email regex from the reference (DB/ETL.ipynb cell 22, raw 777).
EMAIL_PATTERN = r"^[\w\.-]+@[\w\.-]+\.\w+$"

#: Character-class scrub from the reference (cell 25, raw 852): keep
#: letters (incl. Latin-1 accents), digits, whitespace, apostrophe, dash.
SCRUB_PATTERN = r"[^A-Za-zÀ-ÿ0-9\s'-]"

#: Date sentinel strings emitted by the scrapers on extraction failure
#: (ScienceDirect/ScienceDirect.py:327-336; filtered at ETL cell 14).
DATE_SENTINELS = {
    "Date": "Date not found",
    "Year": "Year not found",
    "Day": "Day not found",
    "Month": "Month not found",
}

#: Minimal country-alias dimension for canonicalization (SURVEY F9/F10).
#: The reference uses ``pycountry.countries.lookup`` (ETL cell 20, raw
#: 659-688) — a static lookup table — which we materialize as data. This
#: ships the aliases that actually occur in the reference's scraped data;
#: callers pass their own mapping to extend it.
COUNTRY_ALIASES: dict[str, str] = {
    "USA": "United States",
    "U.S.A.": "United States",
    "US": "United States",
    "UK": "United Kingdom",
    "U.K.": "United Kingdom",
    "England": "United Kingdom",
    "South Korea": "Korea, Republic of",
    "Republic of Korea": "Korea, Republic of",
    "Korea": "Korea, Republic of",
    "Russia": "Russian Federation",
    "Iran": "Iran, Islamic Republic of",
    "Vietnam": "Viet Nam",
    "Taiwan": "Taiwan, Province of China",
    "Czech Republic": "Czechia",
    "Turkey": "Türkiye",
    "PR China": "China",
    "P.R. China": "China",
}


def _false_if_null(cond: Column) -> Column:
    """Three-valued-logic guard: treat NULL comparison results as False so
    ``~cond`` keeps NULL-bearing rows (matching the reference's subtract
    semantics, where unmatched rows survive)."""
    return F.coalesce(cond, F.lit(False))


def filter_publisher_sentinels(df: DataFrame) -> DataFrame:
    """Drop rows whose enrichment failed (SURVEY P3+P4).

    Reference: ETL cell 13 (raw 382-399) — ``publisher.ISSN`` null, name
    ``""``, ISSN ``"N/A"``, Quartile ``""`` all mark a failed SCImago
    lookup. Plain pushdown-able predicates.
    """
    return df.filter(
        F.col("publisher.ISSN").isNotNull()
        & (F.col("publisher.name") != "")
        & (F.col("publisher.ISSN") != "N/A")
        & (F.col("publisher.Quartile") != "")
    )


def filter_date_sentinels(df: DataFrame, parity: bool = False) -> DataFrame:
    """Drop rows carrying any date sentinel string (SURVEY P5).

    Reference: ETL cell 14 (raw 423-434) selects the sentinel rows then
    ``subtract``s them — an EXCEPT, which as a side effect also
    deduplicates the surviving rows. ``parity=True`` reproduces that
    exact shape (one extra shuffle); the default is the direct negated
    filter (no shuffle, same rows modulo the accidental dedup).
    """
    # Only string columns can carry a sentinel: on an already-typed
    # frame (Day/Year as int) the equality would ANSI-cast the sentinel
    # literal to a number and throw — skip those columns instead.
    string_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    }
    sentinel = None
    for col, value in DATE_SENTINELS.items():
        if col not in string_cols:
            continue
        cond = _false_if_null(F.col(col) == value)
        sentinel = cond if sentinel is None else (sentinel | cond)
    if sentinel is None:
        return df
    if parity:
        return df.subtract(df.filter(sentinel))
    return df.filter(~sentinel)


def drop_null_citations(df: DataFrame) -> DataFrame:
    """NaN/null drop (SURVEY P6). Reference: ETL cell 15 (raw 477)
    ``dropna(subset=['citations'])``."""
    return df.na.drop(subset=["citations"])


def filter_empty_arrays(df: DataFrame, cols: Iterable[str] = ("authors_with_affiliations", "authors")) -> DataFrame:
    """Drop rows where any of ``cols`` is an empty/null array (SURVEY P7).
    Reference: ETL cells 16-17 (raw 523, 569)."""
    out = df
    for c in cols:
        out = out.filter(F.size(F.col(c)) > 0)  # size(NULL) = -1 → dropped
    return out


def filter_email_countries(df: DataFrame, parity: bool = False) -> DataFrame:
    """Drop rows whose ``countries`` array contains an email (SURVEY P8).

    The reference's version (ETL cell 22, raw 779) is dead code — quirk
    Q5: ``array_contains(col, pattern)`` compares each element for
    *equality with the regex string*, matching nothing. ``parity=True``
    reproduces that no-op exactly; the default is the working
    higher-order ``exists`` + ``rlike`` form.
    """
    if parity:
        return df.filter(~F.array_contains(F.col("countries"), EMAIL_PATTERN))
    has_email = F.exists(F.col("countries"), lambda x: x.rlike(EMAIL_PATTERN))
    return df.filter(~_false_if_null(has_email))


def filter_email_affiliations(df: DataFrame) -> DataFrame:
    """Remove affiliation entries whose country is an email (SURVEY P9).

    Reference: ETL cell 22 (raw 782-784) — the working higher-order array
    filter (``x.country not rlike pattern``). NULL countries produce a
    NULL predicate and are dropped by the filter, matching the reference
    expression exactly. Uses the Python HOF API rather than ``F.expr``:
    a regex embedded in a SQL string literal gets its backslash escapes
    mangled by the parser (``\\w`` → ``w``), silently weakening the
    pattern — the lambda form passes the pattern verbatim.
    """
    return df.withColumn(
        "authors_with_affiliations",
        F.filter(
            F.col("authors_with_affiliations"),
            lambda x: ~x["country"].rlike(EMAIL_PATTERN),
        ),
    )


def _alias_map() -> Column:
    pairs: list[Column] = []
    for k, v in COUNTRY_ALIASES.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


def canonicalize_countries(df: DataFrame) -> DataFrame:
    """Canonicalize country names in an array column (SURVEY F9).

    Reference: ETL cell 20 (raw 659-688) — a row-at-a-time Python UDF
    over ``pycountry``. pycountry is a static lookup table, so the
    idiomatic-Spark form is data, not code: the alias dimension becomes a
    literal map in the plan (broadcast-equivalent, zero shuffle) and the
    per-element lookup is a JVM ``transform`` — unknown names pass
    through unchanged, like the reference's ``LookupError`` fallback.
    """
    amap = _alias_map()
    return df.withColumn(
        "countries",
        F.transform(F.col("countries"), lambda x: F.coalesce(amap[x], x)),
    )


def canonicalize_affiliation_countries(df: DataFrame) -> DataFrame:
    """Same canonicalization inside the array-of-struct column (SURVEY
    F10). Reference: ETL cell 21 (raw 720-763) — UDF with an explicit
    return schema; here a ``transform`` rebuilding the struct in place.
    Field order follows the reference's declared schema (raw 752-757).
    """
    amap = _alias_map()
    return df.withColumn(
        "authors_with_affiliations",
        F.transform(
            F.col("authors_with_affiliations"),
            lambda x: F.struct(
                x["author"].alias("author"),
                F.coalesce(amap[x["country"]], x["country"]).alias("country"),
                x["location"].alias("location"),
                x["university"].alias("university"),
            ),
        ),
    )


def scrub_string_columns(df: DataFrame) -> DataFrame:
    """Character-class scrub over every top-level string column (SURVEY
    F8). Reference: ETL cell 25 (raw 846-868) — a Python UDF applied in a
    loop over string dtypes; here the same loop emits ``regexp_replace``
    expressions (one projection, full codegen, no UDF). Newlines are
    stripped after the class scrub, mirroring the reference's second
    ``replace('\\n', '')`` step (the class keeps ``\\s``, so it is not
    redundant). Only top-level strings are touched, as in the reference —
    strings nested in arrays/structs pass through.
    """
    out = df
    for field in df.schema.fields:
        if isinstance(field.dataType, T.StringType):
            out = out.withColumn(
                field.name,
                F.regexp_replace(
                    F.regexp_replace(F.col(field.name), SCRUB_PATTERN, ""), r"\n", ""
                ),
            )
    return out


def repair_mojibake(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """Repair latin1-as-utf8 mojibake (SURVEY F6; quirk Q6).

    Reference: ScienceDirect/ScienceDirect.py:150-156 ``decode_text`` —
    ``s.encode('latin1').decode('utf-8')`` with pass-through on failure.
    A binary re-decode is not expressible in SQL functions, so this is
    the engine's one sanctioned Python hot-path: an Arrow-vectorized
    ``pandas_udf`` (batch transfer, ~10-100x over row-at-a-time), defined
    in functions/udfs.py. Apply AFTER filters so scan pushdown is
    unaffected.
    """
    from scraping_etl_spark.functions.udfs import fix_mojibake

    udf = fix_mojibake()
    out = df
    for c in cols:
        out = out.withColumn(c, udf(F.col(c)))
    return out


def compat_unicode_escape(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """F7 (compat flag, default-off path): apply the reference's
    unicode-escape "sanitize" to ``cols`` for byte-parity replays. The
    default pipeline never calls this — the round-trip is quirk Q6's
    mojibake source; :func:`repair_mojibake` (F6) is the fix."""
    from scraping_etl_spark.functions.udfs import sanitize_unicode_escape

    udf = sanitize_unicode_escape()
    out = df
    for c in cols:
        out = out.withColumn(c, udf(F.col(c)))
    return out
