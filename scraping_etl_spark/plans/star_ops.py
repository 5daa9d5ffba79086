"""End-to-end star-schema pipeline driver gate (round 9).

The engine's core ETL story — ``etl/star_schema.build_star``: clean →
dims with deterministic keys → fact → bridges, reference quirks
Q1-Q8 fixed — was pytest/reconcile-gated but had no driver row
composing it over the scale tables (the r8 verdict's brief #6). This
module closes that: a deterministic article-shaped frame is
synthesized from the ``documents`` scale table (every cleaning branch
planted: publisher/date sentinels, null citations, empty arrays,
email-poisoned countries and affiliations, alias-mapped countries,
scrub-removable junk), the FULL fixed-mode pipeline runs, and all nine
outputs collapse to one canonical rollup row each —
``(tbl, n_rows, n_keys, checksum)`` — so a single driver row
hash-checks the whole composition.

Surrogate keys are ``xxhash64`` (partition-stable but not
DuckDB-reproducible), so rollup checksums run over NATURAL keys; the
bridge/fact row counts still pin one row per article and per edge
(any fan-out or drop is a count mismatch). Checksums are
``sum(md5-bigint % 1e9+7)`` over a canonical ``concat_ws`` string —
the ``md5_bucket`` conv trick (corpus_prep.py:668), mod-bounded so the
sum can't overflow BIGINT on either engine.

Reference anchor: DB/ETL.ipynb cells 13-45 (the full notebook ETL) —
this gate is its one-query composition over the scale tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scraping_etl_spark.etl import star_schema as SS
from scraping_etl_spark.sources.readers import load_table

_MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)

#: Country pools — first pool exercises the alias map end-to-end
#: (canonicalize_affiliation_countries), second is the countries-array
#: pool for the email filter path.
_AFF_COUNTRIES = ("Korea", "Vietnam", "Germany", "Taiwan")
_AFF_CANON = (
    "Korea, Republic of", "Viet Nam", "Germany", "Taiwan, Province of China",
)
_ARR_COUNTRIES = ("USA", "UK", "China", "Brazil", "US", "Japan")

_CHECK_MOD = 1_000_000_007


def synth_articles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Article-shaped raw frame derived deterministically from the
    ``documents`` scale table. Planted hazards (m = doc_id):

    - ``m%13 ∈ {0,1}``: ISSN 'N/A' / NULL (publisher sentinel)
    - ``m%19 == 0`` / ``m%23 == 0``: empty publisher name / Quartile
    - ``m%29 == 0`` / ``m%31 == 0``: Date / Month sentinel strings
    - ``m%17 == 0``: NULL citations
    - ``m%11 == 0`` / ``m%41 == 0``: empty affiliation / author arrays
    - ``m%37 == 0``: email in the countries array (row dropped)
    - ``m%3 == 0``: email-countried affiliation ELEMENT (element
      removed, row survives)
    - ``m%7 == 0``: scrub-removable junk appended to the title
    """
    d = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    months = F.array(*[F.lit(x) for x in _MONTHS])
    monthname = F.element_at(months, (m % 12 + 1).cast("int"))
    day, year = m % 28 + 1, m % 25 + 2000
    aff1 = F.struct(
        F.concat(F.lit("au"), s(m % 50)).alias("author"),
        F.element_at(
            F.array(*[F.lit(x) for x in _AFF_COUNTRIES]), (m % 4 + 1).cast("int")
        ).alias("country"),
        F.concat(F.lit("L"), s(m % 3)).alias("location"),
        F.concat(F.lit("U"), s(m % 20)).alias("university"),
    )
    aff_email = F.struct(
        F.concat(F.lit("au2-"), s(m % 50)).alias("author"),
        F.lit("x@y.com").alias("country"),
        F.lit("L9").alias("location"),
        F.concat(F.lit("U"), s(m % 20)).alias("university"),
    )
    aff2 = F.struct(
        F.concat(F.lit("au"), s((m + 1) % 50)).alias("author"),
        F.lit("India").alias("country"),
        F.lit("L2").alias("location"),
        F.concat(F.lit("U"), s((m + 3) % 20)).alias("university"),
    )
    empty_aff = F.array().cast(
        "array<struct<author:string,country:string,location:string,university:string>>"
    )
    return d.select(
        m.alias("m"),
        F.concat(F.lit("d"), s(m)).alias("doi"),
        F.concat(
            F.lit("T"),
            F.substring("text", 1, 16),
            F.when(m % 7 == 0, F.lit("#!")).otherwise(F.lit("")),
        ).alias("title"),
        F.substring("text", 1, 64).alias("abstract"),
        F.when(m % 17 == 0, F.lit(None).cast("long")).otherwise(m % 100).alias(
            "citations"
        ),
        F.struct(
            F.when(m % 13 == 0, F.lit("N/A"))
            .when(m % 13 == 1, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("IS"), s(m % 40)))
            .alias("ISSN"),
            F.when(m % 19 == 0, F.lit(""))
            .otherwise(F.concat(F.lit("Pub"), s(m % 7)))
            .alias("name"),
            F.when(m % 23 == 0, F.lit(""))
            .otherwise(F.concat(F.lit("Q"), s(m % 4 + 1)))
            .alias("Quartile"),
        ).alias("publisher"),
        F.when(m % 29 == 0, F.lit("Date not found"))
        .otherwise(F.concat(s(day), F.lit(" "), monthname, F.lit(" "), s(year)))
        .alias("Date"),
        s(day).alias("Day"),
        F.when(m % 31 == 0, F.lit("Month not found"))
        .otherwise(monthname)
        .alias("Month"),
        s(year).alias("Year"),
        F.col("source").alias("website"),
        F.concat(F.col("lang"), F.lit("-"), s(m % 5)).alias("topic"),
        F.when(
            m % 37 == 0,
            F.array(
                F.element_at(
                    F.array(*[F.lit(x) for x in _ARR_COUNTRIES]),
                    (m % 6 + 1).cast("int"),
                ),
                F.lit("France"),
                F.lit("bad@ex.com"),
            ),
        )
        .otherwise(
            F.array(
                F.element_at(
                    F.array(*[F.lit(x) for x in _ARR_COUNTRIES]),
                    (m % 6 + 1).cast("int"),
                ),
                F.lit("France"),
            )
        )
        .alias("countries"),
        F.when(m % 11 == 0, empty_aff)
        .when(m % 3 == 0, F.array(aff1, aff_email))
        .when(m % 3 == 1, F.array(aff1, aff2))
        .otherwise(F.array(aff1))
        .alias("authors_with_affiliations"),
        F.when(m % 41 == 0, F.array().cast("array<string>"))
        .otherwise(F.array(F.concat(F.lit("au"), s(m % 50))))
        .alias("authors"),
        F.array(
            F.col("lang"),
            F.concat(F.lit("k"), s(m % 30)),
            F.concat(F.lit("k"), s(m % 12)),
        ).alias("keywords"),
    ).drop("m")


def _md5_term(nat: F.Column) -> F.Column:
    h = F.conv(F.substring(F.md5(nat), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(_CHECK_MOD))


def _rollup(df: DataFrame, name: str, nat: F.Column, key: F.Column) -> DataFrame:
    # global agg (one row even on empty input), table label attached
    # after so no grouping column is needed
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(key).alias("n_keys"),
        F.coalesce(F.sum(_md5_term(nat)), F.lit(0)).cast("long").alias("checksum"),
    ).select(F.lit(name).alias("tbl"), "n_rows", "n_keys", "checksum")


def q_star_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole fixed-mode star build as ONE driver row per output
    table. Natural-key checksums; bridge/fact cardinalities pin the
    surrogate keys (any fan-out, drop, or dedup regression moves a
    count).

    ``build_star`` materializes the cleaned relation once, so this
    gate's nine rollup branches share one corpus scan instead of
    re-running the cleaning chain per branch, and the fixed-mode fact and bridges hash their keys in place
    instead of joining back to the dims."""
    star = SS.build_star(synth_articles(spark, sf_dir))
    cw = lambda *cols: F.concat_ws("|", *cols)  # noqa: E731
    parts = [
        _rollup(
            star["clean"], "clean",
            cw("doi", "title", "website", F.col("citations").cast("string")),
            F.col("doi"),
        ),
        _rollup(
            star["publishers"], "publishers",
            cw("ISSN", "Name", "Quartile"), F.col("ISSN"),
        ),
        _rollup(star["topics"], "topics", F.col("Topic"), F.col("Topic")),
        _rollup(
            star["dates"], "dates",
            cw("PublicationDate", "Day", "Month", "Year"),
            F.col("PublicationDate"),
        ),
        _rollup(star["keywords"], "keywords", F.col("Keyword"), F.col("Keyword")),
        _rollup(
            star["authors"], "authors",
            cw("FullName", "Country", "University"), F.col("FullName"),
        ),
        _rollup(
            star["articles"], "articles",
            cw("DOI", "ISSN", "Title", F.col("Citations").cast("string")),
            F.col("DOI"),
        ),
        _rollup(star["author_article_map"], "author_article_map",
                F.col("DOI"), F.col("DOI")),
        _rollup(star["keyword_article_map"], "keyword_article_map",
                F.col("DOI"), F.col("DOI")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("tbl")


_MONTH_SQL = "['" + "', '".join(_MONTHS) + "']"
_AFFC_SQL = "['" + "', '".join(_AFF_CANON) + "']"

#: The oracle replays the synthesis + every cleaning effect + dim/fact
#: builds relationally: survivors = the planted drop conditions,
#: affiliation/keyword explodes as UNION ALL branches, the per-ISSN
#: dedup as a row_number pick. Checksums use the identical
#: md5-conv-mod fold.
ORACLE_STAR_PIPELINE = f"""
WITH base AS (
  SELECT doc_id AS m, text, lang, source FROM documents
),
surv AS (
  SELECT m,
         'd' || CAST(m AS VARCHAR) AS doi,
         'T' || substr(text, 1, 16) AS title,
         m % 100 AS citations,
         'IS' || CAST(m % 40 AS VARCHAR) AS issn,
         'Pub' || CAST(m % 7 AS VARCHAR) AS pname,
         'Q' || CAST(m % 4 + 1 AS VARCHAR) AS quart,
         CAST(m % 28 + 1 AS VARCHAR) || ' ' || {_MONTH_SQL}[CAST(m % 12 + 1 AS INTEGER)]
            || ' ' || CAST(m % 25 + 2000 AS VARCHAR) AS date_s,
         CAST(m % 28 + 1 AS VARCHAR) AS day_s,
         {_MONTH_SQL}[CAST(m % 12 + 1 AS INTEGER)] AS month_s,
         CAST(m % 25 + 2000 AS VARCHAR) AS year_s,
         source AS website,
         lang || '-' || CAST(m % 5 AS VARCHAR) AS topic,
         lang
  FROM base
  WHERE m % 13 NOT IN (0, 1)  -- publisher ISSN sentinel / NULL
    AND m % 19 <> 0           -- empty publisher name
    AND m % 23 <> 0           -- empty Quartile
    AND m % 29 <> 0           -- Date sentinel
    AND m % 31 <> 0           -- Month sentinel
    AND m % 17 <> 0           -- NULL citations
    AND m % 11 <> 0           -- empty affiliation array
    AND m % 41 <> 0           -- empty authors array
    AND m % 37 <> 0           -- email in countries array
),
aff AS (  -- post-clean affiliation elements (email element removed)
  SELECT m, doi,
         'au' || CAST(m % 50 AS VARCHAR) AS FullName,
         {_AFFC_SQL}[CAST(m % 4 + 1 AS INTEGER)] AS Country,
         'U' || CAST(m % 20 AS VARCHAR) AS University
  FROM surv
  UNION ALL
  SELECT m, doi, 'au' || CAST((m + 1) % 50 AS VARCHAR), 'India',
         'U' || CAST((m + 3) % 20 AS VARCHAR)
  FROM surv WHERE m % 3 = 1
),
kw AS (
  SELECT m, doi, lang AS Keyword FROM surv
  UNION ALL SELECT m, doi, 'k' || CAST(m % 30 AS VARCHAR) FROM surv
  UNION ALL SELECT m, doi, 'k' || CAST(m % 12 AS VARCHAR) FROM surv
),
pub0 AS (SELECT DISTINCT issn, pname, quart FROM surv),
pub AS (
  SELECT issn, pname, quart FROM (
    SELECT issn, pname, quart,
           row_number() OVER (PARTITION BY issn ORDER BY pname, quart) AS rn
    FROM pub0
  ) WHERE rn = 1
),
dates AS (SELECT DISTINCT date_s, day_s, month_s, year_s FROM surv),
topics AS (SELECT DISTINCT topic FROM surv),
kwdim AS (SELECT DISTINCT Keyword FROM kw),
audim AS (SELECT DISTINCT FullName, Country, University FROM aff),
chk AS (
  SELECT 'clean' AS tbl, COUNT(*) AS n_rows, COUNT(DISTINCT doi) AS n_keys,
         CAST(COALESCE(SUM(('0x' || substr(md5(doi || '|' || title || '|' ||
            website || '|' || CAST(citations AS VARCHAR)), 1, 15))::BIGINT
            % {_CHECK_MOD}), 0) AS BIGINT) AS checksum
  FROM surv
  UNION ALL
  SELECT 'publishers', COUNT(*), COUNT(DISTINCT issn),
         CAST(COALESCE(SUM(('0x' || substr(md5(issn || '|' || pname || '|' ||
            quart), 1, 15))::BIGINT % {_CHECK_MOD}), 0) AS BIGINT)
  FROM pub
  UNION ALL
  SELECT 'topics', COUNT(*), COUNT(DISTINCT topic),
         CAST(COALESCE(SUM(('0x' || substr(md5(topic), 1, 15))::BIGINT
            % {_CHECK_MOD}), 0) AS BIGINT)
  FROM topics
  UNION ALL
  SELECT 'dates', COUNT(*), COUNT(DISTINCT date_s),
         CAST(COALESCE(SUM(('0x' || substr(md5(date_s || '|' || day_s || '|' ||
            month_s || '|' || year_s), 1, 15))::BIGINT % {_CHECK_MOD}), 0)
            AS BIGINT)
  FROM dates
  UNION ALL
  SELECT 'keywords', COUNT(*), COUNT(DISTINCT Keyword),
         CAST(COALESCE(SUM(('0x' || substr(md5(Keyword), 1, 15))::BIGINT
            % {_CHECK_MOD}), 0) AS BIGINT)
  FROM kwdim
  UNION ALL
  SELECT 'authors', COUNT(*), COUNT(DISTINCT FullName),
         CAST(COALESCE(SUM(('0x' || substr(md5(FullName || '|' || Country ||
            '|' || University), 1, 15))::BIGINT % {_CHECK_MOD}), 0) AS BIGINT)
  FROM audim
  UNION ALL
  SELECT 'articles', COUNT(*), COUNT(DISTINCT doi),
         CAST(COALESCE(SUM(('0x' || substr(md5(doi || '|' || issn || '|' ||
            title || '|' || CAST(citations AS VARCHAR)), 1, 15))::BIGINT
            % {_CHECK_MOD}), 0) AS BIGINT)
  FROM surv
  UNION ALL
  SELECT 'author_article_map', COUNT(*), COUNT(DISTINCT doi),
         CAST(COALESCE(SUM(('0x' || substr(md5(doi), 1, 15))::BIGINT
            % {_CHECK_MOD}), 0) AS BIGINT)
  FROM aff
  UNION ALL
  SELECT 'keyword_article_map', COUNT(*), COUNT(DISTINCT doi),
         CAST(COALESCE(SUM(('0x' || substr(md5(doi), 1, 15))::BIGINT
            % {_CHECK_MOD}), 0) AS BIGINT)
  FROM kw
)
SELECT tbl, n_rows, n_keys, checksum FROM chk ORDER BY tbl
"""
